package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD,
  RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ChangeLog, Dedup}

import graft.TestSpark.jobsDuring

/** Pins the [[Staged]] invalidation contract at the one call site that
  * rewrites parquet in-place within a session: [[AmplifyCorpus.amplify]]
  * over an output dir that may already be staged. Without the
  * `Staged.invalidate()` in the write path, the second stage lookup
  * below would serve the k=2 corpus (localCheckpoint blocks outlive the
  * files they were built from) and the distinct-doc count would not
  * move — i.e. the amplify lane's parity run would silently verify
  * stale data unless launched in a fresh JVM. The invalidation and
  * eviction tests run over every registered relation and also pin that
  * the query plans [[Staged.query]] keeps are dropped with them; the
  * row-count test pins that [[Staged.rows]] counts once and is dropped
  * with its relation. The change-log tests pin, by plan-node counts,
  * that the staged `changelog` keeps the layout and the size estimate
  * of its build, so its consumers plan no shuffle or sort of their own,
  * and that staging it writes no session conf.
  */
class StagedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every registered relation's staged copies under `dir`. */
  private def all(dir: String): Map[String, Seq[DataFrame]] =
    Staged.names.map(n => n -> Staged.rounds(Corpus(spark, dir), n)).toMap

  /** Builds registry query `name` over `dir` twice and returns whether
    * its plan is kept. */
  private def keptAfterTwoCalls(dir: String, name: String): Boolean = {
    SparkEntry.queries(name)(spark, dir)
    SparkEntry.queries(name)(spark, dir)
    Staged.kept(Corpus(spark, dir), name).exists(_.isRight)
  }

  /** The relations `after` still serves as the same instances as `before`. */
  private def reused(before: Map[String, Seq[DataFrame]],
                     after: Map[String, Seq[DataFrame]]): Seq[String] =
    Staged.names.filter(n =>
      before(n).zip(after(n)).exists { case (a, b) => a eq b })

  /** The plan AQE starts `df` from, with its exchanges and sorts in. */
  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def exchanges(p: SparkPlan): Seq[Exchange] =
    p.collectWithSubqueries { case e: Exchange => e }

  private def stagedChangelog: DataFrame = {
    Staged.rows(Corpus(spark, TestSpark.Sf), "changelog")
    Staged.changelog(Corpus(spark, TestSpark.Sf))
  }

  test("the staged changelog declares its build's hash partitioning on " +
    "user_id and its (user_id, ems, event_id) order, and keeps the " +
    "unstaged size estimate") {
    // other suites cache the unstaged change log, and a materialized
    // cache is estimated at its stored size: stage afresh, so the staged
    // copy and the unstaged plan are estimated over the same cache
    Staged.invalidate()
    val staged = stagedChangelog
    val leaf = staged.queryExecution.analyzed match {
      case r: LogicalRDD => r
      case p => fail(s"not one staged leaf:\n$p")
    }
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    leaf.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), `n`) =>
        assert(a.name === "user_id")
      case p => fail(s"staged changelog declares $p")
    }
    assert(leaf.outputOrdering.map(o => (o.child, o.direction)).collect {
      case (a: Attribute, Ascending) => a.name
    } === Seq("user_id", "ems", "event_id"))
    val unstaged = ChangeLog.normalize(Corpus(spark, TestSpark.Sf).events)
    assert(staged.queryExecution.optimizedPlan.stats.sizeInBytes ===
      unstaged.queryExecution.optimizedPlan.stats.sizeInBytes)
  }

  test("change-log consumers keyed on user_id plan no exchange and no " +
    "sort, and cdc_upsert_apply exchanges only the customer side") {
    stagedChangelog
    for (q <- Seq("cdc_merge", "scd2_history", "sessionize", "event_gaps",
        "blocked_chain")) {
      val p = initialPlan(SparkEntry.queries(q)(spark, TestSpark.Sf))
      assert(exchanges(p).isEmpty, s"$q exchanges:\n$p")
      assert(p.collectWithSubqueries { case s: SortExec => s }.isEmpty,
        s"$q sorts:\n$p")
    }
    val p = initialPlan(SparkEntry.queries("cdc_upsert_apply")(
      spark, TestSpark.Sf))
    assert(exchanges(p).nonEmpty, s"no exchange:\n$p")
    for (e <- exchanges(p)) {
      assert(e.collect { case s: RDDScanExec => s }.isEmpty,
        s"an exchange reads the staged changelog:\n$p")
      assert(e.collect { case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName) }.flatten ===
        Seq("customer.parquet"), s"an exchange reads no customer scan:\n$p")
    }
  }

  test("staging the changelog and building its consumers writes no " +
    "session conf, apart from the nanosAsLong that reading events sets") {
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    def conf = spark.conf.getAll - nanos
    Staged.invalidate()
    val before = conf
    val c = Corpus(spark, TestSpark.Sf)
    Staged.rows(c, "changelog")
    for (q <- Seq("cdc_merge", "cdc_upsert_apply", "scd2_history",
        "sessionize", "event_gaps", "blocked_chain", "sync_state"))
      SparkEntry.queries(q)(spark, TestSpark.Sf)
    Pipeline.run(c)
    assert(conf === before)
  }

  test("in-place re-amplify invalidates staged relations (no fresh JVM)") {
    val out = java.nio.file.Files.createTempDirectory("graft-amp").toString
    val base = TestSpark.Sf

    AmplifyCorpus.amplify(spark, base, out, 2)
    val docs2 = Staged.tokens(spark, out).tokens
      .select("doc_id").distinct().count()
    val sh2 = Staged.dedup(spark, out).sh.count()
    val k2 = all(out)
    assert(reused(k2, all(out)) === Staged.names, "cache miss?")
    assert(keptAfterTwoCalls(out, "token_topk"), "query plan not kept?")

    // in-place rewrite of the SAME dir at a larger k
    AmplifyCorpus.amplify(spark, base, out, 3)
    assert(Staged.kept(Corpus(spark, out), "token_topk").isEmpty,
      "query plan kept across the rewrite's invalidate()")
    assert(reused(k2, all(out)).isEmpty,
      "relations served across the rewrite's invalidate()")
    val docs3 = Staged.tokens(spark, out).tokens
      .select("doc_id").distinct().count()
    val sh3 = Staged.dedup(spark, out).sh.count()

    assert(docs2 % 2 == 0 && docs3 == docs2 / 2 * 3,
      s"staged tokens served stale corpus: k=2 docs=$docs2, k=3 docs=$docs3")
    assert(sh3 > sh2,
      s"staged shingle relation served stale corpus: k=2 sh=$sh2, k=3 sh=$sh3")
  }

  test("the (session, dir) views and the query registry share one " +
    "staged copy: dedup_minhash reads the RDDs Staged.dedup staged, and " +
    "launches no job while it is built") {
    def rdds(df: DataFrame): Set[Int] = df.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd.id }.toSet
    val verified = Staged.dedup(spark, TestSpark.Sf).verified
    val n = verified.where(col("j_milli") >= Dedup.JaccardMilli).count()
    var q: DataFrame = null
    assert(jobsDuring {
      q = SparkEntry.queries("dedup_minhash")(spark, TestSpark.Sf)
    } === 0, "jobs while dedup_minhash was built")
    assert(rdds(verified).nonEmpty)
    assert(rdds(q) === rdds(verified), "dedup_minhash read another copy")
    assert(q.count() === n)
  }

  test("reliable staging (spark.graft.staged.reliable) writes to the " +
    "checkpoint dir and returns identical relations") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    val before = Staged.tokens(spark, TestSpark.Sf).freq.count()
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    spark.conf.set(Staged.ReliableKey, "true")
    try {
      Staged.invalidate() // force a rebuild through the reliable path
      val freq = Staged.tokens(spark, TestSpark.Sf).freq
      assert(freq.count() === before) // same relation either way
      // materialization must have landed in the reliable checkpoint dir
      val files = java.nio.file.Files.walk(ckpt).iterator()
      var n = 0
      while (files.hasNext) { files.next(); n += 1 }
      assert(n > 1, s"no reliable checkpoint data under $ckpt")
    } finally {
      spark.conf.set(Staged.ReliableKey, "false")
      Staged.invalidate() // don't leak reliable relations to other suites
    }
  }

  test("rows counts a staged relation once: a second request launches " +
    "no job, and invalidate() and application end each drop the count") {
    def rows = Staged.rows(Corpus(spark, TestSpark.Sf), "buckets")
    val n = rows
    assert(n === Staged.rounds(Corpus(spark, TestSpark.Sf), "buckets").last.count())
    assert(jobsDuring(assert(rows === n)) === 0, "counted twice")
    Staged.invalidate()
    assert(jobsDuring(assert(rows === n)) > 0, "count survived invalidate()")
    assert(jobsDuring(rows) === 0)
    org.apache.spark.GraftTestBridge.post(spark.sparkContext,
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    assert(jobsDuring(assert(rows === n)) > 0,
      "count survived application end")
    Staged.invalidate() // leave a clean slate for peer suites
  }

  test("application end evicts a session's staged entries (no pinned " +
    "block-manager memory past the session's life)") {
    // same (session, dir) lookup twice → the cached instances; after the
    // application-end listener fires, every next lookup must REBUILD
    // (fresh instance), proving the cache no longer retains the session,
    // and the session's resolved tables must be gone too
    val first = all(TestSpark.Sf)
    assert(reused(first, all(TestSpark.Sf)) === Staged.names, "cache miss?")
    def tables = Tables.resolved.keys.filter(_._1 eq spark).map(_._2)
    assert(tables.nonEmpty, "no resolved table to evict?")
    assert(keptAfterTwoCalls(TestSpark.Sf, "token_topk"),
      "query plan not kept?")
    org.apache.spark.GraftTestBridge.post(spark.sparkContext,
      org.apache.spark.scheduler.SparkListenerApplicationEnd(0L))
    org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    assert(tables.isEmpty,
      s"resolved tables survived application end: $tables")
    assert(Staged.kept(Corpus(spark, TestSpark.Sf), "token_topk").isEmpty,
      "query plan survived application end")
    val kept = reused(first, all(TestSpark.Sf))
    assert(kept.isEmpty,
      s"staged entries survived application end — session retained: $kept")
    Staged.invalidate() // leave a clean slate for peer suites
  }
}
