package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

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
  * with its relation.
  */
class StagedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every registered relation's staged copies under `dir`. */
  private def all(dir: String): Map[String, Seq[DataFrame]] =
    Staged.names.map(n => n -> Staged.rounds(spark, dir, n)).toMap

  /** Builds registry query `name` over `dir` twice and returns whether
    * its plan is kept. */
  private def keptAfterTwoCalls(dir: String, name: String): Boolean = {
    SparkEntry.queries(name)(spark, dir)
    SparkEntry.queries(name)(spark, dir)
    Staged.kept(spark, dir, name).exists(_.isRight)
  }

  /** The relations `after` still serves as the same instances as `before`. */
  private def reused(before: Map[String, Seq[DataFrame]],
                     after: Map[String, Seq[DataFrame]]): Seq[String] =
    Staged.names.filter(n =>
      before(n).zip(after(n)).exists { case (a, b) => a eq b })

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
    assert(Staged.kept(spark, out, "token_topk").isEmpty,
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
    def rows = Staged.rows(spark, TestSpark.Sf, "buckets")
    val n = rows
    assert(n === Staged.rounds(spark, TestSpark.Sf, "buckets").last.count())
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
    assert(Staged.kept(spark, TestSpark.Sf, "token_topk").isEmpty,
      "query plan survived application end")
    val kept = reused(first, all(TestSpark.Sf))
    assert(kept.isEmpty,
      s"staged entries survived application end — session retained: $kept")
    Staged.invalidate() // leave a clean slate for peer suites
  }
}
