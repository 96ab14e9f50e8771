package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.{Analytics, Dedup, Multimodal, Similarity, Snapshot,
  Spread, TextAnalysis}

/** Session-scoped staged relations — the production shape of "the
  * signature table is a staged table" (Dedup scaladoc): the expensive
  * corpus intermediates that several consumer queries share are built
  * ONCE per [[Corpus]] and every consumer reads the staged
  * copy. At 100 TB this is the difference between one corpus shuffle
  * feeding ten reports and ten corpus shuffles.
  *
  * The registry contract: [[registry]] declares every staged relation
  * exactly once, as (name, nestedLoopOk, build). A build returns the
  * relation's plan; every input it reads through the registry
  * (`in("sh")`) is that relation's staged copy, so a dependency IS a
  * registry lookup and there is no separate dependency list to drift.
  * A Lloyd training chain is one entry whose build runs `rounds` times,
  * each round over the staged previous round (`in.prev`). Everything
  * else derives from the list: the lazy per-relation cache, eviction at
  * application end, [[invalidate]], the audit plans ([[auditPlans]] →
  * PlanAudit, PlanSpec, PLANS.md's STAGED-PLANS table) and Bench's
  * per-relation materialization. The family views below ([[dedup]],
  * [[tokens]], [[ann]], [[images]], [[catalog]], [[baskets]]) are named
  * lookups into the same registry.
  *
  * Staging is lazy (`localCheckpoint(eager = false)`): a relation is
  * built on its first lookup and materialized into the block manager
  * (memory+disk) by the first ACTION on any consumer; later consumers
  * read the materialized copy. Results are identical to the standalone
  * operator forms — the staged relations are the very intermediates
  * those forms build internally, so the DuckDB oracles are unchanged.
  *
  * Cluster caveat: localCheckpoint is NOT fault-tolerant — its blocks
  * live in executor storage, so losing an executor after
  * materialization breaks every later consumer of the staged relations
  * for the rest of the session. For long-lived multi-tenant cluster
  * deployments set `spark.graft.staged.reliable=true` (and a
  * `SparkContext.setCheckpointDir` on HDFS/object store): every staged
  * relation then uses reliable `checkpoint()` — the plan shape and the
  * consumers are unchanged, executor loss costs a re-read instead of
  * the session.
  *
  * [[rows]] is a relation's exact row count, taken once per corpus
  * and kept beside the staged copy: a build may choose its plan by
  * it (training_pipeline drops its over-full re-pairing when the staged
  * `overfull` is empty) without a job on every call.
  *
  * [[query]] keeps each registry query's analyzed plan beside the
  * staged relations it reads, so a repeat call skips DataFrame
  * construction (see there).
  *
  * Keyed by ([[Corpus]], name). Two [[Corpus.Dir]] values over the same
  * (session, dir) are one key, so the (session, dir) family views below
  * and [[SparkEntry.queries]] share the staged copies; a new session, a
  * different corpus path or another in-memory corpus stages fresh.
  * Re-writing parquet UNDER an already-staged dir
  * within one session serves stale data (same contract as any staged
  * table — call [[invalidate]] after in-place rewrites; AmplifyCorpus
  * does so in its write path). The same contract covers the tables
  * [[Tables]] resolves once per session and the query plans:
  * [[invalidate]] and the application-end eviction drop them with the
  * staged relations.
  */
object Staged {

  /** The registry as seen from one corpus — a build's inputs and the
    * family views' lookups: `apply` is a relation's staged copy (a
    * chain's last round), `chain` all its rounds, and `prev` the
    * previous staged round of the chain being built (None in round 1,
    * for plain relations and for the views). */
  final class Inputs private[Staged] (val corpus: Corpus,
                                      val prev: Option[DataFrame]) {
    def apply(name: String): DataFrame = rounds(corpus, name).last
    def chain(name: String): Seq[DataFrame] = rounds(corpus, name)
  }

  private final case class Rel(name: String, nestedLoopOk: Boolean,
                               build: Inputs => DataFrame, rounds: Int = 1)

  // the (locally single-split) corpus scan, spread before the explode /
  // md5 / tokenizer passes that would otherwise run on one core (Spread
  // is a no-op when the scan already has enough splits)
  private def docs(in: Inputs): DataFrame =
    Spread.byKey(in.corpus.documents, "doc_id")

  private def emb(in: Inputs): DataFrame = in.corpus.embeddings

  /** Every staged relation, in dependency order. `nestedLoopOk` marks
    * builds whose DECLARED shape includes a tiny-broadcast nested-loop
    * (the 8-query / 16-centroid ANN fan-outs and the OPQ lane's 1-row
    * permutation cross — same allowance as ann_topk/ivf_assign); all
    * others must be nested-loop-free (PlanSpec). */
  private val registry: Seq[Rel] = Seq(
    // dedup: shingles, 64-wide minhash, the LSH bucket profile and its
    // over-full buckets' members (both read by the verify build; the
    // members also by training_pipeline), LSH candidates+verify, SimHash
    Rel("sh", false, in => Dedup.shingleHashes(docs(in))),
    Rel("sigs", false, in => Dedup.signaturesFromHashes(in("sh"))),
    Rel("buckets", false, in => Dedup.bucketStats(in("sigs"))),
    Rel("overfull", false,
      in => Dedup.overfullMembers(in("sigs"), in("buckets"))),
    Rel("verified", false, in => Dedup.ngramJaccardFrom(in("sh"), in("sigs"),
      in("buckets"), in("overfull"))),
    Rel("simPairs", false, in => Dedup.simhashDedup(docs(in))),
    // tokens: explode, frequency table, skip-grams, gopher, winnow
    Rel("tokens", false, in => TextAnalysis.tokensRel(docs(in))),
    Rel("freq", false, in => TextAnalysis.tokenFreqFrom(in("tokens"))),
    Rel("skipgrams", false, in => TextAnalysis.skipgramsRel(docs(in))),
    Rel("gopher", false,
      in => TextAnalysis.gopherQualityFrom(docs(in), in("tokens"))),
    Rel("winnow", false, in => TextAnalysis.winnowSelectedSrc(docs(in))),
    // ann: subvectors + PQ Lloyd chain, exact truths, IVF assignment,
    // and the OPQ lane (permutation, permuted subvectors, its chain)
    Rel("annSub", false, in => Similarity.annSubvectors(emb(in))),
    Rel("annChain", false,
      in => Similarity.annLloydRound(in("annSub"), in.prev),
      Similarity.PqTrainIters),
    Rel("l2truth", true, in => Similarity.annL2Truth(emb(in))),
    Rel("cosTruth", true, in => Similarity.bruteTopK(emb(in))),
    Rel("assign", true, in => Similarity.ivfAssign(emb(in))),
    Rel("opqPerm", true, in => Similarity.opqPermArray(emb(in))),
    Rel("opqSub", true,
      in => Similarity.opqSubvectorsFrom(emb(in), in("opqPerm"))),
    Rel("opqChain", false,
      in => Similarity.annLloydRound(in("opqSub"), in.prev),
      Similarity.PqTrainIters),
    // images: the PPM payload table and its aHash fingerprints
    Rel("images", false,
      in => Multimodal.imageTable(in.corpus.documents)),
    Rel("imageFps", false, in => Multimodal.imageFingerprints(in("images"))),
    // the ANALYZE histogram of the audited catalog grid
    Rel("catalogHist", false,
      in => Snapshot.catalogHistogram(catalogGrid(in.corpus))),
    // per-order brand baskets of the brand-graph family
    Rel("baskets", false,
      in => Analytics.basketsRel(in.corpus.part, in.corpus.lineitem)))

  private val byName: Map[String, Rel] = registry.map(r => r.name -> r).toMap

  /** Every registered relation's name, in dependency order. */
  val names: Seq[String] = registry.map(_.name)

  /** One relation's cache entry under a corpus: its staged
    * copies, one per round, the [[rows]] count of the last, and the ids
    * of the copies' RDDs (the `LogicalRDD` leaves of a consumer's
    * plan). */
  private final class Entry(val rounds: Seq[DataFrame]) {
    lazy val rows: Long = rounds.last.count()
    val rddIds: Seq[Int] = rounds.flatMap(_.queryExecution.analyzed
      .collect { case r: LogicalRDD => r.rdd.id })
  }

  private val cache = TrieMap.empty[(Corpus, String), Entry]

  /** [[query]]'s plans per (corpus, query name, session conf): the
    * analyzed plan of a kept build, or why the last build was not
    * kept. */
  private val plans = TrieMap.empty[(Corpus, String, Map[String, String]),
    Either[String, LogicalPlan]]

  private val buildTags = new java.util.concurrent.atomic.AtomicLong

  /** Sessions whose application-end listener is installed. The caches
    * (and [[Tables]]' resolved tables) key by session object, which
    * would otherwise strongly retain the session and its checkpointed
    * blocks for process lifetime in a long-lived multi-session JVM —
    * evict a session's entries when its context ends. */
  private val hooked = TrieMap.empty[SparkSession, Unit]

  /** Conf key selecting reliable (fault-tolerant) staging. */
  val ReliableKey = "spark.graft.staged.reliable"

  /** Stage `df` with the session-configured durability: reliable
    * `checkpoint()` when [[ReliableKey]] is true (blocks land in the
    * context's checkpoint dir and survive executor loss), else
    * `localCheckpoint()` (executor storage — fastest, single-tenant).
    * Both lazy: first action materializes. */
  private def stage(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption(ReliableKey).contains("true"))
      df.checkpoint(eager = false)
    else df.localCheckpoint(eager = false)

  private[graft] def hookEviction(spark: SparkSession): Unit =
    hooked.getOrElseUpdate(spark, {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd)
              : Unit = {
            cache.filterInPlace { case ((c, _), _) => c.spark ne spark }
            plans.filterInPlace { case ((c, _, _), _) => c.spark ne spark }
            Tables.resolved.filterInPlace { case ((s, _), _) => s ne spark }
            hooked.remove(spark)
          }
        })
    })

  private def entry(c: Corpus, name: String): Entry =
    cache.getOrElseUpdate((c, name), {
      hookEviction(c.spark)
      val r = byName(name)
      new Entry((1 to r.rounds).scanLeft(Option.empty[DataFrame]) {
        (prev, _) => Some(stage(r.build(new Inputs(c, prev))))
      }.flatten)
    })

  /** The staged copies of relation `name` over corpus `c`, one per
    * round (a plain relation has one), built on first request. */
  def rounds(c: Corpus, name: String): Seq[DataFrame] = entry(c, name).rounds

  /** The exact row count of relation `name`'s staged copy over corpus
    * `c`. The first request counts it: that count is the
    * action that materializes the relation and every staged input it
    * reads, so forcing a relation through `rows` stages it and counts
    * it in one pass. Later requests run no job. The count is kept in
    * the relation's cache entry, so [[invalidate]] and the
    * application-end eviction drop it with the relation. A query build
    * that asks for a count in a session where nothing is staged yet
    * runs that job while it is built — work its execution would do
    * anyway. */
  def rows(c: Corpus, name: String): Long = entry(c, name).rows

  /** ("staged:" + name, nestedLoopOk, plan) per registered relation:
    * the plan its build runs at materialization — the build applied to
    * its staged inputs (a chain: its last round over the staged previous
    * round). The checkpoint boundary hides these plans from every
    * consumer query's own plan, so they are audited on their own. */
  def auditPlans(c: Corpus): Seq[(String, Boolean, DataFrame)] =
    registry.map { r =>
      val prev = if (r.rounds > 1) Some(rounds(c, r.name).init.last) else None
      (s"staged:${r.name}", r.nestedLoopOk, r.build(new Inputs(c, prev)))
    }

  /** Registry query `name` over corpus `c`, as `build` makes it —
    * [[SparkEntry.queries]] calls every registry build through here.
    *
    * A build's analyzed plan is kept under (corpus, name, session
    * conf), and a later call with the same key gets a fresh DataFrame
    * over it: the analyzer returns an analyzed plan as it is, and each
    * call gets its own QueryExecution (physical plan, AQE state,
    * shuffles), so a hit is the plan a fresh build returns and runs as
    * one. The conf is the snapshot `spark.conf.getAll` taken after the
    * build: a conf change is a miss, and a hit leaves the conf as a
    * fresh build does (the `nanosAsLong` that [[Tables.rawEvents]]
    * sets is already set).
    *
    * A plan is kept only when its build launched no Spark job (counted
    * per building thread, [[ConstructJobs]]) and every `LogicalRDD`
    * leaf of the plan is a staged relation's copy; otherwise the
    * reason is recorded ([[kept]]) and the next call builds again.
    * So no kept plan holds data computed while it was built, or an
    * in-query checkpoint, outside the staged relations. A kept plan
    * lives as long as the staged relations: [[invalidate]] and the
    * application-end eviction drop both. */
  private[graft] def query(c: Corpus, name: String)(build: => DataFrame)
  : DataFrame = {
    val spark = c.spark
    kept(c, name) match {
      case Some(Right(plan)) => GraftBridge.ofAnalyzed(spark, plan)
      case _ =>
        hookEviction(spark)
        val sc = spark.sparkContext
        val tag = s"$name#${buildTags.incrementAndGet()}"
        val df = ConstructJobs.tagged(sc, tag)(build)
        val plan = df.queryExecution.analyzed
        plans((c, name, spark.conf.getAll)) =
          if (!ConstructJobs.take(sc, tag).contains(0))
            Left("job during build")
          else {
            val staged = cache.collect {
              case ((k, _), e) if k.spark eq spark => e.rddIds
            }.flatten.toSet
            if (plan.collectWithSubqueries { case r: LogicalRDD => r.rdd.id }
                .forall(staged)) Right(plan)
            else Left("non-staged checkpoint")
          }
        df
    }
  }

  /** [[query]]'s entry for (corpus, name) under the session's current
    * conf: Right(the kept plan), Left(why the last build was not kept:
    * "job during build" or "non-staged checkpoint"), or None when there
    * was no build. */
  private[graft] def kept(c: Corpus, name: String)
  : Option[Either[String, LogicalPlan]] =
    plans.get((c, name, c.spark.conf.getAll))

  /** Drop all staged entries (block-manager copies are reclaimed by the
    * context cleaner once unreferenced), every kept query plan
    * ([[query]]) and every resolved table ([[Tables]]), so the next
    * read lists the files and infers the schema again. For in-place
    * corpus rewrites within a session — tests and the amplify lane. */
  def invalidate(): Unit = {
    cache.clear(); plans.clear(); Tables.resolved.clear()
  }

  /** The dedup family: the shingle hashes, minhash signatures, the
    * members of the over-full LSH buckets, the verified LSH pairs and
    * the SimHash pairs. `dups` is a cheap filter view over `verified`
    * (no extra copy). `verified` and `overfull` together answer a
    * corpus subset's near-dup pairs ([[TrainingPipeline.corpusFrom]])
    * without re-running the LSH chain over the subset;
    * `overfullIfAny` is `overfull` when its staged [[rows]] count is
    * above 0, else None. */
  final class DedupRels private[Staged] (in: Inputs) {
    def sh: DataFrame = in("sh")
    def sigs: DataFrame = in("sigs")
    def overfull: DataFrame = in("overfull")
    def overfullIfAny: Option[DataFrame] =
      Option.when(rows(in.corpus, "overfull") > 0)(overfull)
    def verified: DataFrame = in("verified")
    def simPairs: DataFrame = in("simPairs")
    /** Confirmed near-dup pairs ([[Dedup.minhashDedup]] shape). */
    def dups: DataFrame = Dedup.minhashDedupFrom(verified)
  }

  /** The token family: the (doc_id, lang, source, token) explode, the
    * (token, tf) frequency table, the (doc_id, w1, w2, d) skip-grams,
    * the gopher-quality verdicts, and the (doc_id, source, fp) winnow
    * fingerprints. */
  final class TokenRels private[Staged] (in: Inputs) {
    def tokens: DataFrame = in("tokens")
    def freq: DataFrame = in("freq")
    def skipgrams: DataFrame = in("skipgrams")
    def gopher: DataFrame = in("gopher")
    def winnow: DataFrame = in("winnow")
  }

  /** The ANN/index-eval family: the (vec_id, m, sv6) subvector explode,
    * the Lloyd training chain over it (element i = codebook after i+1
    * rounds), the exact-L2 and exact-cosine ground truths, the IVF list
    * assignment, and the OPQ lane (the 1-row variance-snake permutation
    * array, the permuted subvector explode and ITS Lloyd chain). Each
    * relation builds on first access, so non-OPQ consumers never pay the
    * permutation's Dim-row means collect. */
  final class AnnRels private[Staged] (in: Inputs) {
    def sub: DataFrame = in("annSub")
    def chain: Seq[DataFrame] = in.chain("annChain")
    def l2truth: DataFrame = in("l2truth")
    def cosTruth: DataFrame = in("cosTruth")
    def assign: DataFrame = in("assign")
    def opqPerm: DataFrame = in("opqPerm")
    def opqSub: DataFrame = in("opqSub")
    def opqChain: Seq[DataFrame] = in.chain("opqChain")
  }

  /** The image lane: the synthesized PPM payload table (one payload
    * construction feeds the codec, the native decoder AND the dedup)
    * and the aHash fingerprints (doc_id, bands) — staged because the
    * banded-hamming dedup references them three times, and because the
    * nested-HOF hash expression must evaluate once per row, not once
    * per plan reference. */
  final class ImageRels private[Staged] (in: Inputs) {
    def imgs: DataFrame = in("images")
    def fps: DataFrame = in("imageFps")
  }

  private def inputs(c: Corpus): Inputs = new Inputs(c, None)

  def dedup(c: Corpus): DedupRels = new DedupRels(inputs(c))
  def tokens(c: Corpus): TokenRels = new TokenRels(inputs(c))
  def ann(c: Corpus): AnnRels = new AnnRels(inputs(c))
  def images(c: Corpus): ImageRels = new ImageRels(inputs(c))

  // the family views over a parquet dir: the cache entries that
  // SparkEntry.queries(q)(spark, sfDir) reads
  def dedup(spark: SparkSession, sfDir: String): DedupRels =
    dedup(Corpus(spark, sfDir))
  def tokens(spark: SparkSession, sfDir: String): TokenRels =
    tokens(Corpus(spark, sfDir))
  def ann(spark: SparkSession, sfDir: String): AnnRels =
    ann(Corpus(spark, sfDir))
  def images(spark: SparkSession, sfDir: String): ImageRels =
    images(Corpus(spark, sfDir))

  /** The staged ANALYZE histogram (table, column, value, cnt) for the
    * audited catalog grid — the per-column value histogram an ANALYZE
    * pass persists. Feeds catalog_stats' exact rollup and the exact
    * side of the sketch gate; the sketch side always recomputes from
    * raw rows. */
  def catalog(c: Corpus): DataFrame = inputs(c)("catalogHist")
  def catalog(spark: SparkSession, sfDir: String): DataFrame =
    catalog(Corpus(spark, sfDir))

  /** The staged per-order brand-basket relation (okey, sorted brand
    * array) — the one corpus-sized pass of the brand-graph family
    * (market_basket, brand_pagerank, brand_triangles). */
  def baskets(c: Corpus): DataFrame = inputs(c)("baskets")
  def baskets(spark: SparkSession, sfDir: String): DataFrame =
    baskets(Corpus(spark, sfDir))

  /** The audited (table, column) grid as (name, projected table) pairs
    * — shared by the staged histogram and the sketch side of the gate. */
  def catalogGrid(c: Corpus): Seq[(String, DataFrame)] =
    Snapshot.CatalogColumns.map { case (t, cols) =>
      t -> c.table(t).select(cols.map(org.apache.spark.sql.functions.col): _*)
    }
}
