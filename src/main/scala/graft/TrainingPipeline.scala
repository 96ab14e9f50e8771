package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis}

/** The composed training-data build — the LLM-pipeline twin of the
  * sync-side `graft.Pipeline`: one call takes a raw document corpus
  * through quality gating, exact dedup (canonical copy per identical
  * text), MinHash near-dup removal, deterministic stratified sampling,
  * and hash-based split assignment, ending in the per-(lang, split)
  * corpus manifest a training run consumes.
  *
  * Every stage is the SAME operator the standalone queries use (shared
  * predicates/hashes — keepCol, dedupExact, the MinHash-LSH pairing
  * and verify, stratifiedSample, splitCol), so the composition cannot
  * drift from the parts; the DuckDB oracle rebuilds the whole chain in
  * SQL over the identical hash constants, running the LSH chain over
  * the gated survivors.
  *
  * The staged form ([[runFrom]], the `training_pipeline` query) does
  * not re-run that chain over the survivors: it reads the full corpus's
  * verified pairs and the members of its over-full LSH buckets (staged
  * once per session by [[Staged]] and shared with the dedup family),
  * which determine the survivors' pairs exactly ([[corpusFrom]]). The
  * over-full re-pairing is built only when the staged `overfull` has
  * rows ([[Staged.rows]], counted once per session; the first build in
  * a session where nothing is staged yet stages the dedup family to
  * count it). Without over-full buckets the plan is the survivors minus
  * the verified pairs' `doc_b`s and reads neither `sh` nor `overfull`.
  *
  * Scale shape: the gate and sample are narrow filters; exact dedup
  * shuffles on the digest; staged near-dup removal semi-joins the
  * verified pair relation and, when the corpus has over-full buckets,
  * re-pairs only their survivors; the final rollup is a
  * map-side-combined aggregate on a tiny (lang, split) key space.
  */
object TrainingPipeline {

  /** The surviving corpus after quality gate → exact dedup → near-dup
    * removal (full document rows): the MinHash-LSH chain run over the
    * gated, exact-deduplicated survivors themselves, the composition
    * the oracle SQL spells out. */
  def corpus(documents: DataFrame): DataFrame = {
    val quality = documents.where(TextAnalysis.keepCol)
    // read by both the LSH chain and the final anti-join
    val uniq = quality.join(TextAnalysis.dedupExact(quality)
      .select(col("keeper_doc_id").as("doc_id")), Seq("doc_id"))
      .localCheckpoint(false)
    uniq.join(Dedup.minhashDedup(uniq).select(col("dup_doc_id").as("doc_id")),
      Seq("doc_id"), "left_anti")
  }

  /** [[corpus]] from the full corpus's shingle hashes, verified LSH
    * pairs and over-full bucket members ([[Staged.DedupRels]]), without
    * re-running the LSH chain. With U
    * the gated, exact-deduplicated survivors, U's near-dups are the
    * `doc_b` sides of
    *   - the verified pairs whose `doc_a` is in U (a `doc_b` outside U
    *     removes nothing from U), and
    *   - the pairs U's members of the over-full buckets form among
    *     themselves ([[Dedup.subsetOverfullJaccard]]),
    * with j_milli ≥ JaccardMilli — the same set the LSH chain run over
    * U finds. U stays one plan: its references share their exchanges.
    *
    * `overfull` is None when the corpus has no over-full bucket: the
    * second set is then empty (it semi-joins the members), so the plan
    * leaves it out and does not read `sh`. */
  def corpusFrom(documents: DataFrame, sh: DataFrame, verified: DataFrame,
                 overfull: Option[DataFrame]): DataFrame = {
    val quality = documents.where(TextAnalysis.keepCol)
    // U's ids are the exact-dedup keepers: every keeper is a gated doc
    val ids = TextAnalysis.dedupExact(quality)
      .select(col("keeper_doc_id").as("doc_id"))
    val fromCorpus = Dedup.minhashDedupFrom(verified)
      .join(ids.select(col("doc_id").as("keeper_doc_id")),
        Seq("keeper_doc_id"), "left_semi")
    val pairs = overfull.fold(fromCorpus)(members => fromCorpus.unionByName(
      Dedup.minhashDedupFrom(Dedup.subsetOverfullJaccard(sh, members, ids))))
    val dupIds = pairs.select(col("dup_doc_id").as("doc_id"))
    quality.join(ids, Seq("doc_id"), "left_semi")
      .join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Per-(lang, split) manifest of the sampled training corpus:
    * document and whitespace-token counts. */
  def run(documents: DataFrame): DataFrame = manifest(corpus(documents))

  /** [[run]] over the staged dedup relations (the [[corpusFrom]]
    * convention). */
  def runFrom(documents: DataFrame, sh: DataFrame, verified: DataFrame,
              overfull: Option[DataFrame]): DataFrame =
    manifest(corpusFrom(documents, sh, verified, overfull))

  private def manifest(corpus: DataFrame): DataFrame =
    corpus
      .where(TextAnalysis.sampledCol)
      .select(col("lang"), TextAnalysis.splitCol.as("split"),
        size(TextAnalysis.tokensCol).cast("long").as("toks"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("sum_tokens"))
}
