package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PortableHash

/** Web-curation / data-selection operators — the corpus-shaping steps a
  * large-scale pretraining pipeline runs between raw ingestion and
  * training-mix assembly, complementing the quality/dedup family in
  * [[TextAnalysis]]:
  *
  *  - [[domainCaps]]: per-source document quotas (the FineWeb-style
  *    "no domain may dominate the mix" rule), decided by a
  *    deterministic hash priority so the kept set is reproducible and
  *    auditable, never rand().
  *  - [[ccnetBucketsFrom]]: CCNet-style head/middle/tail partitioning of
  *    each language by LM score (the bigram-LM surrogate from
  *    [[TextAnalysis.ngramLmScoreFrom]]) — the standard
  *    quality-stratification step before mixing.
  *  - [[dsirWeightsFrom]]: data selection via importance resampling
  *    (Xie et al. 2023) — per-document importance of the raw corpus
  *    against a target domain, from hashed bigram features, in the
  *    integer-exact surrogate form the cross-engine oracle can verify.
  *  - [[tokenFertilityFrom]]: tokenizer QA per (lang, source) — chars per
  *    token and type-token ratio, the fertility numbers a tokenizer
  *    rollout is judged by.
  *
  * Scale notes: every operator here is one corpus pass plus
  * vocabulary/bucket-sized side relations that broadcast. domainCaps
  * windows per source (domains are the natural fine partition key of a
  * web corpus; a pathological mega-domain is bounded by the cap itself —
  * rows past the cap only feed counts, which AQE's skew split handles).
  * All arithmetic is integer-exact with documented int64 bounds, like
  * the rest of the repo, so the DuckDB oracle verifies values, not
  * just shapes.
  */
object Curation {

  // --- per-domain quota capping -------------------------------------------

  /** Maximum documents kept per source (the FineWeb-style domain cap). */
  val DomainCap = 20L

  /** Deterministic per-doc keep priority: lower hash wins. Salted with
    * "cap:" so it is independent of the sample/split hashes. */
  private val capPriority: Column =
    PortableHash.phash(concat(lit("cap:"), col("doc_id").cast("string")))

  /** Per-source quota cap: rank docs inside each source by hash
    * priority, keep the first [[DomainCap]], report the decision as a
    * per-source rollup whose `kept_id_sum` checksums the exact kept
    * set (so the oracle verifies the decision, not just the counts).
    * One window per source partition + one aggregate — the window's
    * partition key IS the shuffle key, and no reducer ever holds more
    * than one source's docs. */
  def domainCaps(documents: DataFrame, cap: Long = DomainCap): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("pri"), col("doc_id"))
    documents
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokensCol).cast("long").as("n_tokens"),
        capPriority.as("pri"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rk") > cap, 1L).otherwise(0L)).as("n_dropped"),
        coalesce(sum(when(col("rk") <= cap, col("n_tokens"))), lit(0L))
          .cast("long").as("kept_tokens"),
        coalesce(sum(when(col("rk") <= cap, col("doc_id"))), lit(0L))
          .cast("long").as("kept_id_sum"))
  }

  // --- CCNet head/middle/tail quality buckets ------------------------------

  /** CCNet-style per-language quality stratification: score each doc
    * with the bigram-LM surrogate (high mean bigram probability =
    * fluent = "head"), cut each language at its exact tertiles, and
    * roll up (lang, bucket) populations. The tertile thresholds come
    * from the aggregate-below-window shape (the valueQuantiles rule):
    * the cumulative window runs over the DISTINCT-score count relation
    * (≤ one row per distinct score), never over raw docs, and the
    * resulting ≤ |langs| threshold rows broadcast back onto the scored
    * corpus. Lower tertile at 1-based rank ⌈n/3⌉ (crank·3 ≥ n). */
  def ccnetBucketsFrom(documents: DataFrame, skipgrams: DataFrame): DataFrame = {
    val scored = TextAnalysis.ngramLmScoreFrom(skipgrams)
      .select(col("doc_id"), col("n_bigrams"), col("mean_p_ppm"))
    val s = scored.join(documents.select("doc_id", "lang"), "doc_id")
    val dist = s.groupBy("lang", "mean_p_ppm").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy("mean_p_ppm")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = dist.withColumn("crank", sum("cnt").over(w))
    val tot = s.groupBy("lang").agg(count(lit(1)).as("n"))
    val th = cum.join(tot, "lang")
      .groupBy("lang")
      .agg(min(when(col("crank") * 3 >= col("n"), col("mean_p_ppm")))
          .as("t33"),
        min(when(col("crank") * 3 >= col("n") * 2, col("mean_p_ppm")))
          .as("t67"))
    s.join(broadcast(th), "lang")
      .select(col("lang"), col("n_bigrams"), col("mean_p_ppm"),
        when(col("mean_p_ppm") < col("t33"), lit("tail"))
          .when(col("mean_p_ppm") < col("t67"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").cast("long").as("sum_bigrams"),
        min("mean_p_ppm").as("min_p_ppm"),
        max("mean_p_ppm").as("max_p_ppm"))
  }

  // --- DSIR importance weights ---------------------------------------------

  /** Hashed-feature space size for [[dsirWeightsFrom]]. */
  val DsirBuckets = 1024L

  /** DSIR importance scoring: hash each adjacent bigram into
    * [[DsirBuckets]] buckets, estimate the target-vs-raw frequency
    * ratio per bucket (Laplace-smoothed), and score each document by
    * the net over-representation of its bigrams in the target domain.
    * This is the integer-exact surrogate of DSIR's log importance
    * weight Σ_f n_f·log(p_target(f)/p_raw(f)): per occurrence we add
    * `r_ppm − 1e6` where r_ppm is the smoothed ratio in ppm — the
    * first-order (log(1+x) ≈ x) form, monotone in the same ranking and
    * bit-identical across engines.
    *
    * Int64 bounds: target ⊆ raw ⇒ ct ≤ cr ⇒ ratio1_ppm ≤ 1e6;
    * scale_milli = (tot_r+B)·1000 ÷ (tot_t+B) stays < 2⁶³ up to
    * ~10¹⁵ raw bigrams, and ratio1_ppm·scale_milli < 2⁶³ while the
    * target holds ≥ ~10⁻⁹ of the corpus — far past 100 TB for any
    * real target mix.
    *
    * Scale shape: one bigram pass; the per-feature ratio table is
    * [[DsirBuckets]] rows and broadcasts; totals are a 1-row broadcast. */
  def dsirWeightsFrom(documents: DataFrame, skipgrams: DataFrame,
                      targetSource: String = TextAnalysis.EvalSource)
  : DataFrame = {
    val feats = skipgrams.where(col("d") === 1)
      .select(col("doc_id"),
        pmod(PortableHash.phash(
          concat(lit("dsir:"), col("w1"), lit(" "), col("w2"))),
          lit(DsirBuckets)).as("f"))
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
    val raw = feats.groupBy("f").agg(count(lit(1)).as("cr"))
    val tgt = feats.where(col("source") === targetSource)
      .groupBy("f").agg(count(lit(1)).as("ct"))
    val ratio = raw.join(tgt, Seq("f"), "left")
      .select(col("f"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val tots = ratio.agg(sum("cr").cast("long").as("tot_r"),
      sum("ct").cast("long").as("tot_t"))
    val rtab = ratio.crossJoin(broadcast(tots))
      .select(col("f"), expr(
        s"""((ct + 1) * 1000000 div (cr + 1)) *
           |((tot_r + $DsirBuckets) * 1000 div (tot_t + $DsirBuckets))
           |div 1000""".stripMargin).as("r_ppm"))
    feats
      .join(broadcast(rtab), "f")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("r_ppm") - 1000000L).cast("long").as("net_ppm"),
        expr("sum(r_ppm) div count(1)").as("mean_r_ppm"))
  }

  // --- tokenizer fertility QA ----------------------------------------------

  /** Tokenizer fertility / diversity QA per (lang, source): characters
    * per token (the fertility number a tokenizer rollout is judged
    * by), type-token ratio (vocabulary diversity), and tokens per doc.
    * Two aggregates — one over the token explode, one over the doc
    * relation — joined on the tiny (lang, source) grid. */
  def tokenFertilityFrom(documents: DataFrame, tokens: DataFrame): DataFrame = {
    val tok = tokens.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("token")).as("n_types"))
    val docs = documents.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"))
    docs.join(tok, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("n_types"),
        expr("(sum_chars * 1000) div n_tokens").as("chars_per_token_milli"),
        expr("(n_types * 1000) div n_tokens").as("ttr_milli"),
        expr("n_tokens div n_docs").as("tokens_per_doc"))
  }

  // --- data-constrained epoch-repetition planning --------------------------

  /** Diminishing-returns value of the e-th epoch over the same data,
    * in milli (⌊prev·0.9⌋ chain) — the "repeating data decays in
    * value" curve of data-constrained scaling, shared verbatim with
    * the DuckDB oracle. Epochs past [[MaxRepeatEpochs]] are treated as
    * worthless and reported as wasted budget. */
  val RepeatDecayMilli: Seq[Long] =
    Seq(1000L, 900L, 810L, 729L, 656L, 590L, 531L, 477L)
  val MaxRepeatEpochs: Int = RepeatDecayMilli.length
  /** Token budget as a multiple of the corpus's one-epoch mass —
    * deliberately > 1 so the plan must repeat data. */
  val RepeatBudgetX = 4L

  /** Data-constrained epoch-repetition plan — the schedule a training
    * run uses when the token BUDGET exceeds the corpus (the
    * data-constrained regime): the budget allocates across sources by
    * quality-weighted mass (weight = token mass × gopher keep-rate, a
    * UniMax-flavored "repeat good sources more" rule), each source's
    * allocation converts to full epochs + a partial epoch, and the
    * plan accounts the EFFECTIVE token value of each repetition under
    * the [[RepeatDecayMilli]] diminishing-returns curve — with budget
    * past [[MaxRepeatEpochs]] epochs reported as wasted. Integer
    * arithmetic end-to-end: each source's allocation goes through a
    * ppm SHARE (weight·10⁶ div total-weight, then
    * floor(budget·share/10⁶) via a split-multiply), so no intermediate
    * ever multiplies two corpus-sized numbers — the largest product is
    * weight·10⁶ with weight ≤ total tokens, safe to ~9×10¹² corpus
    * tokens (≳ the 100 TB contract); a naive budget·weight would
    * overflow int64 near 5×10⁷ tokens.
    *
    * Shape at scale: ONE map-side-combined aggregate over the
    * (doc, source) quality relation → a per-source grid (tens of
    * rows); the epoch explode and decay fold run on that grid, never
    * on the corpus. */
  def repeatPlanFrom(documents: DataFrame, gopher: DataFrame): DataFrame = {
    val perSource = gopher
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(sum("n_tokens").cast("long").as("n_tokens"),
        count(lit(1)).as("n_docs"),
        sum((col("keep") === "true").cast("long")).as("n_keep"))
      .select(col("source"), col("n_tokens"),
        expr("(n_keep * 1000) div n_docs").as("keep_milli"))
      // quality-scaled mass, kept <= n_tokens so weight*1e6 stays small
      .withColumn("weight", expr("(n_tokens * keep_milli) div 1000"))
    val totals = perSource.agg(
      sum("n_tokens").cast("long").as("total_tokens"),
      sum("weight").cast("long").as("total_weight"))
    val dArr = RepeatDecayMilli.mkString("array(", "L, ", "L)")
    perSource.crossJoin(broadcast(totals))
      .withColumn("share_ppm",
        expr("(weight * 1000000L) div greatest(total_weight, 1L)"))
      .withColumn("alloc_tokens", expr(
        s"($RepeatBudgetX * total_tokens div 1000000L) * share_ppm + " +
          s"(($RepeatBudgetX * total_tokens % 1000000L) * share_ppm) " +
          "div 1000000L"))
      .withColumn("epochs_full", expr("alloc_tokens div n_tokens"))
      .withColumn("epochs_sched",
        least(col("epochs_full"), lit(MaxRepeatEpochs.toLong)))
      .withColumn("rem_tokens",
        expr(s"IF(epochs_full >= $MaxRepeatEpochs, 0L, " +
          "alloc_tokens % n_tokens)"))
      .withColumn("wasted_tokens",
        expr(s"greatest(alloc_tokens - ${MaxRepeatEpochs}L * n_tokens, 0L)"))
      .withColumn("effective_tokens",
        expr(s"(aggregate(slice($dArr, 1, int(epochs_sched)), 0L, " +
          "(acc, x) -> acc + n_tokens * x) + " +
          s"IF(epochs_sched < $MaxRepeatEpochs, " +
          s"rem_tokens * element_at($dArr, int(epochs_sched) + 1), 0L))" +
          " div 1000"))
      .select(col("source"), col("n_tokens"), col("keep_milli"),
        col("alloc_tokens"), col("epochs_sched"), col("rem_tokens"),
        col("wasted_tokens"), col("effective_tokens"))
  }

  // --- UniMax language-budget waterfill ------------------------------------

  /** Epoch cap per language for [[unimaxAlloc]] (UniMax's N). */
  val UnimaxEpochCap = 4L
  /** Token budget as a multiple of the corpus's one-epoch mass —
    * between 1× and the cap so the waterfill's BOTH arms bind: small
    * languages hit the epoch cap, large ones share the water level
    * (at 3× the test corpus's smaller languages cap out at 4 epochs
    * while the dominant language stays under the water level). */
  val UnimaxBudgetX = 3L

  /** UniMax language-budget allocation (Chung et al. 2023): split a
    * token budget across languages as EVENLY as possible subject to a
    * per-language repetition cap of [[UnimaxEpochCap]] epochs — the
    * published alternative to temperature sampling that never repeats
    * a low-resource language past the point where repetition stops
    * helping. Closed-form waterfill instead of the paper's sequential
    * loop: with languages sorted by cap ascending, a language is
    * capped iff its cap fits under the equal share of the budget left
    * after all smaller languages took their caps; every uncapped
    * language gets the water level W = that share at the first
    * uncapped row. Integer division throughout (the remainder stays
    * unassigned and is reported as leftover) → hash-exact.
    *
    * Shape: ONE map-side-combined aggregate over (lang, token count)
    * → a language grid of a handful of rows; the sort/cumsum windows
    * run on that grid, never the corpus — the value_median
    * window-over-aggregate rule. */
  def unimaxAlloc(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val perLang = documents
      .select(col("lang"),
        size(TextAnalysis.tokensCol).cast("long").as("n"))
      .groupBy("lang")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_docs"))
    val totals = perLang.agg(
      sum("n_tokens").cast("long").as("total_tokens"),
      count(lit(1)).as("n_langs"))
    val byCap = W.orderBy(col("cap"), col("lang"))
    perLang.crossJoin(broadcast(totals))
      .withColumn("cap", col("n_tokens") * lit(UnimaxEpochCap))
      .withColumn("budget", expr(s"$UnimaxBudgetX * total_tokens"))
      .withColumn("idx", row_number().over(byCap).cast("long"))
      .withColumn("cum_prev", coalesce(sum("cap").over(
        byCap.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cand_share",
        expr("greatest((budget - cum_prev) div (n_langs - idx + 1), 0L)"))
      .withColumn("capped", col("cap") <= col("cand_share"))
      // the water level is the FIRST uncapped row's share; shares are
      // non-increasing past that row (each uncapped row's cap exceeds
      // its share, so the overstated cum_prev only shrinks later
      // candidates), so first-by-idx = max over the uncapped rows
      .withColumn("level", max(when(!col("capped"), col("cand_share")))
        .over(W.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("alloc_tokens",
        least(col("cap"), coalesce(col("level"), col("cap"))))
      .select(col("lang"), col("n_tokens"), col("n_docs"), col("cap"),
        col("alloc_tokens"),
        expr("(alloc_tokens * 1000) div greatest(n_tokens, 1L)")
          .as("epochs_milli"),
        col("capped").cast("string").as("capped"))
  }

  // --- composed curation pipeline -----------------------------------------

  /** Per-source cap for the composed pipeline — tighter than
    * [[DomainCap]] so the cap stage BINDS at every test scale (the
    * upstream gates already thin each source below DomainCap). */
  val PipelineCap = 8L

  /** Composed web-curation pipeline — the second flagship composition
    * (training_pipeline's curation twin), chaining this round's
    * decision operators in production order over ONE corpus pass per
    * family:
    *
    *  1. ENSEMBLE quality gate: majority of the four independent
    *     signals (Gopher rules, classifier, LM fluency, rarity).
    *  2. Near-dup removal that keeps each cluster's BEST-quality
    *     member (cluster_representative's rule), not the min-id.
    *  3. Per-source domain cap (deterministic hash priority) over the
    *     survivors.
    *
    * Output: per-source funnel rollup — population after every stage,
    * final token mass, and a final id-sum checksum, so the oracle
    * verifies the exact end-to-end decision set. Each stage consumes
    * the staged relations; the pipeline itself adds only doc_id
    * equi-joins and one per-source window over the capped survivors. */
  def curationPipelineFrom(documents: DataFrame, signals: DataFrame,
                           clusters: DataFrame, gopher: DataFrame,
                           cap: Long = PipelineCap): DataFrame = {
    val q = signals.select(col("doc_id"),
      (TextAnalysis.ensembleVotes >= 3).as("keep_q"))
    val rep = clusters
      .join(gopher.select(col("doc_id"), col("distinct_milli")), "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("distinct_milli"), (-col("doc_id")).as("nid"),
        col("doc_id").as("rep_id"))).as("rep"))
      .select(col("cluster_id"), col("rep.rep_id").as("rep_doc_id"))
    val clustered = clusters.select("doc_id", "cluster_id")
      .join(rep, "cluster_id")
      .select(col("doc_id"),
        (col("doc_id") === col("rep_doc_id")).as("is_rep"))
    val staged = documents.select(col("doc_id"), col("source"))
      .join(q, "doc_id")
      .join(gopher.select(col("doc_id"), col("n_tokens")), "doc_id")
      .join(clustered, Seq("doc_id"), "left")
      .withColumn("keep_dedup",
        col("keep_q") && coalesce(col("is_rep"), lit(true)))
    val surv = staged.where(col("keep_dedup"))
      .withColumn("pri", capPriority)
      .withColumn("rk", row_number().over(Window.partitionBy("source")
        .orderBy(col("pri"), col("doc_id"))).cast("long"))
    val fin = surv.groupBy("source").agg(
      sum(when(col("rk") <= cap, 1L).otherwise(0L)).as("n_final"),
      coalesce(sum(when(col("rk") <= cap, col("n_tokens"))), lit(0L))
        .cast("long").as("final_tokens"),
      coalesce(sum(when(col("rk") <= cap, col("doc_id"))), lit(0L))
        .cast("long").as("final_id_sum"))
    staged.groupBy("source").agg(
        count(lit(1)).as("n_input"),
        sum(col("keep_q").cast("long")).as("n_quality"),
        sum(col("keep_dedup").cast("long")).as("n_dedup"))
      .join(fin, Seq("source"), "left")
      .na.fill(0L, Seq("n_final", "final_tokens", "final_id_sum"))
  }
}
