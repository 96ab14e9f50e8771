package graft

import org.apache.spark.sql.SparkSession

/** Scale-headroom probe: times the registry queries named in [[Gated]]
  * — exactly as `SparkEntry.queries` ships them — on a 1× and a k×
  * copy of one sf directory, both written by [[AmplifyCorpus.amplify]]
  * (structure-preserving: ids offset per copy, document tokens carry a
  * copy suffix so the copies' shingle sets are fully disjoint, event
  * keys offset so key cardinality scales with volume).
  *
  * BOTH sides go through the same amplification (the 1× side is
  * `amplify(…, 1)`), so per-row transformations — the copy suffix adds
  * bytes to every token — hit numerator and denominator identically
  * and the ratio isolates row-count scaling. (A first cut timed raw
  * docs as the baseline; the suffix inflation alone read as a phantom
  * ~1.2× super-linearity.)
  *
  * This is the "would the plan survive a 10× scale-up" experiment run
  * as a reproducible main instead of an ad-hoc commit note: a healthy
  * query's wall time grows ≲ k× (modulo fixed costs); a super-linear
  * ratio flags a plan whose cost is NOT linear in rows — exactly the
  * regression class the sf-bound bench can't see. ScaleGateSpec runs
  * the same [[ratios]] loop at 8× of sf0.01 in CI.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [k] [workDir] [partitions]
  * Writes the 1× and k× copies to `workDir/x1` and `workDir/x<k>` and
  * prints one JSON line: per-query seconds at 1× and k×, and the ratio.
  * `partitions` defaults to SPARK_GRAFT_CPUS — pass k·cpus to model a
  * cluster whose partition count scales with the data (the SURVEY §5
  * contract), vs the default which deliberately holds partitions fixed
  * and exposes spill.
  */
object ScaleProbe {
  /** The gated registry queries: the bench's top-cost family — the full
    * minhash/LSH chain and its composed consumers, the substring/span
    * deduppers — and the event-side merge/sessionize lanes, plus the
    * corpus-sized training, ANN and image lanes below. */
  val Gated: Seq[String] = Seq(
    "dedup_minhash", "dup_cluster", "dedup_exact", "lsh_band_sweep",
    "dedup_incremental", "minhash_est_error", "substring_dedup",
    "dedup_agreement", "span_dedup", "cdc_merge", "sessionize",
    // the composed curation funnel (rides the same minhash chain plus
    // per-source windows), the user×day point-in-time grid, the
    // 4-signal ensemble, and the gaps-and-islands tier history
    "quality_ensemble", "curation_pipeline", "pit_snapshot",
    "tier_history",
    // the shuffle-free masking planner and the per-source
    // epoch-repetition planner (one corpus aggregate)
    "span_corruption", "repeat_plan",
    // the distinct-gram census (two-phase distinct keyed by the gram)
    // and the PII-class disclosure grid — both volume-growing
    "corpus_diversity", "l_diversity",
    // the Heaps census (token-keyed shuffle), the TVD disclosure grid,
    // and the event-side transition/RFM lanes (user-keyed windows +
    // value-grid quartiles)
    "vocab_growth", "t_closeness", "event_transitions", "rfm_segments",
    // the duplicated-token-mass census (rides the same minhash chain +
    // one token-count projection) and the length-bucket padding planner
    // (one grid aggregate)
    "dup_token_share", "padding_plan",
    // the consistent-hash ring audit (join-free key scan), the
    // event-side path miner (user-keyed window + grid top-k) and the
    // dense-calendar CUSUM lane
    "ring_rebalance", "event_paths", "rate_changepoint",
    // the arrival-ACF lane (per-minute pre-aggregate + span-bounded
    // dense window) and the per-user Fano dispersion census (two
    // map-side-combined aggregates)
    "acf_profile", "fano_burstiness",
    // the vocab-keyed Zipf fit and the bucketed inverse-CDF walk (every
    // window partitioned — the gate pins the decomposition's cost)
    "zipf_fit", "negative_sampling",
    // the one-rollup anonymity ladder, the one-audit watermark sweep
    // and the bucket-grid id census
    "anon_generalize", "watermark_sweep", "sequence_gap_audit",
    // the K-grid fold census, the file-grid compaction binning, and the
    // staged-chain containment verify (benford_audit is a 9-group
    // single aggregate — nothing to gate beyond what parity pins)
    "split_kfold", "compaction_plan", "ngram_containment",
    // the journey-window attribution lane (partition_advisor/hubness
    // are grid-sized post-aggregate — parity pins them; the
    // corpus-sized stage is the one window)
    "attribution_linear",
    // the three-regex readability projection and the sessionize-riding
    // bounce census
    "readability_score", "bounce_rate",
    // the cohort-grid LTV cumsum
    "cohort_ltv",
    "attribution_position", "blocklist_filter", "curriculum_order",
    "mix_temperature", "soft_dedup_weights",
    // the multi-round BPE trainer (8 composing merge rounds — each
    // corpus pass is the tokenize + one vocabulary-sized aggregate; the
    // gate pins that no round smuggles in a corpus-quadratic stage)
    "bpe_train_curve",
    // the ANN lane rides a corpus that amplifies separately from
    // documents/events (the query prefix stays copy-0-only, candidates
    // and training scale k×): the variance pass, the snake grid, the
    // Lloyd trainer and the ADC scan are all designed linear in
    // vectors; the fixed-512-probe kNN gate must stay probe-linear, and
    // the src-capped blocked joins of the probe-form graph gates
    // probes·list-linear, as the corpus grows
    "pq_opq_balance", "pq_recall_opq", "knn_recall_probe",
    "knn_graph_probe", "nn_descent_probe",
    // the image lane: the PPM synth + decode + banded-hamming dedup
    // chain over the amplified documents
    "image_decode", "image_dedup")

  /** (name, seconds on `dir1`, seconds on `dirK`) per registry query in
    * `names`: one warm run on `dir1` (codegen/JIT), then the min of two
    * runs on each side. Every run starts with [[Staged.invalidate]], so
    * it times the staged builds the query reads instead of a filter over
    * a relation the previous run cached — without it the gate would stop
    * covering the staged chains (the minhash chain behind
    * `dedup_minhash`, the images behind `image_dedup`) — each
    * table's file listing and schema inference, and the query's
    * DataFrame construction (the plan [[Staged.query]] keeps is dropped
    * with them). Min-of-2 on the
    * k× side too: with a single k× sample the noise sensitivity is
    * asymmetric (a throttle window during the one big-side run always
    * pushes the ratio in the failing direction — a red gate at noise
    * 2.06 whose quiet re-run passed every query at ratio ≤ 4.6 against
    * the bound of 20). */
  def ratios(spark: SparkSession, dir1: String, dirK: String,
             names: Seq[String]): Seq[(String, Double, Double)] =
    names.map { name =>
      val query = SparkEntry.queries(name)
      def run(dir: String): Double = {
        Staged.invalidate()
        val t0 = System.nanoTime()
        query(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run(dir1)
      val t1 = math.min(run(dir1), run(dir1))
      val tk = math.min(run(dirK), run(dirK))
      (name, t1, tk)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    require(k >= 2, s"k must be >= 2 (got $k): a 1x/1x ratio is meaningless")
    val workDir = args.lift(2).getOrElse("/tmp/graft_scaleprobe")
    val cpus = GraftSession.cpus("32")
    val spark = GraftSession.local(cpus,
      "spark.sql.shuffle.partitions" -> args.lift(3).getOrElse(cpus))

    for (n <- Seq(1, k)) AmplifyCorpus.amplify(spark, sfDir, s"$workDir/x$n", n)

    import JsonOut.{cs, q}
    val results = ratios(spark, s"$workDir/x1", s"$workDir/x$k", Gated).map {
      case (name, t1, tk) =>
        s"${q(name)}:{\"x1\":${cs(t1)},\"x$k\":${cs(tk)}," +
          s"\"ratio\":${cs(tk / t1)}}"
    }
    println(s"""{"metric":"scaleprobe","k":$k,"sf":${q(sfDir)},"ops":{${results.mkString(",")}}}""")
    spark.stop()
  }
}
