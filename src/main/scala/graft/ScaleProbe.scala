package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-headroom probe: amplifies the test corpus k× with
  * STRUCTURE-PRESERVING copies (ids offset per copy; document tokens
  * carry a copy suffix so the copies' shingle sets are fully disjoint;
  * event keys/ids offset so key cardinality scales with volume) and
  * times representative operators at 1× and k×.
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
  * operator's wall time grows ≲ k× (modulo fixed costs); a
  * super-linear ratio flags a plan whose cost is NOT linear in rows —
  * exactly the regression class the sf-bound bench can't see.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [k] [workDir] [partitions]
  * Prints one JSON line: per-op seconds at 1× and k×, and the ratio.
  * `partitions` defaults to SPARK_GRAFT_CPUS — pass k·cpus to model a
  * cluster whose partition count scales with the data (the SURVEY §5
  * contract), vs the default which deliberately holds partitions fixed
  * and exposes spill.
  */
object ScaleProbe {
  /** Copy-id offset: base ids must stay strictly below this or copies
    * collide (asserted in main before amplifying). */
  val CopyOffset = 1000000000L

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Asserts copies cannot collide: max base id across documents +
    * events stays below CopyOffset. Reads each aggregate as nullable so
    * an EMPTY input fails with an explicit message instead of an NPE
    * before the headroom guard can report anything. */
  def requireIdHeadroom(docs: DataFrame, events: DataFrame): Unit = {
    def maxOf(df: DataFrame, what: String,
              c: org.apache.spark.sql.Column): Long = {
      val row = df.agg(c.cast("long")).collect()(0)
      require(!row.isNullAt(0),
        s"$what table is empty: cannot derive the id headroom for " +
          "copy-disjoint amplification")
      row.getLong(0)
    }
    val maxId = maxOf(docs, "documents", max("doc_id"))
      .max(maxOf(events, "events", greatest(max("event_id"), max("user_id"))))
    require(maxId < CopyOffset,
      s"base ids reach $maxId >= $CopyOffset: copies would collide")
  }

  /** k structure-preserving copies of documents: doc_id offset by
    * copy·CopyOffset; EVERY token carries a copy suffix, so the copies'
    * shingle sets are fully disjoint (cross-copy Jaccard = 0) and the
    * dup DENSITY stays exactly that of the base corpus while volume
    * scales k×. (Appending ONE tag token per doc instead would leave
    * ~96% shingle overlap across copies, silently turning the corpus
    * into k-wide near-dup groups and inflating candidate pairs k².)
    * `salt` (fuzz lane) varies the suffix text, so every seed yields a
    * different-but-equally-structured corpus; "" is the committed
    * amplified-tier corpus. */
  def amplifyDocuments(docs: DataFrame, k: Int,
                       salt: String = ""): DataFrame =
    docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
        explode(expr(s"sequence(0, ${k - 1})")).as("cp"))
      .select(
        (col("doc_id") + col("cp").cast("long") * CopyOffset).as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          s"t -> concat(t, '_$salt', cast(cp as string))), ' ')").as("text"),
        col("lang"), col("source"))

  /** k structure-preserving copies of embeddings: vec_id offset by
    * copy·CopyOffset (the 8-query / 16-seed prefix stays copy-0-only,
    * so the recall gates' query set is fixed while the CANDIDATE and
    * TRAINING corpus scales k×); label cardinality scales with volume
    * (label + copy·(max+1)); and every non-base copy's vector is
    * deterministically perturbed per element (±1e-3 hash noise, never
    * rand()) so copies are geometry-preserving but never exact
    * duplicates — exact k-wide duplicate vectors would make every
    * top-k a tie pile-up instead of a scaled corpus. Parity needs no
    * cross-engine twin of any of this: the amplified parquet FILE is
    * written once and read by both engines. `salt` (fuzz lane) re-keys
    * the perturbation hash per seed; "" is the committed tier. */
  def amplifyEmbeddings(emb: DataFrame, k: Int,
                        salt: String = ""): DataFrame = {
    val maxLabel = emb.agg(max("label")).collect()(0).getInt(0)
    emb.withColumn("cp", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("vec_id") + col("cp").cast("long") * CopyOffset).as("vec_id"),
        expr(s"""CASE WHEN cp = 0 THEN embedding ELSE
                |  transform(embedding, (x, i) -> CAST(x +
                |    (pmod(xxhash64(concat('amp$salt:', cp, ':', vec_id, ':', i)),
                |     2001L) - 1000L) * CAST(1e-6 AS FLOAT) AS FLOAT))
                |END""".stripMargin).as("embedding"),
        (col("label") + col("cp") * (maxLabel + 1)).cast("int").as("label"))
  }

  /** k copies of events: event_id/user_id offset per copy — key
    * cardinality scales with volume while each key's history (and its
    * LWW/session structure) is an exact replica of the base key's.
    * Copies never interact: their key spaces are disjoint, so
    * identical timestamps across copies are harmless. */
  /** k structure-preserving copies of a keyed relation: every column
    * named in `keyCols` is offset by copy·CopyOffset, everything else
    * rides unchanged. The offset is the SAME one the events lane
    * applies to user_id, so cross-table joins (events.user_id ↔
    * c_custkey, o_custkey ↔ c_custkey, l_orderkey ↔ o_orderkey) keep
    * their per-copy FK structure — each copy is a disjoint
    * sub-universe of customers/orders/lineitems sharing the UNCHANGED
    * dimensions (region/nation/supplier/part), exactly how a real
    * fact table grows against stable dims. */
  def amplifyKeyed(df: DataFrame, k: Int, keyCols: Set[String]): DataFrame = {
    val widened = df.withColumn("cp", explode(expr(s"sequence(0, ${k - 1})")))
    widened.select(df.columns.map { c =>
      if (keyCols(c))
        (col(c) + col("cp").cast("long") * CopyOffset).as(c)
      else col(c)
    }.toSeq: _*)
  }

  def amplifyEvents(events: DataFrame, k: Int): DataFrame =
    events.withColumn("cp", explode(expr(s"sequence(0, ${k - 1})")))
      .select(
        (col("event_id") + col("cp").cast("long") * CopyOffset)
          .as("event_id"),
        (col("user_id") + col("cp").cast("long") * CopyOffset)
          .as("user_id"),
        col("event_type"), col("value"), col("props"),
        col("ts_ns"), col("ts"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    require(k >= 2, s"k must be >= 2 (got $k): a 1x/1x ratio is meaningless")
    val workDir = args.lift(2).getOrElse("/tmp/graft_scaleprobe")
    val cpus = GraftSession.cpus("32")
    val spark = GraftSession.local(cpus,
      "spark.sql.shuffle.partitions" -> args.lift(3).getOrElse(cpus))

    val docs0 = Tables.documents(spark, sfDir)
    val ev0 = Tables.events(spark, sfDir)
    requireIdHeadroom(docs0, ev0)

    // materialize BOTH scales to parquet (1x through the same
    // amplification) so the probe times the operators alone
    for ((n, df) <- Seq("1" -> amplifyDocuments(docs0, 1),
      k.toString -> amplifyDocuments(docs0, k)))
      df.write.mode("overwrite").parquet(s"$workDir/documents_x$n")
    for ((n, df) <- Seq("1" -> amplifyEvents(ev0, 1),
      k.toString -> amplifyEvents(ev0, k)))
      df.write.mode("overwrite").parquet(s"$workDir/events_x$n")
    val emb0 = Tables.embeddings(spark, sfDir)
    for ((n, df) <- Seq("1" -> amplifyEmbeddings(emb0, 1),
      k.toString -> amplifyEmbeddings(emb0, k)))
      df.write.mode("overwrite").parquet(s"$workDir/embeddings_x$n")
    val docs1 = spark.read.parquet(s"$workDir/documents_x1")
    val docsK = spark.read.parquet(s"$workDir/documents_x$k")
    val ev1 = spark.read.parquet(s"$workDir/events_x1")
    val evK = spark.read.parquet(s"$workDir/events_x$k")
    val emb1 = spark.read.parquet(s"$workDir/embeddings_x1")
    val embK = spark.read.parquet(s"$workDir/embeddings_x$k")

    import JsonOut.{cs, q}
    val results = (probeOps(docs1, ev1) ++ probeAnnOps(emb1))
      .zip(probeOps(docsK, evK) ++ probeAnnOps(embK)).map {
      case ((name, base), (_, big)) =>
        base() // warm codegen/JIT on the small side
        val t1 = time(base())
        val tk = time(big())
        s"${q(name)}:{\"x1\":${cs(t1)},\"x$k\":${cs(tk)}," +
          s"\"ratio\":${cs(tk / t1)}}"
    }
    println(s"""{"metric":"scaleprobe","k":$k,"sf":${q(sfDir)},"ops":{${results.mkString(",")}}}""")
    spark.stop()
  }

  /** The probed operator suite over one (documents, events) pair —
    * shared by [[main]] (manual 10-30× probe) and the CI scale gate
    * (ScaleGateSpec), so an operator added here is gated everywhere.
    * Covers the bench's top-cost family: the full minhash/LSH chain
    * and its composed consumers, the substring/span deduppers, and
    * the event-side merge/sessionize lanes. */
  def probeOps(docs: DataFrame, ev: DataFrame): Seq[(String, () => Unit)] = {
    import graft.operators.{CdcMerge, Dedup, Temporal, TextAnalysis}
    def sink(df: => DataFrame): () => Unit =
      () => df.write.format("noop").mode("overwrite").save()
    lazy val cl = graft.operators.ChangeLog.normalize(ev)
    Seq(
      "dedup_minhash" -> sink(Dedup.minhashDedup(docs)),
      "dup_cluster" -> sink(Dedup.dupClusters(docs)),
      "dedup_exact" -> sink(TextAnalysis.dedupExact(docs)),
      "lsh_band_sweep" -> sink(Dedup.lshBandSweep(docs)),
      "dedup_incremental" -> sink(Dedup.incrementalDedup(docs)),
      "minhash_est_error" -> sink(Dedup.minhashEstError(docs)),
      "substring_dedup" -> sink(Dedup.substringDedup(docs)),
      "dedup_agreement" -> sink(Dedup.dedupMethodAgreement(docs)),
      "span_dedup" -> sink(TextAnalysis.spanDedup(docs)),
      "cdc_merge" -> sink(CdcMerge.merge(cl)),
      "sessionize" -> sink(Temporal.sessionize(cl)),
      // round-8 additions: the composed curation funnel (rides the
      // same minhash chain plus per-source windows), the user×day
      // point-in-time grid, the 4-signal ensemble, and the
      // gaps-and-islands tier history
      "quality_ensemble" -> sink(TextAnalysis.qualityEnsemble(docs)),
      "curation_pipeline" -> sink {
        val t = TextAnalysis.tokensRel(docs)
        graft.operators.Curation.curationPipelineFrom(docs,
          TextAnalysis.qualitySignalsFrom(
            TextAnalysis.gopherQualityFrom(docs, t),
            TextAnalysis.qualityClassifyFrom(t),
            TextAnalysis.ngramLmScoreFrom(TextAnalysis.skipgramsRel(docs)),
            TextAnalysis.docRarityFrom(t, TextAnalysis.tokenFreqFrom(t))),
          Dedup.dupClusters(docs), TextAnalysis.gopherQuality(docs))
      },
      "pit_snapshot" -> sink(graft.operators.Joins.pitSnapshot(cl)),
      "tier_history" -> sink(Temporal.tierHistory(cl)),
      // round-9 additions: the shuffle-free masking planner and the
      // per-source epoch-repetition planner (one corpus aggregate)
      "span_corruption" -> sink(TextAnalysis.spanCorruptionPlan(docs)),
      "repeat_plan" -> sink(graft.operators.Curation.repeatPlan(docs)),
      // the distinct-gram census (two-phase distinct keyed by the gram)
      // and the PII-class disclosure grid — both volume-growing
      "corpus_diversity" -> sink(TextAnalysis.corpusDiversity(docs)),
      "l_diversity" -> sink(TextAnalysis.lDiversity(docs)),
      // round-9 batch-3 additions: the Heaps census (token-keyed
      // shuffle), the TVD disclosure grid, and the event-side
      // transition/RFM lanes (user-keyed windows + value-grid quartiles)
      "vocab_growth" -> sink(TextAnalysis.vocabGrowth(docs)),
      "t_closeness" -> sink(TextAnalysis.tCloseness(docs)),
      "event_transitions" -> sink(
        graft.operators.Analytics.eventTransitions(ev)),
      "rfm_segments" -> sink(graft.operators.Analytics.rfmSegments(ev)),
      // round-9 batch-5 additions: the duplicated-token-mass census
      // (rides the same minhash chain + one token-count projection)
      // and the length-bucket padding planner (one grid aggregate)
      "dup_token_share" -> sink(
        Dedup.dupTokenShareFrom(docs, Dedup.minhashDedup(docs))),
      "padding_plan" -> sink(TextAnalysis.paddingPlan(docs)),
      // round-9 batch-6/8 additions: the consistent-hash ring audit
      // (join-free key scan), the event-side path miner (user-keyed
      // window + grid top-k) and the dense-calendar CUSUM lane
      "ring_rebalance" -> sink(TextAnalysis.ringRebalance(docs)),
      "event_paths" -> sink(graft.operators.Analytics.eventPaths(ev)),
      "rate_changepoint" -> sink(Temporal.rateChangepoint(ev)),
      // round-9 batch-10 additions: the arrival-ACF lane (per-minute
      // pre-aggregate + span-bounded dense window) and the per-user
      // Fano dispersion census (two map-side-combined aggregates)
      "acf_profile" -> sink(Temporal.acfProfile(cl)),
      "fano_burstiness" -> sink(Temporal.fanoBurstiness(cl)),
      // the vocab-keyed Zipf fit and the one-rollup anonymity ladder
      "zipf_fit" -> sink(TextAnalysis.zipfFitFrom(
        TextAnalysis.tokenFreqFrom(TextAnalysis.tokensRel(docs)))),
      // round-11: the bucketed inverse-CDF walk (every window
      // partitioned — the probe pins the decomposition's cost)
      "negative_sampling" -> sink(TextAnalysis.negativeSamplingFrom(
        TextAnalysis.tokenFreqFrom(TextAnalysis.tokensRel(docs)))),
      "anon_generalize" -> sink(TextAnalysis.anonGeneralize(docs)),
      // the one-audit watermark sweep and the bucket-grid id census
      "watermark_sweep" -> sink(Temporal.watermarkSweep(cl)),
      "sequence_gap_audit" -> sink(
        graft.operators.Ledger.sequenceGapAudit(cl)),
      // round-9 batch-11: the K-grid fold census, the file-grid
      // compaction binning, and the staged-chain containment verify
      // (benford_audit is a 9-group single aggregate — nothing to
      // probe beyond what the parity gate already pins)
      "split_kfold" -> sink(TextAnalysis.splitKfold(docs)),
      "compaction_plan" -> sink(
        graft.operators.Ledger.compactionPlan(cl)),
      "ngram_containment" -> sink(Dedup.ngramContainment(docs)),
      // round-9 batch-12: the journey-window attribution lane
      // (partition_advisor/hubness are grid-sized post-aggregate —
      // parity pins them; the corpus-sized stage is the one window)
      "attribution_linear" -> sink(
        graft.operators.Analytics.attributionLinear(ev)),
      // batch-14: the three-regex readability projection and the
      // sessionize-riding bounce census
      "readability_score" -> sink(TextAnalysis.readabilityScore(docs)),
      "bounce_rate" -> sink(Temporal.bounceRate(cl)),
      // batch-16: the cohort-grid LTV cumsum
      "cohort_ltv" -> sink(
        graft.operators.Analytics.cohortLtv(ev)),
      "attribution_position" -> sink(
        graft.operators.Analytics.attributionPosition(ev)),
      "blocklist_filter" -> sink(TextAnalysis.blocklistFilter(docs)),
      "curriculum_order" -> sink(TextAnalysis.curriculumOrder(docs)),
      "mix_temperature" -> sink(TextAnalysis.mixTemperature(docs)),
      "soft_dedup_weights" -> sink(
        Dedup.softDedupWeights(docs, Dedup.minhashDedup(docs))),
      // round-12: the multi-round BPE trainer (8 composing merge
      // rounds — each corpus pass is the tokenize + one
      // vocabulary-sized aggregate; the probe pins that no round
      // smuggles in a corpus-quadratic stage)
      "bpe_train_curve" -> sink(TextAnalysis.bpeTrainCurveFrom(
        TextAnalysis.tokenFreqFrom(TextAnalysis.tokensRel(docs)))))
  }

  /** The probed ANN-lane suite over one embeddings relation — the
    * OPQ additions, which ride a corpus that amplifies separately
    * from documents/events ([[amplifyEmbeddings]]: query prefix stays
    * copy-0-only, candidates/training scale k×). Probed for the same
    * reason as [[probeOps]]: the variance pass, the snake grid, the
    * 4-round Lloyd trainer and the ADC scan are all designed linear
    * in vectors — a quadratic regression in any of them fails the CI
    * gate, not the next 100× run. */
  def probeAnnOps(emb: DataFrame): Seq[(String, () => Unit)] = {
    import graft.operators.Similarity
    def sink(df: => DataFrame): () => Unit =
      () => df.write.format("noop").mode("overwrite").save()
    Seq(
      "pq_opq_balance" -> sink(Similarity.opqSubspaceBalance(emb)),
      "pq_recall_opq" -> sink {
        val perm = Similarity.opqPermArray(emb)
        val sub = Similarity.opqSubvectorsFrom(emb, perm)
        Similarity.pqRecallOpqFrom(Similarity.annLloydChain(sub), sub,
          Similarity.opqQSubFrom(emb, perm), Similarity.annL2Truth(emb))
      },
      // the probe-sampled kNN gate: fixed 512-probe truth, so the
      // probe certifies the arms stay probe-linear as the corpus grows
      "knn_recall_probe" -> sink(Similarity.knnRecallProbeFrom(
        Similarity.ivfAssign(emb), emb)),
      // the probe-form graph gates: src-capped blocked joins must stay
      // probes·list-linear as the corpus grows
      "knn_graph_probe" -> sink(Similarity.knnGraphProbeFrom(
        Similarity.ivfAssign(emb), emb)),
      "nn_descent_probe" -> sink(Similarity.nnDescentProbeFrom(
        Similarity.ivfAssign(emb), emb)))
  }

  /** Image-lane probe ops (the PPM synth + decode + banded-hamming
    * dedup chain over the amplified documents). */
  def probeImageOps(docs: DataFrame): Seq[(String, () => Unit)] = {
    import graft.operators.Multimodal
    def sink(df: => DataFrame): () => Unit =
      () => df.write.format("noop").mode("overwrite").save()
    Seq(
      "image_decode" -> sink(
        Multimodal.imageDecode(Multimodal.imageTable(docs))),
      "image_dedup" -> sink(
        Multimodal.imageDedup(Multimodal.imageTable(docs))))
  }
}
