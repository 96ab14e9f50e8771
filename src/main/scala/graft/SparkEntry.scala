package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.SyncConfigs
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2/§7. Each entry is one
  * operator from the inventory; oracleSql holds the DuckDB twin.
  */
object SparkEntry {

  /** The corpus's normalized changelog, as staged ([[Staged.changelog]]). */
  private def cl(c: Corpus): DataFrame = Staged.changelog(c)
  private def cl(s: SparkSession, dir: String): DataFrame = cl(Corpus(s, dir))

  /** The catalog passes' (table, columns) inputs — driven by the SAME
    * [[Snapshot.CatalogColumns]] grid the DuckDB oracles are generated
    * from, so neither side can drift alone. */
  private def catalogGrid(c: Corpus): Seq[(String, DataFrame)] =
    Staged.catalogGrid(c)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CdcMerge.merge(cl(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2 over the
    * parquet corpus in a dir: [[builds]] run over that dir's
    * [[Corpus]] through [[Staged.query]]. A repeat call over the same
    * (session, dir, session conf) gets a new DataFrame over the plan the
    * first build analyzed — the plan a fresh build returns — unless that
    * build launched a Spark job or holds a checkpoint outside the
    * staged relations; such a query is built on every call. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    builds.map { case (name, build) =>
      name -> ((s: SparkSession, dir: String) => {
        val c = Corpus(s, dir); Staged.query(c, name)(build(c)) })
    }

  /** The registry's builds over any [[Corpus]], uncached: every call
    * constructs the DataFrame anew. A library caller (or a test) runs
    * one by name over its own tables, e.g.
    * `builds("dedup_apply")(Corpus("documents" -> docs))`. */
  val builds
  : Map[String, Corpus => DataFrame] = Map(
    "changelog_normalize" -> (c => cl(c)),
    "poll_batch"          -> (c =>
      ChangeLog.pollBatch(cl(c)).select("event_id", "user_id", "op", "part")),
    "cdc_merge"           -> (c => CdcMerge.merge(cl(c))),
    "cdc_upsert_apply"    -> (c =>
      CdcMerge.upsertApply(cl(c), c.customer)),
    "idempotence_gate"    -> (c =>
      CdcMerge.idempotenceGate(cl(c), c.customer)),
    "cdc_delete_apply"    -> (c =>
      CdcMerge.deleteApply(cl(c), c.customer)),
    "incremental_agg"     -> (c =>
      CdcMerge.incrementalAgg(cl(c), c.customer)),
    "ordered_apply"       -> (c => ChangeLog.orderedApply(cl(c))),
    "route_fanout"        -> (c => ChangeLog.routeFanout(cl(c))),
    "conditional_capture" -> (c =>
      ChangeLog.conditionalCapture(cl(c))),
    "batch_ack"           -> (c => Ledger.batchAck(cl(c))),
    "sync_state"          -> (c => Ledger.syncState(cl(c))),
    "monitor_alerts"      -> (c => Ledger.monitorAlerts(cl(c))),
    "error_retry"         -> (c => Ledger.errorRetry(cl(c))),
    "blocked_chain"       -> (c => Ledger.blockedChain(cl(c))),
    "heartbeat_state"     -> (c => Ledger.heartbeatState(cl(c))),
    "component_lifecycle" -> (c =>
      Ledger.componentLifecycle(cl(c))),
    "retention_sweep"     -> (c =>
      Ledger.retentionSweep(cl(c))),
    "clean_retention"     -> (c => Ledger.cleanRetention(cl(c))),
    "queue_depth"         -> (c => Ledger.queueDepth(cl(c))),
    "approx_distinct"     -> (c => Ledger.approxDistinct(cl(c))),
    "log_compact"         -> (c => Ledger.logCompact(cl(c))),
    "compaction_plan"     -> (c =>
      Ledger.compactionPlan(cl(c))),
    "value_median"        -> (c => Ledger.valueMedian(cl(c))),
    "status_rollup"       -> (c => Ledger.statusRollup(cl(c))),
    "endpoint_status"     -> (c => Endpoints.statusJson(c.spark, cl(c))),
    "alert_payloads"      -> (c => Endpoints.alertPayloads(cl(c))),
    "scd2_history"        -> (c => Temporal.scd2History(cl(c))),
    "tier_history"        -> (c => Temporal.tierHistory(cl(c))),
    "event_gaps"          -> (c => Temporal.eventGaps(cl(c))),
    "sessionize"          -> (c => Temporal.sessionize(cl(c))),
    "bounce_rate"         -> (c => Temporal.bounceRate(cl(c))),
    "asof_enrich"         -> (c =>
      Joins.asofEnrich(cl(c), c.orders)),
    "pit_snapshot"        -> (c => Joins.pitSnapshot(cl(c))),
    "range_join_events"   -> (c =>
      Joins.rangeJoinEvents(cl(c), c.orders)),
    "skew_salted_join"    -> (c =>
      Joins.skewSaltedEnrich(cl(c), c.customer)),
    "pause_filter"        -> (c => Ledger.pauseFilter(cl(c))),
    "olap_pricing_summary" -> (c =>
      Analytics.pricingSummary(c.lineitem)),
    "olap_top_revenue"    -> (c =>
      Analytics.topRevenueOrders(c.customer,
        c.orders, c.lineitem)),
    "olap_supplier_nation" -> (c =>
      Analytics.supplierNationRevenue(c.supplier,
        c.nation, c.lineitem)),
    "initial_sync"        -> (c =>
      Snapshot.initialSync(c.customer, c.nation,
        c.region)),
    "delta_detect"        -> (c =>
      Snapshot.deltaDetect(c.customer)),
    "sync_conflicts"      -> (c =>
      Snapshot.syncConflicts(c.customer)),
    "handoff_audit"       -> (c => Snapshot.handoffAudit(cl(c))),
    "source_partition_plan" -> (c =>
      Snapshot.sourcePartitionPlan(c.customer)),
    "config_matrix"       -> (c => SyncConfigs.configMatrix(c.spark)),
    "config_lint"         -> (c => SyncConfigs.configLint(c.spark)),
    "trigger_specs"       -> (c => SyncConfigs.triggerSpecs(c.spark)),
    "sync_reconcile"      -> (c => SyncConfigs.syncReconcile(c.spark)),
    "datasource_status"   -> (c => SyncConfigs.datasourceStatus(c.spark)),
    "sync_topology"       -> (c => SyncConfigs.syncTopology(c.spark)),
    "blocked_replay"      -> (c => Ledger.blockedReplay(cl(c))),
    "poll_backoff"        -> (c => {
      val sys = SyncConfigs.parse(SyncConfigs.DemoYaml).sys
      Ledger.pollBackoff(cl(c), sys.batch.toLong, sys.maxPollWait.toLong)
    }),
    "stream_window_agg"   -> (c => streamWindowAgg(c)),
    "stream_merge_parity" -> (c =>
      graft.streaming.CdcStream.mergeParity(c.spark, cl(c))),
    "stream_sessionize_parity" -> (c =>
      graft.streaming.CdcStream.sessionizeParity(c.spark, cl(c))),
    "stream_dedup_parity" -> (c =>
      graft.streaming.CdcStream.dedupParity(c.spark, c.events)),
    "stream_window_parity" -> (c =>
      graft.streaming.CdcStream.windowParity(c.spark, c.events)),
    "stream_late_parity"  -> (c =>
      graft.streaming.CdcStream.lateParity(c.spark, c.events)),
    "stream_attribution_parity" -> (c =>
      graft.streaming.CdcStream.attributionParity(c.spark, c.events)),
    "stream_transitions_parity" -> (c =>
      graft.streaming.CdcStream.transitionsParity(c.spark, c.events)),
    "stream_funnel_parity" -> (c =>
      graft.streaming.CdcStream.funnelParity(c.spark, c.events)),
    "stream_queue_parity" -> (c =>
      graft.streaming.CdcStream.queueParity(c.spark, cl(c))),
    "stream_balance_parity" -> (c =>
      graft.streaming.CdcStream.balanceParity(c.spark, cl(c))),
    "stream_tier_parity"  -> (c =>
      graft.streaming.CdcStream.tierParity(c.spark, cl(c))),
    "pipeline_e2e"        -> (c => Pipeline.run(c).applied),
    // LLM-data-pipeline operators (SURVEY.md §2 #23-34)
    "dedup_exact"         -> (c =>
      TextAnalysis.dedupExact(c.documents)),
    "text_stats"          -> (c =>
      TextAnalysis.textStats(c.documents)),
    "readability_score"   -> (c =>
      TextAnalysis.readabilityScore(c.documents)),
    "lang_id"             -> (c =>
      TextAnalysis.langId(c.documents)),
    "token_count"         -> (c =>
      TextAnalysis.tokenCount(c.documents)),
    "doc_fingerprint"     -> (c =>
      TextAnalysis.docFingerprint(c.documents)),
    "doc_winnow"          -> (c =>
      TextAnalysis.winnowStatsFrom(Staged.tokens(c).winnow)),
    "contamination_check" -> (c =>
      TextAnalysis.contaminationCheckFrom(Staged.tokens(c).winnow)),
    "token_topk"          -> (c =>
      TextAnalysis.tokenTopKFrom(Staged.tokens(c).freq)),
    "pii_scrub"           -> (c =>
      TextAnalysis.piiScrub(c.documents)),
    "multimodal_features" -> (c =>
      Multimodal.features(c.documents)),
    "multimodal_decode"   -> (c =>
      Multimodal.decodeFeatures(c.spark, Staged.images(c).imgs).toDF()),
    "image_decode"        -> (c =>
      Multimodal.imageDecode(Staged.images(c).imgs)),
    "image_dedup"         -> (c =>
      Multimodal.imageDedupFrom(Staged.images(c).fps)),
    "multimodal_frames"   -> (c =>
      Multimodal.frameSample(c.spark,
        Multimodal.mediaTable(c.documents)).toDF()
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"),
          col("width"), col("height"))),
    "multimodal_resize"   -> (c =>
      Multimodal.resizeMeta(
        Multimodal.mediaTable(c.documents))
        .select("doc_id", "width", "height", "out_width", "out_height")),
    "ann_topk"            -> (c => Staged.ann(c).cosTruth),
    "ann_lsh"             -> (c =>
      Similarity.lshTopK(c.embeddings)),
    "lsh_multiprobe"      -> (c =>
      Similarity.lshMultiprobe(c.embeddings)),
    "embed_quantize"      -> (c =>
      Similarity.quantizeStats(c.embeddings)),
    "ivf_assign"          -> (c => Staged.ann(c).assign),
    "ann_ivf"             -> (c =>
      Similarity.ivfTopKFrom(Staged.ann(c).assign,
        c.embeddings)),
    "dedup_embedding"     -> (c =>
      Similarity.embeddingNearDup(c.embeddings)),
    "cross_lang_pairs"    -> (c =>
      Similarity.crossLangPairs(c.embeddings,
        c.documents)),
    "semantic_contamination" -> (c =>
      Similarity.semanticContamination(c.embeddings)),
    "dedup_minhash"       -> (c => Staged.dedup(c).dups),
    "dedup_ngram_jaccard" -> (c => Staged.dedup(c).verified),
    "dedup_simhash"       -> (c => Staged.dedup(c).simPairs),
    "dedup_apply"         -> (c =>
      Dedup.dedupApply(c.documents, Staged.dedup(c).dups)),
    "dedup_incremental"   -> (c => {
      val st = Staged.dedup(c)
      Dedup.incrementalDedupFrom(st.sh, st.sigs)
    }),
    "ivf_train"           -> (c =>
      Similarity.ivfTrainStep(c.embeddings)),
    "ivf_incremental"     -> (c =>
      Similarity.ivfIncrementalFrom(Staged.ann(c).assign,
        c.embeddings)),
    "knn_graph"           -> (c =>
      Similarity.knnGraphFrom(Staged.ann(c).assign,
        c.embeddings)),
    "hubness_audit"       -> (c =>
      Similarity.hubnessAuditFrom(Staged.ann(c).assign,
        c.embeddings)),
    "knn_components"      -> (c =>
      Similarity.knnComponentsFrom(Staged.ann(c).assign,
        c.embeddings)),
    "nn_descent"          -> (c =>
      Similarity.nnDescentFrom(Staged.ann(c).assign,
        c.embeddings)),
    "knn_recall"          -> (c =>
      Similarity.knnRecallFrom(Staged.ann(c).assign,
        c.embeddings)),
    "knn_recall_probe"    -> (c =>
      Similarity.knnRecallProbeFrom(Staged.ann(c).assign,
        c.embeddings)),
    "knn_graph_probe"     -> (c =>
      Similarity.knnGraphProbeFrom(Staged.ann(c).assign,
        c.embeddings)),
    "knn_components_probe" -> (c =>
      Similarity.knnComponentsProbeFrom(Staged.ann(c).assign,
        c.embeddings)),
    "nn_descent_probe"    -> (c =>
      Similarity.nnDescentProbeFrom(Staged.ann(c).assign,
        c.embeddings)),
    "hubness_audit_probe" -> (c =>
      Similarity.hubnessAuditProbeFrom(Staged.ann(c).assign,
        c.embeddings)),
    "ann_index_card"      -> (c =>
      Similarity.annIndexCardFrom(Staged.ann(c).assign,
        c.embeddings)),
    "ivf_balance"         -> (c =>
      Similarity.ivfBalanceFrom(Staged.ann(c).assign)),
    "embed_drift"         -> (c =>
      Similarity.embedDrift(c.embeddings)),
    "quality_filter"      -> (c =>
      TextAnalysis.qualityFilter(c.documents)),
    "corpus_sample"       -> (c =>
      TextAnalysis.stratifiedSample(c.documents)),
    "split_assign"        -> (c =>
      TextAnalysis.splitAssign(c.documents)),
    "split_kfold"         -> (c =>
      TextAnalysis.splitKfold(c.documents)),
    "training_pipeline"   -> (c => {
      val d = Staged.dedup(c)
      TrainingPipeline.runFrom(c.documents, d.sh, d.verified,
        d.overfullIfAny)
    }),
    "dup_cluster"         -> (c =>
      Dedup.dupClustersFrom(Staged.dedup(c).dups)),
    "soft_dedup_weights"  -> (c =>
      Dedup.softDedupWeights(c.documents,
        Staged.dedup(c).dups)),
    "contrastive_triplets" -> (c =>
      Similarity.contrastiveTriplets(Staged.dedup(c).dups,
        c.embeddings)),
    "quality_gopher"      -> (c => Staged.tokens(c).gopher),
    "repeat_plan"         -> (c =>
      Curation.repeatPlanFrom(c.documents,
        Staged.tokens(c).gopher)),
    "doc_rarity"          -> (c => {
      val st = Staged.tokens(c)
      TextAnalysis.docRarityFrom(st.tokens, st.freq)
    }),
    "mix_weights"         -> (c =>
      TextAnalysis.mixWeights(c.documents)),
    "mix_temperature"     -> (c =>
      TextAnalysis.mixTemperature(c.documents)),
    "blocklist_filter"    -> (c =>
      TextAnalysis.blocklistFilter(c.documents)),
    "doc_chunk"           -> (c =>
      TextAnalysis.docChunks(c.documents)),
    "pack_sequences"      -> (c =>
      TextAnalysis.packSequences(c.documents)),
    "pack_efficiency"     -> (c =>
      TextAnalysis.packEfficiency(c.documents)),
    "padding_plan"        -> (c =>
      TextAnalysis.paddingPlan(c.documents)),
    "dist_drift"          -> (c =>
      TextAnalysis.distDriftFrom(Staged.tokens(c).tokens)),
    "source_rollup"       -> (c =>
      TextAnalysis.sourceRollupFrom(c.documents,
        Staged.tokens(c).gopher)),
    "span_dedup"          -> (c =>
      TextAnalysis.spanDedup(c.documents)),
    "span_corruption"     -> (c =>
      TextAnalysis.spanCorruptionPlan(c.documents)),
    "bpe_merge"           -> (c =>
      TextAnalysis.bpeMergeStepFrom(Staged.tokens(c).freq)),
    "token_budget"        -> (c =>
      TextAnalysis.tokenBudgetFrom(c.documents,
        Staged.tokens(c).gopher)),
    "epoch_shuffle"       -> (c =>
      TextAnalysis.epochShuffle(c.documents)),
    "curriculum_order"    -> (c =>
      TextAnalysis.curriculumOrderFrom(Staged.tokens(c).gopher)),
    "vocab_coverage"      -> (c => {
      val st = Staged.tokens(c)
      TextAnalysis.vocabCoverageFrom(st.tokens, st.freq)
    }),
    "vocab_coverage_curve" -> (c => {
      val st = Staged.tokens(c)
      TextAnalysis.vocabCoverageCurveFrom(st.tokens, st.freq)
    }),
    "vocab_growth"        -> (c =>
      TextAnalysis.vocabGrowthFrom(Staged.tokens(c).tokens)),
    "semantic_dedup"      -> (c =>
      Similarity.semanticDedupFrom(Staged.ann(c).assign,
        c.embeddings)),
    "ngram_lm_score"      -> (c =>
      TextAnalysis.ngramLmScoreFrom(Staged.tokens(c).skipgrams)),
    "quality_classify"    -> (c =>
      TextAnalysis.qualityClassifyFrom(Staged.tokens(c).tokens)),
    "dataset_card"        -> (c =>
      TextAnalysis.datasetCard(c.documents)),
    "substring_dedup"     -> (c =>
      Dedup.substringDedup(c.documents)),
    "pq_encode"           -> (c =>
      Similarity.pqEncode(c.embeddings)),
    "pq_search"           -> (c =>
      Similarity.pqSearch(c.embeddings)),
    "pq_recall"           -> (c =>
      Similarity.pqRecallFrom(Staged.ann(c).l2truth,
        c.embeddings)),
    "pq_train"            -> (c =>
      Similarity.pqTrainFrom(Staged.ann(c).chain)),
    "ann_hard_negatives"  -> (c =>
      Similarity.hardNegatives(c.embeddings)),
    "pq_recall_trained"   -> (c => {
      val a = Staged.ann(c)
      Similarity.pqRecallTrainedFrom(a.chain, a.sub, a.l2truth,
        c.embeddings)
    }),
    "pq_recall_curve"     -> (c => {
      val a = Staged.ann(c)
      Similarity.pqRecallCurveFrom(a.chain, a.sub, a.l2truth,
        c.embeddings)
    }),
    "pq_recall_opq"       -> (c => {
      val a = Staged.ann(c)
      Similarity.pqRecallOpqFrom(a.opqChain, a.opqSub,
        Similarity.opqQSubFrom(c.embeddings, a.opqPerm),
        a.l2truth)
    }),
    "pq_opq_balance"      -> (c =>
      Similarity.opqSubspaceBalance(c.embeddings)),
    "pq_recall_residual"  -> (c =>
      Similarity.pqRecallResidualFrom(c.embeddings,
        Staged.ann(c).l2truth)),
    "pq_rerank_curve"     -> (c => {
      val a = Staged.ann(c)
      Similarity.pqRerankCurveFrom(a.chain, a.sub, a.l2truth,
        c.embeddings)
    }),
    "bpe_train_curve"     -> (c =>
      TextAnalysis.bpeTrainCurveFrom(Staged.tokens(c).freq)),
    "tfidf_topk"          -> (c =>
      TextAnalysis.tfidfTopKFrom(Staged.tokens(c).tokens)),
    "value_quantiles"     -> (c => Ledger.valueQuantiles(cl(c))),
    "quantile_sketch_error" -> (c =>
      Ledger.quantileSketchError(cl(c))),
    "value_concentration" -> (c =>
      Ledger.valueConcentration(cl(c))),
    "slo_burn"            -> (c => Ledger.sloBurn(cl(c))),
    "migration_plan"      -> (c =>
      Snapshot.migrationPlan(c.spark, Seq(
        "region" -> c.region,
        "nation" -> c.nation,
        "customer" -> c.customer,
        "supplier" -> c.supplier,
        "part" -> c.part,
        "orders" -> c.orders,
        "lineitem" -> c.lineitem,
        "documents" -> c.documents,
        "embeddings" -> c.embeddings))),
    "key_skew_report"     -> (c => Ledger.keySkewReport(cl(c))),
    "sync_lag"            -> (c => Ledger.syncLag(cl(c))),
    "sq_recall"           -> (c =>
      Similarity.sqRecallFrom(Staged.ann(c).cosTruth,
        c.embeddings)),
    "rp_recall"           -> (c =>
      Similarity.rpRecallFrom(Staged.ann(c).cosTruth,
        c.embeddings)),
    "ivf_sq_recall"       -> (c =>
      Similarity.ivfSqRecallFrom(Staged.ann(c).cosTruth,
        Staged.ann(c).assign, c.embeddings)),
    "mrl_recall"          -> (c =>
      Similarity.mrlRecallCurveFrom(Staged.ann(c).cosTruth,
        c.embeddings)),
    "bq_recall"           -> (c =>
      Similarity.bqRecallFrom(Staged.ann(c).cosTruth,
        c.embeddings)),
    "ivf_recall"          -> (c => {
      val a = Staged.ann(c)
      Similarity.ivfRecallFrom(a.cosTruth, a.assign,
        c.embeddings)
    }),
    "ivf_recall_curve"    -> (c => {
      val a = Staged.ann(c)
      Similarity.ivfRecallCurveFrom(a.cosTruth, a.assign,
        c.embeddings)
    }),
    "shard_balance"       -> (c =>
      TextAnalysis.shardBalance(c.documents)),
    "ring_rebalance"      -> (c =>
      TextAnalysis.ringRebalance(c.documents)),
    "backfill_plan"       -> (c =>
      Snapshot.backfillPlan(c.customer)),
    "ingest_parity"       -> (c =>
      TextAnalysis.ingestParity(c.documents)),
    "pmi_pairs"           -> (c => {
      val st = Staged.tokens(c)
      TextAnalysis.pmiPairsFrom(st.skipgrams, st.freq)
    }),
    "bpe_apply"           -> (c =>
      TextAnalysis.bpeApplyStepFrom(Staged.tokens(c).freq)),
    "apply_batch_plan"    -> (c =>
      ChangeLog.applyBatchPlan(cl(c))),
    "props_census"        -> (c =>
      ChangeLog.propsCensus(c.events)),
    "funnel_conversion"   -> (c =>
      Analytics.funnelConversion(c.events)),
    "attribution_last_touch" -> (c =>
      Analytics.attributionLastTouch(c.events)),
    "attribution_linear"  -> (c =>
      Analytics.attributionLinear(c.events)),
    "stream_linear_parity" -> (c =>
      graft.streaming.CdcStream.linearParity(c.spark, c.events)),
    "attribution_position" -> (c =>
      Analytics.attributionPosition(c.events)),
    "stream_position_parity" -> (c =>
      graft.streaming.CdcStream.positionParity(c.spark, c.events)),
    "event_transitions"   -> (c =>
      Analytics.eventTransitions(c.events)),
    "event_paths"         -> (c =>
      Analytics.eventPaths(c.events)),
    "rate_changepoint"    -> (c =>
      Temporal.rateChangepoint(c.events)),
    "rfm_segments"        -> (c =>
      Analytics.rfmSegments(c.events)),
    "retention_cohorts"   -> (c =>
      Analytics.retentionCohorts(c.events)),
    "cohort_ltv"          -> (c =>
      Analytics.cohortLtv(c.events)),
    "value_histogram"     -> (c =>
      Analytics.valueHistogram(cl(c))),
    "minhash_est_error"   -> (c => {
      val st = Staged.dedup(c)
      Dedup.minhashEstErrorFrom(st.sh, st.sigs)
    }),
    "dedup_agreement"     -> (c => {
      val st = Staged.dedup(c)
      Dedup.dedupMethodAgreementFrom(st.dups, st.simPairs)
    }),
    "doclen_histogram"    -> (c =>
      TextAnalysis.docLenHistogram(c.documents)),
    "ngram_novelty"       -> (c =>
      TextAnalysis.ngramNovelty(c.documents)),
    "embed_norm_stats"    -> (c =>
      Similarity.embedNormStats(c.embeddings)),
    "checksum_compare"    -> (c =>
      Snapshot.checksumCompare(c.customer)),
    "benford_audit"       -> (c =>
      Snapshot.benfordAudit(c.orders)),
    "mad_outliers"        -> (c =>
      Snapshot.madOutliers(c.orders,
        c.customer)),
    "order_reconcile"     -> (c =>
      Snapshot.orderReconcile(c.orders,
        c.lineitem)),
    "access_export"       -> (c =>
      Snapshot.accessExport(cl(c), c.customer,
        c.orders)),
    "fk_integrity"        -> (c =>
      Snapshot.fkIntegrityFrom(Staged.catalog(c))),
    "kmeans_shift"        -> (c =>
      Similarity.kmeansShift(c.embeddings)),
    "cluster_cohesion"    -> (c =>
      Similarity.clusterCohesion(c.embeddings)),
    "ann_tombstones"      -> (c =>
      Similarity.annTombstones(c.embeddings)),
    "kmeans_stability"    -> (c =>
      Similarity.kmeansStability(c.embeddings)),
    "seasonal_anomaly"    -> (c =>
      Temporal.seasonalAnomaly(cl(c))),
    "queue_wait_audit"    -> (c =>
      Temporal.queueWaitAudit(cl(c))),
    "bot_detection"       -> (c =>
      Temporal.botDetection(cl(c))),
    "acf_profile"         -> (c =>
      Temporal.acfProfile(cl(c))),
    "fano_burstiness"     -> (c =>
      Temporal.fanoBurstiness(cl(c))),
    "watermark_sweep"     -> (c =>
      Temporal.watermarkSweep(cl(c))),
    "sequence_gap_audit"  -> (c =>
      Ledger.sequenceGapAudit(cl(c))),
    "stream_gap_parity"   -> (c =>
      graft.streaming.CdcStream.gapParity(c.spark, cl(c))),
    "stream_compaction_parity" -> (c =>
      graft.streaming.CdcStream.compactionParity(c.spark, cl(c))),
    "view_refresh_plan"   -> (c =>
      CdcMerge.viewRefreshPlan(c.orders,
        c.lineitem)),
    "ops_dashboard"       -> (c => Ledger.opsDashboard(cl(c))),
    "data_skipping_audit" -> (c =>
      Snapshot.dataSkippingAudit(c.lineitem)),
    "cooccur_topk"        -> (c =>
      TextAnalysis.cooccurTopKFrom(Staged.tokens(c).skipgrams)),
    "olap_order_priority" -> (c =>
      Analytics.orderPriority(c.orders, c.lineitem)),
    "quality_calibration" -> (c => {
      val st = Staged.tokens(c)
      TextAnalysis.qualityCalibrationFrom(
        TextAnalysis.qualityClassifyFrom(st.tokens), st.gopher)
    }),
    "cluster_size_hist"   -> (c => Dedup.clusterSizeHistFrom(
      Dedup.dupClustersFrom(Staged.dedup(c).dups))),
    "user_profile"        -> (c => Temporal.userProfile(cl(c))),
    "arrival_monitor"     -> (c => Temporal.arrivalMonitor(cl(c))),
    "arrival_anomaly"     -> (c => Temporal.arrivalAnomaly(cl(c))),
    "olap_promo_revenue"  -> (c =>
      Analytics.promoRevenue(c.part, c.lineitem)),
    "load_profile"        -> (c => Analytics.loadProfile(cl(c))),
    "table_manifest"      -> (c =>
      Snapshot.tableManifest(c.region, c.nation,
        c.customer, c.supplier, c.part,
        c.orders, c.lineitem)),
    "catalog_stats"       -> (c =>
      Snapshot.catalogStatsFrom(Staged.catalog(c),
        Snapshot.CatalogColumns)),
    "partition_advisor"   -> (c =>
      Snapshot.partitionAdvisor(catalogGrid(c))),
    "catalog_stats_sketch" -> (c =>
      Snapshot.catalogStatsSketchGateFrom(Staged.catalog(c),
        Snapshot.CatalogColumns, catalogGrid(c))),
    "join_size_estimate"  -> (c =>
      Snapshot.joinSizeEstimateFrom(Staged.catalog(c))),
    "anisotropy_audit"    -> (c =>
      Similarity.anisotropyAudit(c.embeddings)),
    "mmr_diversify"       -> (c =>
      Similarity.mmrDiversify(c.embeddings)),
    "modal_align"         -> (c =>
      Multimodal.modalAlign(c.documents,
        c.embeddings)),
    "bloom_prune"         -> (c => Sketches.bloomPrune(cl(c))),
    "cms_error"           -> (c =>
      Sketches.cmsError(c.documents)),
    "olap_rollup"         -> (c =>
      Analytics.pricingRollup(c.lineitem)),
    "olap_moving_revenue" -> (c =>
      Analytics.movingRevenue(c.lineitem)),
    "op_mix_pivot"        -> (c => Analytics.opMixPivot(cl(c))),
    "repair_plan"         -> (c =>
      Snapshot.repairPlan(c.customer)),
    "dedup_sweep"         -> (c =>
      Dedup.dedupSweepFrom(Staged.dedup(c).verified)),
    "ngram_containment"   -> (c => {
      val st = Staged.dedup(c)
      Dedup.containmentFrom(st.sh, st.sigs)
    }),
    "bbit_minhash"        -> (c => {
      val st = Staged.dedup(c)
      Dedup.bbitMinhashFrom(st.sh, st.sigs)
    }),
    "minhash_width_sweep" -> (c => {
      val st = Staged.dedup(c)
      Dedup.minhashWidthSweepFrom(st.sh, st.sigs)
    }),
    "dedup_editdist"      -> (c => Dedup.dedupEditDistFrom(
      c.documents, Staged.dedup(c).verified)),
    "cross_source_overlap" -> (c => Dedup.crossSourceOverlapFrom(
      c.documents, Staged.dedup(c).dups)),
    "dup_token_share"     -> (c => Dedup.dupTokenShareFrom(
      c.documents, Staged.dedup(c).dups)),
    "forget_audit"        -> (c =>
      Snapshot.forgetAudit(cl(c), c.customer,
        c.orders, c.lineitem)),
    "lsh_band_sweep"      -> (c => {
      val st = Staged.dedup(c)
      Dedup.lshBandSweepFrom(st.sh, st.sigs)
    }),
    "conversion_lag"      -> (c =>
      Analytics.conversionLag(c.events)),
    "session_quantiles"   -> (c =>
      Temporal.sessionQuantiles(cl(c))),
    "active_users"        -> (c =>
      Temporal.activeUsersRolling(cl(c))),
    "olap_q6_discount"    -> (c =>
      Analytics.revenueFromDiscount(c.lineitem)),
    "olap_top_supplier"   -> (c =>
      Analytics.topSupplier(c.supplier,
        c.lineitem)),
    "olap_large_orders"   -> (c =>
      Analytics.largeOrders(c.customer, c.orders,
        c.lineitem)),
    "olap_returned_top"   -> (c =>
      Analytics.returnedTop(c.customer, c.nation,
        c.lineitem, c.orders)),
    "olap_trade_matrix"   -> (c =>
      Analytics.tradeMatrix(c.supplier, c.customer,
        c.nation, c.orders,
        c.lineitem)),
    "olap_market_share"   -> (c =>
      Analytics.marketShare(c.part, c.supplier,
        c.customer, c.nation,
        c.region, c.orders,
        c.lineitem)),
    "olap_product_profit" -> (c =>
      Analytics.productProfit(c.part, c.supplier,
        c.nation, c.orders,
        c.lineitem)),
    "olap_order_dist"     -> (c =>
      Analytics.orderCountDist(c.customer,
        c.orders)),
    "olap_parts_suppliers" -> (c =>
      Analytics.partsSuppliers(c.part,
        c.lineitem)),
    "olap_small_qty"      -> (c =>
      Analytics.smallQtyRevenue(c.part,
        c.lineitem)),
    "olap_bulk_discount"  -> (c =>
      Analytics.bulkDiscount(c.part,
        c.lineitem)),
    "olap_sales_opportunity" -> (c =>
      Analytics.salesOpportunity(c.customer,
        c.orders)),
    "supplier_returns"    -> (c =>
      Analytics.supplierReturns(c.supplier,
        c.lineitem)),
    "discount_qty_corr"   -> (c =>
      Analytics.discountQuantityCorr(c.part,
        c.lineitem)),
    "olap_ship_delay"     -> (c =>
      Analytics.shipDelayProfile(c.orders,
        c.lineitem)),
    "olap_late_suppliers" -> (c =>
      Analytics.lateSuppliers(c.supplier,
        c.orders, c.lineitem)),
    "olap_min_cost_supplier" -> (c =>
      Analytics.minCostSupplier(c.part,
        c.supplier, c.nation,
        c.region, c.lineitem)),
    "olap_important_stock" -> (c =>
      Analytics.importantStock(c.supplier,
        c.nation, c.lineitem)),
    "olap_dominant_shippers" -> (c =>
      Analytics.dominantShippers(c.part,
        c.supplier, c.lineitem)),
    "market_basket"       -> (c =>
      Analytics.marketBasketFrom(Staged.baskets(c))),
    "brand_pagerank"      -> (c =>
      Analytics.brandPagerankFrom(Staged.baskets(c))),
    "weighted_sample"     -> (c =>
      TextAnalysis.weightedSample(c.documents)),
    "rrf_fusion"          -> (c =>
      Similarity.rrfFusion(c.embeddings)),
    "pq_subspace_balance" -> (c =>
      Similarity.pqSubspaceBalance(c.embeddings)),
    "char_diversity"      -> (c =>
      TextAnalysis.charDiversity(c.documents)),
    "rpo_audit"           -> (c => Ledger.rpoAudit(cl(c))),
    "session_gap_sweep"   -> (c =>
      Temporal.sessionGapSweep(cl(c))),
    "balance_audit"       -> (c => Ledger.balanceAudit(cl(c))),
    "join_advisor"        -> (c =>
      Snapshot.joinAdvisorFrom(Staged.catalog(c))),
    "embed_covariance"    -> (c =>
      Similarity.embedCovariance(c.embeddings)),
    "domain_caps"         -> (c =>
      Curation.domainCaps(c.documents)),
    "ccnet_buckets"       -> (c =>
      Curation.ccnetBucketsFrom(c.documents,
        Staged.tokens(c).skipgrams)),
    "dsir_weights"        -> (c =>
      Curation.dsirWeightsFrom(c.documents,
        Staged.tokens(c).skipgrams)),
    "token_fertility"     -> (c =>
      Curation.tokenFertilityFrom(c.documents,
        Staged.tokens(c).tokens)),
    "late_data_audit"     -> (c => Temporal.lateDataAudit(cl(c))),
    "cluster_representative" -> (c =>
      Dedup.clusterRepresentativesFrom(
        Dedup.dupClustersFrom(Staged.dedup(c).dups),
        Staged.tokens(c).gopher)),
    "topic_clusters"      -> (c =>
      Similarity.topicClustersFrom(Staged.ann(c).assign,
        c.documents, Staged.tokens(c).tokens)),
    "sample_coverage"     -> (c =>
      Similarity.sampleCoverageFrom(Staged.ann(c).assign,
        c.documents)),
    "incontext_order"     -> (c =>
      Similarity.incontextOrderFrom(Staged.ann(c).assign,
        c.embeddings)),
    "unimax_alloc"        -> (c =>
      Curation.unimaxAlloc(c.documents)),
    "curation_pipeline"   -> (c => {
      val st = Staged.tokens(c)
      Curation.curationPipelineFrom(c.documents,
        TextAnalysis.qualitySignalsFrom(st.gopher,
          TextAnalysis.qualityClassifyFrom(st.tokens),
          TextAnalysis.ngramLmScoreFrom(st.skipgrams),
          TextAnalysis.docRarityFrom(st.tokens, st.freq)),
        Dedup.dupClustersFrom(Staged.dedup(c).dups), st.gopher)
    }),
    "k_anonymity"         -> (c =>
      TextAnalysis.kAnonymity(c.documents)),
    "anon_generalize"     -> (c =>
      TextAnalysis.anonGeneralize(c.documents)),
    "zipf_fit"            -> (c =>
      TextAnalysis.zipfFitFrom(Staged.tokens(c).freq)),
    "negative_sampling"   -> (c =>
      TextAnalysis.negativeSamplingFrom(Staged.tokens(c).freq)),
    "brand_triangles"     -> (c =>
      Analytics.brandTrianglesFrom(Staged.baskets(c))),
    "l_diversity"         -> (c =>
      TextAnalysis.lDiversity(c.documents)),
    "t_closeness"         -> (c =>
      TextAnalysis.tCloseness(c.documents)),
    "corpus_diversity"    -> (c =>
      TextAnalysis.corpusDiversity(c.documents)),
    "schema_drift"        -> (c =>
      Snapshot.schemaDrift(Snapshot.CatalogColumns.map { case (t, _) =>
        t -> c.table(t)
      })),
    "split_audit"         -> (c =>
      TextAnalysis.splitAuditFrom(c.documents,
        Staged.tokens(c).gopher)),
    "quality_ensemble"    -> (c => {
      val st = Staged.tokens(c)
      TextAnalysis.qualityEnsembleFrom(st.gopher,
        TextAnalysis.qualityClassifyFrom(st.tokens),
        TextAnalysis.ngramLmScoreFrom(st.skipgrams),
        TextAnalysis.docRarityFrom(st.tokens, st.freq))
    })
  )

  /** Tumbling 1-hour window × event_type throughput — the batch twin of
    * streaming.CdcStream's windowed aggregation. */
  private def streamWindowAgg(c: Corpus): DataFrame =
    c.events
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("value_cents"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value_cents").as("sum_cents"))
      .select(
        unix_timestamp(col("window.start")).as("hour_s"),
        col("event_type"), col("n"), col("sum_cents"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleSql.sql
}
