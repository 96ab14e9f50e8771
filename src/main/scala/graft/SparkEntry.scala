package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.SyncConfigs
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2/§7. Each entry is one
  * operator from the inventory; oracleSql holds the DuckDB twin.
  */
object SparkEntry {

  /** Normalized changelog for a scale-factor dir. */
  private def cl(s: SparkSession, dir: String): DataFrame =
    ChangeLog.normalize(Tables.events(s, dir))

  /** The catalog passes' (table, columns) inputs — driven by the SAME
    * [[Snapshot.CatalogColumns]] grid the DuckDB oracles are generated
    * from, so neither side can drift alone. */
  private def catalogGrid(s: SparkSession, dir: String)
  : Seq[(String, DataFrame)] = Staged.catalogGrid(s, dir)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CdcMerge.merge(cl(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2, built
    * through [[Staged.query]]: a repeat call over the same (session,
    * dir, session conf) gets a new DataFrame over the plan the first
    * build analyzed — the plan a fresh build returns — unless that
    * build launched a Spark job or holds a checkpoint outside the
    * staged relations; such a query is built on every call. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    builds.map { case (name, build) =>
      name -> ((s: SparkSession, dir: String) =>
        Staged.query(s, dir, name)(build(s, dir)))
    }

  /** The registry's builds, uncached: every call constructs the
    * DataFrame anew. */
  private[graft] val builds
  : Map[String, (SparkSession, String) => DataFrame] = Map(
    "changelog_normalize" -> ((s, dir) => cl(s, dir)),
    "poll_batch"          -> ((s, dir) =>
      ChangeLog.pollBatch(cl(s, dir)).select("event_id", "user_id", "op", "part")),
    "cdc_merge"           -> ((s, dir) => CdcMerge.merge(cl(s, dir))),
    "cdc_upsert_apply"    -> ((s, dir) =>
      CdcMerge.upsertApply(cl(s, dir), Tables.customer(s, dir))),
    "idempotence_gate"    -> ((s, dir) =>
      CdcMerge.idempotenceGate(cl(s, dir), Tables.customer(s, dir))),
    "cdc_delete_apply"    -> ((s, dir) =>
      CdcMerge.deleteApply(cl(s, dir), Tables.customer(s, dir))),
    "incremental_agg"     -> ((s, dir) =>
      CdcMerge.incrementalAgg(cl(s, dir), Tables.customer(s, dir))),
    "ordered_apply"       -> ((s, dir) => ChangeLog.orderedApply(cl(s, dir))),
    "route_fanout"        -> ((s, dir) => ChangeLog.routeFanout(cl(s, dir))),
    "conditional_capture" -> ((s, dir) =>
      ChangeLog.conditionalCapture(cl(s, dir))),
    "batch_ack"           -> ((s, dir) => Ledger.batchAck(cl(s, dir))),
    "sync_state"          -> ((s, dir) => Ledger.syncState(cl(s, dir))),
    "monitor_alerts"      -> ((s, dir) => Ledger.monitorAlerts(cl(s, dir))),
    "error_retry"         -> ((s, dir) => Ledger.errorRetry(cl(s, dir))),
    "blocked_chain"       -> ((s, dir) => Ledger.blockedChain(cl(s, dir))),
    "heartbeat_state"     -> ((s, dir) => Ledger.heartbeatState(cl(s, dir))),
    "component_lifecycle" -> ((s, dir) =>
      Ledger.componentLifecycle(cl(s, dir))),
    "retention_sweep"     -> ((s, dir) =>
      Ledger.retentionSweep(cl(s, dir))),
    "clean_retention"     -> ((s, dir) => Ledger.cleanRetention(cl(s, dir))),
    "queue_depth"         -> ((s, dir) => Ledger.queueDepth(cl(s, dir))),
    "approx_distinct"     -> ((s, dir) => Ledger.approxDistinct(cl(s, dir))),
    "log_compact"         -> ((s, dir) => Ledger.logCompact(cl(s, dir))),
    "compaction_plan"     -> ((s, dir) =>
      Ledger.compactionPlan(cl(s, dir))),
    "value_median"        -> ((s, dir) => Ledger.valueMedian(cl(s, dir))),
    "status_rollup"       -> ((s, dir) => Ledger.statusRollup(cl(s, dir))),
    "endpoint_status"     -> ((s, dir) => Endpoints.statusJson(s, cl(s, dir))),
    "alert_payloads"      -> ((s, dir) => Endpoints.alertPayloads(cl(s, dir))),
    "scd2_history"        -> ((s, dir) => Temporal.scd2History(cl(s, dir))),
    "tier_history"        -> ((s, dir) => Temporal.tierHistory(cl(s, dir))),
    "event_gaps"          -> ((s, dir) => Temporal.eventGaps(cl(s, dir))),
    "sessionize"          -> ((s, dir) => Temporal.sessionize(cl(s, dir))),
    "bounce_rate"         -> ((s, dir) => Temporal.bounceRate(cl(s, dir))),
    "asof_enrich"         -> ((s, dir) =>
      Joins.asofEnrich(cl(s, dir), Tables.orders(s, dir))),
    "pit_snapshot"        -> ((s, dir) => Joins.pitSnapshot(cl(s, dir))),
    "range_join_events"   -> ((s, dir) =>
      Joins.rangeJoinEvents(cl(s, dir), Tables.orders(s, dir))),
    "skew_salted_join"    -> ((s, dir) =>
      Joins.skewSaltedEnrich(cl(s, dir), Tables.customer(s, dir))),
    "pause_filter"        -> ((s, dir) => Ledger.pauseFilter(cl(s, dir))),
    "olap_pricing_summary" -> ((s, dir) =>
      Analytics.pricingSummary(Tables.lineitem(s, dir))),
    "olap_top_revenue"    -> ((s, dir) =>
      Analytics.topRevenueOrders(Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "olap_supplier_nation" -> ((s, dir) =>
      Analytics.supplierNationRevenue(Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.lineitem(s, dir))),
    "initial_sync"        -> ((s, dir) =>
      Snapshot.initialSync(Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),
    "delta_detect"        -> ((s, dir) =>
      Snapshot.deltaDetect(Tables.customer(s, dir))),
    "sync_conflicts"      -> ((s, dir) =>
      Snapshot.syncConflicts(Tables.customer(s, dir))),
    "handoff_audit"       -> ((s, dir) => Snapshot.handoffAudit(cl(s, dir))),
    "source_partition_plan" -> ((s, dir) =>
      Snapshot.sourcePartitionPlan(Tables.customer(s, dir))),
    "config_matrix"       -> ((s, _) => SyncConfigs.configMatrix(s)),
    "config_lint"         -> ((s, _) => SyncConfigs.configLint(s)),
    "trigger_specs"       -> ((s, _) => SyncConfigs.triggerSpecs(s)),
    "sync_reconcile"      -> ((s, _) => SyncConfigs.syncReconcile(s)),
    "datasource_status"   -> ((s, _) => SyncConfigs.datasourceStatus(s)),
    "sync_topology"       -> ((s, _) => SyncConfigs.syncTopology(s)),
    "blocked_replay"      -> ((s, dir) => Ledger.blockedReplay(cl(s, dir))),
    "poll_backoff"        -> ((s, dir) => {
      val sys = SyncConfigs.parse(SyncConfigs.DemoYaml).sys
      Ledger.pollBackoff(cl(s, dir), sys.batch.toLong, sys.maxPollWait.toLong)
    }),
    "stream_window_agg"   -> ((s, dir) => streamWindowAgg(s, dir)),
    "stream_merge_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.mergeParity(s, cl(s, dir))),
    "stream_sessionize_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.sessionizeParity(s, cl(s, dir))),
    "stream_dedup_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.dedupParity(s, Tables.events(s, dir))),
    "stream_window_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.windowParity(s, Tables.events(s, dir))),
    "stream_late_parity"  -> ((s, dir) =>
      graft.streaming.CdcStream.lateParity(s, Tables.events(s, dir))),
    "stream_attribution_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.attributionParity(s, Tables.events(s, dir))),
    "stream_transitions_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.transitionsParity(s, Tables.events(s, dir))),
    "stream_funnel_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.funnelParity(s, Tables.events(s, dir))),
    "stream_queue_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.queueParity(s, cl(s, dir))),
    "stream_balance_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.balanceParity(s, cl(s, dir))),
    "stream_tier_parity"  -> ((s, dir) =>
      graft.streaming.CdcStream.tierParity(s, cl(s, dir))),
    "pipeline_e2e"        -> ((s, dir) => Pipeline.run(s, dir).applied),
    // LLM-data-pipeline operators (SURVEY.md §2 #23-34)
    "dedup_exact"         -> ((s, dir) =>
      TextAnalysis.dedupExact(Tables.documents(s, dir))),
    "text_stats"          -> ((s, dir) =>
      TextAnalysis.textStats(Tables.documents(s, dir))),
    "readability_score"   -> ((s, dir) =>
      TextAnalysis.readabilityScore(Tables.documents(s, dir))),
    "lang_id"             -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir))),
    "token_count"         -> ((s, dir) =>
      TextAnalysis.tokenCount(Tables.documents(s, dir))),
    "doc_fingerprint"     -> ((s, dir) =>
      TextAnalysis.docFingerprint(Tables.documents(s, dir))),
    "doc_winnow"          -> ((s, dir) =>
      TextAnalysis.winnowStatsFrom(Staged.tokens(s, dir).winnow)),
    "contamination_check" -> ((s, dir) =>
      TextAnalysis.contaminationCheckFrom(Staged.tokens(s, dir).winnow)),
    "token_topk"          -> ((s, dir) =>
      TextAnalysis.tokenTopKFrom(Staged.tokens(s, dir).freq)),
    "pii_scrub"           -> ((s, dir) =>
      TextAnalysis.piiScrub(Tables.documents(s, dir))),
    "multimodal_features" -> ((s, dir) =>
      Multimodal.features(Tables.documents(s, dir))),
    "multimodal_decode"   -> ((s, dir) =>
      Multimodal.decodeFeatures(s, Staged.images(s, dir).imgs).toDF()),
    "image_decode"        -> ((s, dir) =>
      Multimodal.imageDecode(Staged.images(s, dir).imgs)),
    "image_dedup"         -> ((s, dir) =>
      Multimodal.imageDedupFrom(Staged.images(s, dir).fps)),
    "multimodal_frames"   -> ((s, dir) =>
      Multimodal.frameSample(s,
        Multimodal.mediaTable(Tables.documents(s, dir))).toDF()
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).cast("long").as("frame_len"),
          col("width"), col("height"))),
    "multimodal_resize"   -> ((s, dir) =>
      Multimodal.resizeMeta(
        Multimodal.mediaTable(Tables.documents(s, dir)))
        .select("doc_id", "width", "height", "out_width", "out_height")),
    "ann_topk"            -> ((s, dir) => Staged.ann(s, dir).cosTruth),
    "ann_lsh"             -> ((s, dir) =>
      Similarity.lshTopK(Tables.embeddings(s, dir))),
    "lsh_multiprobe"      -> ((s, dir) =>
      Similarity.lshMultiprobe(Tables.embeddings(s, dir))),
    "embed_quantize"      -> ((s, dir) =>
      Similarity.quantizeStats(Tables.embeddings(s, dir))),
    "ivf_assign"          -> ((s, dir) => Staged.ann(s, dir).assign),
    "ann_ivf"             -> ((s, dir) =>
      Similarity.ivfTopKFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "dedup_embedding"     -> ((s, dir) =>
      Similarity.embeddingNearDup(Tables.embeddings(s, dir))),
    "cross_lang_pairs"    -> ((s, dir) =>
      Similarity.crossLangPairs(Tables.embeddings(s, dir),
        Tables.documents(s, dir))),
    "semantic_contamination" -> ((s, dir) =>
      Similarity.semanticContamination(Tables.embeddings(s, dir))),
    "dedup_minhash"       -> ((s, dir) => Staged.dedup(s, dir).dups),
    "dedup_ngram_jaccard" -> ((s, dir) => Staged.dedup(s, dir).verified),
    "dedup_simhash"       -> ((s, dir) => Staged.dedup(s, dir).simPairs),
    "dedup_apply"         -> ((s, dir) =>
      Dedup.dedupApply(Tables.documents(s, dir), Staged.dedup(s, dir).dups)),
    "dedup_incremental"   -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.incrementalDedupFrom(st.sh, st.sigs)
    }),
    "ivf_train"           -> ((s, dir) =>
      Similarity.ivfTrainStep(Tables.embeddings(s, dir))),
    "ivf_incremental"     -> ((s, dir) =>
      Similarity.ivfIncrementalFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "knn_graph"           -> ((s, dir) =>
      Similarity.knnGraphFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "hubness_audit"       -> ((s, dir) =>
      Similarity.hubnessAuditFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "knn_components"      -> ((s, dir) =>
      Similarity.knnComponentsFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "nn_descent"          -> ((s, dir) =>
      Similarity.nnDescentFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "knn_recall"          -> ((s, dir) =>
      Similarity.knnRecallFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "knn_recall_probe"    -> ((s, dir) =>
      Similarity.knnRecallProbeFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "knn_graph_probe"     -> ((s, dir) =>
      Similarity.knnGraphProbeFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "knn_components_probe" -> ((s, dir) =>
      Similarity.knnComponentsProbeFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "nn_descent_probe"    -> ((s, dir) =>
      Similarity.nnDescentProbeFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "hubness_audit_probe" -> ((s, dir) =>
      Similarity.hubnessAuditProbeFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "ann_index_card"      -> ((s, dir) =>
      Similarity.annIndexCardFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "ivf_balance"         -> ((s, dir) =>
      Similarity.ivfBalanceFrom(Staged.ann(s, dir).assign)),
    "embed_drift"         -> ((s, dir) =>
      Similarity.embedDrift(Tables.embeddings(s, dir))),
    "quality_filter"      -> ((s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir))),
    "corpus_sample"       -> ((s, dir) =>
      TextAnalysis.stratifiedSample(Tables.documents(s, dir))),
    "split_assign"        -> ((s, dir) =>
      TextAnalysis.splitAssign(Tables.documents(s, dir))),
    "split_kfold"         -> ((s, dir) =>
      TextAnalysis.splitKfold(Tables.documents(s, dir))),
    "training_pipeline"   -> ((s, dir) => {
      val d = Staged.dedup(s, dir)
      TrainingPipeline.runFrom(Tables.documents(s, dir), d.sh, d.verified,
        d.overfullIfAny)
    }),
    "dup_cluster"         -> ((s, dir) =>
      Dedup.dupClustersFrom(Staged.dedup(s, dir).dups)),
    "soft_dedup_weights"  -> ((s, dir) =>
      Dedup.softDedupWeights(Tables.documents(s, dir),
        Staged.dedup(s, dir).dups)),
    "contrastive_triplets" -> ((s, dir) =>
      Similarity.contrastiveTriplets(Staged.dedup(s, dir).dups,
        Tables.embeddings(s, dir))),
    "quality_gopher"      -> ((s, dir) => Staged.tokens(s, dir).gopher),
    "repeat_plan"         -> ((s, dir) =>
      Curation.repeatPlanFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).gopher)),
    "doc_rarity"          -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      TextAnalysis.docRarityFrom(st.tokens, st.freq)
    }),
    "mix_weights"         -> ((s, dir) =>
      TextAnalysis.mixWeights(Tables.documents(s, dir))),
    "mix_temperature"     -> ((s, dir) =>
      TextAnalysis.mixTemperature(Tables.documents(s, dir))),
    "blocklist_filter"    -> ((s, dir) =>
      TextAnalysis.blocklistFilter(Tables.documents(s, dir))),
    "doc_chunk"           -> ((s, dir) =>
      TextAnalysis.docChunks(Tables.documents(s, dir))),
    "pack_sequences"      -> ((s, dir) =>
      TextAnalysis.packSequences(Tables.documents(s, dir))),
    "pack_efficiency"     -> ((s, dir) =>
      TextAnalysis.packEfficiency(Tables.documents(s, dir))),
    "padding_plan"        -> ((s, dir) =>
      TextAnalysis.paddingPlan(Tables.documents(s, dir))),
    "dist_drift"          -> ((s, dir) =>
      TextAnalysis.distDriftFrom(Staged.tokens(s, dir).tokens)),
    "source_rollup"       -> ((s, dir) =>
      TextAnalysis.sourceRollupFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).gopher)),
    "span_dedup"          -> ((s, dir) =>
      TextAnalysis.spanDedup(Tables.documents(s, dir))),
    "span_corruption"     -> ((s, dir) =>
      TextAnalysis.spanCorruptionPlan(Tables.documents(s, dir))),
    "bpe_merge"           -> ((s, dir) =>
      TextAnalysis.bpeMergeStepFrom(Staged.tokens(s, dir).freq)),
    "token_budget"        -> ((s, dir) =>
      TextAnalysis.tokenBudgetFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).gopher)),
    "epoch_shuffle"       -> ((s, dir) =>
      TextAnalysis.epochShuffle(Tables.documents(s, dir))),
    "curriculum_order"    -> ((s, dir) =>
      TextAnalysis.curriculumOrderFrom(Staged.tokens(s, dir).gopher)),
    "vocab_coverage"      -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      TextAnalysis.vocabCoverageFrom(st.tokens, st.freq)
    }),
    "vocab_coverage_curve" -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      TextAnalysis.vocabCoverageCurveFrom(st.tokens, st.freq)
    }),
    "vocab_growth"        -> ((s, dir) =>
      TextAnalysis.vocabGrowthFrom(Staged.tokens(s, dir).tokens)),
    "semantic_dedup"      -> ((s, dir) =>
      Similarity.semanticDedupFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "ngram_lm_score"      -> ((s, dir) =>
      TextAnalysis.ngramLmScoreFrom(Staged.tokens(s, dir).skipgrams)),
    "quality_classify"    -> ((s, dir) =>
      TextAnalysis.qualityClassifyFrom(Staged.tokens(s, dir).tokens)),
    "dataset_card"        -> ((s, dir) =>
      TextAnalysis.datasetCard(Tables.documents(s, dir))),
    "substring_dedup"     -> ((s, dir) =>
      Dedup.substringDedup(Tables.documents(s, dir))),
    "pq_encode"           -> ((s, dir) =>
      Similarity.pqEncode(Tables.embeddings(s, dir))),
    "pq_search"           -> ((s, dir) =>
      Similarity.pqSearch(Tables.embeddings(s, dir))),
    "pq_recall"           -> ((s, dir) =>
      Similarity.pqRecallFrom(Staged.ann(s, dir).l2truth,
        Tables.embeddings(s, dir))),
    "pq_train"            -> ((s, dir) =>
      Similarity.pqTrainFrom(Staged.ann(s, dir).chain)),
    "ann_hard_negatives"  -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir))),
    "pq_recall_trained"   -> ((s, dir) => {
      val a = Staged.ann(s, dir)
      Similarity.pqRecallTrainedFrom(a.chain, a.sub, a.l2truth,
        Tables.embeddings(s, dir))
    }),
    "pq_recall_curve"     -> ((s, dir) => {
      val a = Staged.ann(s, dir)
      Similarity.pqRecallCurveFrom(a.chain, a.sub, a.l2truth,
        Tables.embeddings(s, dir))
    }),
    "pq_recall_opq"       -> ((s, dir) => {
      val a = Staged.ann(s, dir)
      Similarity.pqRecallOpqFrom(a.opqChain, a.opqSub,
        Similarity.opqQSubFrom(Tables.embeddings(s, dir), a.opqPerm),
        a.l2truth)
    }),
    "pq_opq_balance"      -> ((s, dir) =>
      Similarity.opqSubspaceBalance(Tables.embeddings(s, dir))),
    "pq_recall_residual"  -> ((s, dir) =>
      Similarity.pqRecallResidualFrom(Tables.embeddings(s, dir),
        Staged.ann(s, dir).l2truth)),
    "pq_rerank_curve"     -> ((s, dir) => {
      val a = Staged.ann(s, dir)
      Similarity.pqRerankCurveFrom(a.chain, a.sub, a.l2truth,
        Tables.embeddings(s, dir))
    }),
    "bpe_train_curve"     -> ((s, dir) =>
      TextAnalysis.bpeTrainCurveFrom(Staged.tokens(s, dir).freq)),
    "tfidf_topk"          -> ((s, dir) =>
      TextAnalysis.tfidfTopKFrom(Staged.tokens(s, dir).tokens)),
    "value_quantiles"     -> ((s, dir) => Ledger.valueQuantiles(cl(s, dir))),
    "quantile_sketch_error" -> ((s, dir) =>
      Ledger.quantileSketchError(cl(s, dir))),
    "value_concentration" -> ((s, dir) =>
      Ledger.valueConcentration(cl(s, dir))),
    "slo_burn"            -> ((s, dir) => Ledger.sloBurn(cl(s, dir))),
    "migration_plan"      -> ((s, dir) =>
      Snapshot.migrationPlan(s, Seq(
        "region" -> Tables.region(s, dir),
        "nation" -> Tables.nation(s, dir),
        "customer" -> Tables.customer(s, dir),
        "supplier" -> Tables.supplier(s, dir),
        "part" -> Tables.part(s, dir),
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "documents" -> Tables.documents(s, dir),
        "embeddings" -> Tables.embeddings(s, dir)))),
    "key_skew_report"     -> ((s, dir) => Ledger.keySkewReport(cl(s, dir))),
    "sync_lag"            -> ((s, dir) => Ledger.syncLag(cl(s, dir))),
    "sq_recall"           -> ((s, dir) =>
      Similarity.sqRecallFrom(Staged.ann(s, dir).cosTruth,
        Tables.embeddings(s, dir))),
    "rp_recall"           -> ((s, dir) =>
      Similarity.rpRecallFrom(Staged.ann(s, dir).cosTruth,
        Tables.embeddings(s, dir))),
    "ivf_sq_recall"       -> ((s, dir) =>
      Similarity.ivfSqRecallFrom(Staged.ann(s, dir).cosTruth,
        Staged.ann(s, dir).assign, Tables.embeddings(s, dir))),
    "mrl_recall"          -> ((s, dir) =>
      Similarity.mrlRecallCurveFrom(Staged.ann(s, dir).cosTruth,
        Tables.embeddings(s, dir))),
    "bq_recall"           -> ((s, dir) =>
      Similarity.bqRecallFrom(Staged.ann(s, dir).cosTruth,
        Tables.embeddings(s, dir))),
    "ivf_recall"          -> ((s, dir) => {
      val a = Staged.ann(s, dir)
      Similarity.ivfRecallFrom(a.cosTruth, a.assign,
        Tables.embeddings(s, dir))
    }),
    "ivf_recall_curve"    -> ((s, dir) => {
      val a = Staged.ann(s, dir)
      Similarity.ivfRecallCurveFrom(a.cosTruth, a.assign,
        Tables.embeddings(s, dir))
    }),
    "shard_balance"       -> ((s, dir) =>
      TextAnalysis.shardBalance(Tables.documents(s, dir))),
    "ring_rebalance"      -> ((s, dir) =>
      TextAnalysis.ringRebalance(Tables.documents(s, dir))),
    "backfill_plan"       -> ((s, dir) =>
      Snapshot.backfillPlan(Tables.customer(s, dir))),
    "ingest_parity"       -> ((s, dir) =>
      TextAnalysis.ingestParity(Tables.documents(s, dir))),
    "pmi_pairs"           -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      TextAnalysis.pmiPairsFrom(st.skipgrams, st.freq)
    }),
    "bpe_apply"           -> ((s, dir) =>
      TextAnalysis.bpeApplyStepFrom(Staged.tokens(s, dir).freq)),
    "apply_batch_plan"    -> ((s, dir) =>
      ChangeLog.applyBatchPlan(cl(s, dir))),
    "props_census"        -> ((s, dir) =>
      ChangeLog.propsCensus(Tables.events(s, dir))),
    "funnel_conversion"   -> ((s, dir) =>
      Analytics.funnelConversion(Tables.events(s, dir))),
    "attribution_last_touch" -> ((s, dir) =>
      Analytics.attributionLastTouch(Tables.events(s, dir))),
    "attribution_linear"  -> ((s, dir) =>
      Analytics.attributionLinear(Tables.events(s, dir))),
    "stream_linear_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.linearParity(s, Tables.events(s, dir))),
    "attribution_position" -> ((s, dir) =>
      Analytics.attributionPosition(Tables.events(s, dir))),
    "stream_position_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.positionParity(s, Tables.events(s, dir))),
    "event_transitions"   -> ((s, dir) =>
      Analytics.eventTransitions(Tables.events(s, dir))),
    "event_paths"         -> ((s, dir) =>
      Analytics.eventPaths(Tables.events(s, dir))),
    "rate_changepoint"    -> ((s, dir) =>
      Temporal.rateChangepoint(Tables.events(s, dir))),
    "rfm_segments"        -> ((s, dir) =>
      Analytics.rfmSegments(Tables.events(s, dir))),
    "retention_cohorts"   -> ((s, dir) =>
      Analytics.retentionCohorts(Tables.events(s, dir))),
    "cohort_ltv"          -> ((s, dir) =>
      Analytics.cohortLtv(Tables.events(s, dir))),
    "value_histogram"     -> ((s, dir) =>
      Analytics.valueHistogram(cl(s, dir))),
    "minhash_est_error"   -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.minhashEstErrorFrom(st.sh, st.sigs)
    }),
    "dedup_agreement"     -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.dedupMethodAgreementFrom(st.dups, st.simPairs)
    }),
    "doclen_histogram"    -> ((s, dir) =>
      TextAnalysis.docLenHistogram(Tables.documents(s, dir))),
    "ngram_novelty"       -> ((s, dir) =>
      TextAnalysis.ngramNovelty(Tables.documents(s, dir))),
    "embed_norm_stats"    -> ((s, dir) =>
      Similarity.embedNormStats(Tables.embeddings(s, dir))),
    "checksum_compare"    -> ((s, dir) =>
      Snapshot.checksumCompare(Tables.customer(s, dir))),
    "benford_audit"       -> ((s, dir) =>
      Snapshot.benfordAudit(Tables.orders(s, dir))),
    "mad_outliers"        -> ((s, dir) =>
      Snapshot.madOutliers(Tables.orders(s, dir),
        Tables.customer(s, dir))),
    "order_reconcile"     -> ((s, dir) =>
      Snapshot.orderReconcile(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "access_export"       -> ((s, dir) =>
      Snapshot.accessExport(cl(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir))),
    "fk_integrity"        -> ((s, dir) =>
      Snapshot.fkIntegrityFrom(Staged.catalog(s, dir))),
    "kmeans_shift"        -> ((s, dir) =>
      Similarity.kmeansShift(Tables.embeddings(s, dir))),
    "cluster_cohesion"    -> ((s, dir) =>
      Similarity.clusterCohesion(Tables.embeddings(s, dir))),
    "ann_tombstones"      -> ((s, dir) =>
      Similarity.annTombstones(Tables.embeddings(s, dir))),
    "kmeans_stability"    -> ((s, dir) =>
      Similarity.kmeansStability(Tables.embeddings(s, dir))),
    "seasonal_anomaly"    -> ((s, dir) =>
      Temporal.seasonalAnomaly(cl(s, dir))),
    "queue_wait_audit"    -> ((s, dir) =>
      Temporal.queueWaitAudit(cl(s, dir))),
    "bot_detection"       -> ((s, dir) =>
      Temporal.botDetection(cl(s, dir))),
    "acf_profile"         -> ((s, dir) =>
      Temporal.acfProfile(cl(s, dir))),
    "fano_burstiness"     -> ((s, dir) =>
      Temporal.fanoBurstiness(cl(s, dir))),
    "watermark_sweep"     -> ((s, dir) =>
      Temporal.watermarkSweep(cl(s, dir))),
    "sequence_gap_audit"  -> ((s, dir) =>
      Ledger.sequenceGapAudit(cl(s, dir))),
    "stream_gap_parity"   -> ((s, dir) =>
      graft.streaming.CdcStream.gapParity(s, cl(s, dir))),
    "stream_compaction_parity" -> ((s, dir) =>
      graft.streaming.CdcStream.compactionParity(s, cl(s, dir))),
    "view_refresh_plan"   -> ((s, dir) =>
      CdcMerge.viewRefreshPlan(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "ops_dashboard"       -> ((s, dir) => Ledger.opsDashboard(cl(s, dir))),
    "data_skipping_audit" -> ((s, dir) =>
      Snapshot.dataSkippingAudit(Tables.lineitem(s, dir))),
    "cooccur_topk"        -> ((s, dir) =>
      TextAnalysis.cooccurTopKFrom(Staged.tokens(s, dir).skipgrams)),
    "olap_order_priority" -> ((s, dir) =>
      Analytics.orderPriority(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "quality_calibration" -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      TextAnalysis.qualityCalibrationFrom(
        TextAnalysis.qualityClassifyFrom(st.tokens), st.gopher)
    }),
    "cluster_size_hist"   -> ((s, dir) => Dedup.clusterSizeHistFrom(
      Dedup.dupClustersFrom(Staged.dedup(s, dir).dups))),
    "user_profile"        -> ((s, dir) => Temporal.userProfile(cl(s, dir))),
    "arrival_monitor"     -> ((s, dir) => Temporal.arrivalMonitor(cl(s, dir))),
    "arrival_anomaly"     -> ((s, dir) => Temporal.arrivalAnomaly(cl(s, dir))),
    "olap_promo_revenue"  -> ((s, dir) =>
      Analytics.promoRevenue(Tables.part(s, dir), Tables.lineitem(s, dir))),
    "load_profile"        -> ((s, dir) => Analytics.loadProfile(cl(s, dir))),
    "table_manifest"      -> ((s, dir) =>
      Snapshot.tableManifest(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "catalog_stats"       -> ((s, dir) =>
      Snapshot.catalogStatsFrom(Staged.catalog(s, dir),
        Snapshot.CatalogColumns)),
    "partition_advisor"   -> ((s, dir) =>
      Snapshot.partitionAdvisor(catalogGrid(s, dir))),
    "catalog_stats_sketch" -> ((s, dir) =>
      Snapshot.catalogStatsSketchGateFrom(Staged.catalog(s, dir),
        Snapshot.CatalogColumns, catalogGrid(s, dir))),
    "join_size_estimate"  -> ((s, dir) =>
      Snapshot.joinSizeEstimateFrom(Staged.catalog(s, dir))),
    "anisotropy_audit"    -> ((s, dir) =>
      Similarity.anisotropyAudit(Tables.embeddings(s, dir))),
    "mmr_diversify"       -> ((s, dir) =>
      Similarity.mmrDiversify(Tables.embeddings(s, dir))),
    "modal_align"         -> ((s, dir) =>
      Multimodal.modalAlign(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),
    "bloom_prune"         -> ((s, dir) => Sketches.bloomPrune(cl(s, dir))),
    "cms_error"           -> ((s, dir) =>
      Sketches.cmsError(Tables.documents(s, dir))),
    "olap_rollup"         -> ((s, dir) =>
      Analytics.pricingRollup(Tables.lineitem(s, dir))),
    "olap_moving_revenue" -> ((s, dir) =>
      Analytics.movingRevenue(Tables.lineitem(s, dir))),
    "op_mix_pivot"        -> ((s, dir) => Analytics.opMixPivot(cl(s, dir))),
    "repair_plan"         -> ((s, dir) =>
      Snapshot.repairPlan(Tables.customer(s, dir))),
    "dedup_sweep"         -> ((s, dir) =>
      Dedup.dedupSweepFrom(Staged.dedup(s, dir).verified)),
    "ngram_containment"   -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.containmentFrom(st.sh, st.sigs)
    }),
    "bbit_minhash"        -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.bbitMinhashFrom(st.sh, st.sigs)
    }),
    "minhash_width_sweep" -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.minhashWidthSweepFrom(st.sh, st.sigs)
    }),
    "dedup_editdist"      -> ((s, dir) => Dedup.dedupEditDistFrom(
      Tables.documents(s, dir), Staged.dedup(s, dir).verified)),
    "cross_source_overlap" -> ((s, dir) => Dedup.crossSourceOverlapFrom(
      Tables.documents(s, dir), Staged.dedup(s, dir).dups)),
    "dup_token_share"     -> ((s, dir) => Dedup.dupTokenShareFrom(
      Tables.documents(s, dir), Staged.dedup(s, dir).dups)),
    "forget_audit"        -> ((s, dir) =>
      Snapshot.forgetAudit(cl(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "lsh_band_sweep"      -> ((s, dir) => {
      val st = Staged.dedup(s, dir)
      Dedup.lshBandSweepFrom(st.sh, st.sigs)
    }),
    "conversion_lag"      -> ((s, dir) =>
      Analytics.conversionLag(Tables.events(s, dir))),
    "session_quantiles"   -> ((s, dir) =>
      Temporal.sessionQuantiles(cl(s, dir))),
    "active_users"        -> ((s, dir) =>
      Temporal.activeUsersRolling(cl(s, dir))),
    "olap_q6_discount"    -> ((s, dir) =>
      Analytics.revenueFromDiscount(Tables.lineitem(s, dir))),
    "olap_top_supplier"   -> ((s, dir) =>
      Analytics.topSupplier(Tables.supplier(s, dir),
        Tables.lineitem(s, dir))),
    "olap_large_orders"   -> ((s, dir) =>
      Analytics.largeOrders(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "olap_returned_top"   -> ((s, dir) =>
      Analytics.returnedTop(Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "olap_trade_matrix"   -> ((s, dir) =>
      Analytics.tradeMatrix(Tables.supplier(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "olap_market_share"   -> ((s, dir) =>
      Analytics.marketShare(Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "olap_product_profit" -> ((s, dir) =>
      Analytics.productProfit(Tables.part(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "olap_order_dist"     -> ((s, dir) =>
      Analytics.orderCountDist(Tables.customer(s, dir),
        Tables.orders(s, dir))),
    "olap_parts_suppliers" -> ((s, dir) =>
      Analytics.partsSuppliers(Tables.part(s, dir),
        Tables.lineitem(s, dir))),
    "olap_small_qty"      -> ((s, dir) =>
      Analytics.smallQtyRevenue(Tables.part(s, dir),
        Tables.lineitem(s, dir))),
    "olap_bulk_discount"  -> ((s, dir) =>
      Analytics.bulkDiscount(Tables.part(s, dir),
        Tables.lineitem(s, dir))),
    "olap_sales_opportunity" -> ((s, dir) =>
      Analytics.salesOpportunity(Tables.customer(s, dir),
        Tables.orders(s, dir))),
    "supplier_returns"    -> ((s, dir) =>
      Analytics.supplierReturns(Tables.supplier(s, dir),
        Tables.lineitem(s, dir))),
    "discount_qty_corr"   -> ((s, dir) =>
      Analytics.discountQuantityCorr(Tables.part(s, dir),
        Tables.lineitem(s, dir))),
    "olap_ship_delay"     -> ((s, dir) =>
      Analytics.shipDelayProfile(Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "olap_late_suppliers" -> ((s, dir) =>
      Analytics.lateSuppliers(Tables.supplier(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "olap_min_cost_supplier" -> ((s, dir) =>
      Analytics.minCostSupplier(Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir), Tables.lineitem(s, dir))),
    "olap_important_stock" -> ((s, dir) =>
      Analytics.importantStock(Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.lineitem(s, dir))),
    "olap_dominant_shippers" -> ((s, dir) =>
      Analytics.dominantShippers(Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.lineitem(s, dir))),
    "market_basket"       -> ((s, dir) =>
      Analytics.marketBasketFrom(Staged.baskets(s, dir))),
    "brand_pagerank"      -> ((s, dir) =>
      Analytics.brandPagerankFrom(Staged.baskets(s, dir))),
    "weighted_sample"     -> ((s, dir) =>
      TextAnalysis.weightedSample(Tables.documents(s, dir))),
    "rrf_fusion"          -> ((s, dir) =>
      Similarity.rrfFusion(Tables.embeddings(s, dir))),
    "pq_subspace_balance" -> ((s, dir) =>
      Similarity.pqSubspaceBalance(Tables.embeddings(s, dir))),
    "char_diversity"      -> ((s, dir) =>
      TextAnalysis.charDiversity(Tables.documents(s, dir))),
    "rpo_audit"           -> ((s, dir) => Ledger.rpoAudit(cl(s, dir))),
    "session_gap_sweep"   -> ((s, dir) =>
      Temporal.sessionGapSweep(cl(s, dir))),
    "balance_audit"       -> ((s, dir) => Ledger.balanceAudit(cl(s, dir))),
    "join_advisor"        -> ((s, dir) =>
      Snapshot.joinAdvisorFrom(Staged.catalog(s, dir))),
    "embed_covariance"    -> ((s, dir) =>
      Similarity.embedCovariance(Tables.embeddings(s, dir))),
    "domain_caps"         -> ((s, dir) =>
      Curation.domainCaps(Tables.documents(s, dir))),
    "ccnet_buckets"       -> ((s, dir) =>
      Curation.ccnetBucketsFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).skipgrams)),
    "dsir_weights"        -> ((s, dir) =>
      Curation.dsirWeightsFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).skipgrams)),
    "token_fertility"     -> ((s, dir) =>
      Curation.tokenFertilityFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).tokens)),
    "late_data_audit"     -> ((s, dir) => Temporal.lateDataAudit(cl(s, dir))),
    "cluster_representative" -> ((s, dir) =>
      Dedup.clusterRepresentativesFrom(
        Dedup.dupClustersFrom(Staged.dedup(s, dir).dups),
        Staged.tokens(s, dir).gopher)),
    "topic_clusters"      -> ((s, dir) =>
      Similarity.topicClustersFrom(Staged.ann(s, dir).assign,
        Tables.documents(s, dir), Staged.tokens(s, dir).tokens)),
    "sample_coverage"     -> ((s, dir) =>
      Similarity.sampleCoverageFrom(Staged.ann(s, dir).assign,
        Tables.documents(s, dir))),
    "incontext_order"     -> ((s, dir) =>
      Similarity.incontextOrderFrom(Staged.ann(s, dir).assign,
        Tables.embeddings(s, dir))),
    "unimax_alloc"        -> ((s, dir) =>
      Curation.unimaxAlloc(Tables.documents(s, dir))),
    "curation_pipeline"   -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      Curation.curationPipelineFrom(Tables.documents(s, dir),
        TextAnalysis.qualitySignalsFrom(st.gopher,
          TextAnalysis.qualityClassifyFrom(st.tokens),
          TextAnalysis.ngramLmScoreFrom(st.skipgrams),
          TextAnalysis.docRarityFrom(st.tokens, st.freq)),
        Dedup.dupClustersFrom(Staged.dedup(s, dir).dups), st.gopher)
    }),
    "k_anonymity"         -> ((s, dir) =>
      TextAnalysis.kAnonymity(Tables.documents(s, dir))),
    "anon_generalize"     -> ((s, dir) =>
      TextAnalysis.anonGeneralize(Tables.documents(s, dir))),
    "zipf_fit"            -> ((s, dir) =>
      TextAnalysis.zipfFitFrom(Staged.tokens(s, dir).freq)),
    "negative_sampling"   -> ((s, dir) =>
      TextAnalysis.negativeSamplingFrom(Staged.tokens(s, dir).freq)),
    "brand_triangles"     -> ((s, dir) =>
      Analytics.brandTrianglesFrom(Staged.baskets(s, dir))),
    "l_diversity"         -> ((s, dir) =>
      TextAnalysis.lDiversity(Tables.documents(s, dir))),
    "t_closeness"         -> ((s, dir) =>
      TextAnalysis.tCloseness(Tables.documents(s, dir))),
    "corpus_diversity"    -> ((s, dir) =>
      TextAnalysis.corpusDiversity(Tables.documents(s, dir))),
    "schema_drift"        -> ((s, dir) =>
      Snapshot.schemaDrift(Snapshot.CatalogColumns.map { case (t, _) =>
        t -> Tables.table(s, dir, t)
      })),
    "split_audit"         -> ((s, dir) =>
      TextAnalysis.splitAuditFrom(Tables.documents(s, dir),
        Staged.tokens(s, dir).gopher)),
    "quality_ensemble"    -> ((s, dir) => {
      val st = Staged.tokens(s, dir)
      TextAnalysis.qualityEnsembleFrom(st.gopher,
        TextAnalysis.qualityClassifyFrom(st.tokens),
        TextAnalysis.ngramLmScoreFrom(st.skipgrams),
        TextAnalysis.docRarityFrom(st.tokens, st.freq))
    })
  )

  /** Tumbling 1-hour window × event_type throughput — the batch twin of
    * streaming.CdcStream's windowed aggregation. */
  private def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
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
