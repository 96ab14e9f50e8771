package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical plan-shape guards for the 100 TB contract (SURVEY.md §5 /
  * PLANS.md): shuffle counts, broadcast usage, and the absence of
  * accidental nested-loop/cartesian joins are asserted on the physical
  * plans so a regression fails the suite, not just the plan audit.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    // Other suites cache whole tables (e.g. LlmOpsSpec caches documents);
    // the shared-session cache manager would then substitute
    // InMemoryRelation into these plans and erase PushedFilters — audit
    // the storage plans, not peer suites' caches.
    s.catalog.clearCache()
    s
  }
  private val Sf = TestSpark.Sf

  // memoized: the registry-wide tests (no-cartesian, nested-loop, plan
  // drift) all walk every query, and the parity-harness queries EXECUTE
  // their bounded streaming replay at construction — caching the
  // QueryExecution runs each construction once per suite instead of
  // once per test (executedPlan is memoized inside it)
  private val qeCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.execution.QueryExecution]

  private def qe(name: String): org.apache.spark.sql.execution.QueryExecution =
    qeCache.getOrElseUpdate(name,
      SparkEntry.queries(name)(spark, Sf).queryExecution)

  private def plan(name: String): String = qe(name).executedPlan.toString

  private def countOf(p: String, marker: String): Int =
    marker.r.findAllIn(p).length

  test("cdc_merge: exactly one hash shuffle, no sort (agg-based LWW)") {
    val p = plan("cdc_merge")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    assert(!p.contains("CartesianProduct"))
  }

  test("LWW consumers read no props: the cdc_merge and ordered_apply " +
    "parquet scans leave it out of their ReadSchema") {
    for (q <- Seq("cdc_merge", "ordered_apply")) {
      val scans = qe(q).sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, s"$q has no parquet scan")
      scans.foreach(s => assert(!s.requiredSchema.fieldNames.contains("props"),
        s"$q reads props: ${s.requiredSchema.simpleString}"))
    }
  }

  test("narrow projections are shuffle-free") {
    for (q <- Seq("changelog_normalize", "quality_filter", "doc_fingerprint",
      "multimodal_features", "multimodal_resize", "doc_chunk",
      "pq_encode", "span_corruption")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q has a shuffle:\n$p")
    }
  }

  test("pack_sequences: one shard-keyed shuffle, window partition defined") {
    val p = plan("pack_sequences")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    // the running sum must be partitioned by the shard key, never a
    // single-partition global window
    assert(p.contains("windowspecdefinition(lang"), p)
  }

  test("negative_sampling: every window is partitioned (no global " +
    "single-reducer sort over the vocabulary)") {
    val p = plan("negative_sampling")
    // an UNPARTITIONED windowspecdefinition's first argument is the
    // sort order itself (e.g. `windowspecdefinition(tf#1L DESC ...`);
    // partitioned specs lead with plain partition columns
    val unpartitioned = "windowspecdefinition\\([^,()]*(ASC|DESC)".r
    assert(unpartitioned.findFirstIn(p).isEmpty, p)
    // the per-token inverse-CDF walk partitions by (tf, first-char)
    assert(p.contains("windowspecdefinition(tf"), p)
  }

  test("sequence_gap_audit: every window is partitioned (cross-bucket " +
    "lag runs per super-bucket, boundary stitched by broadcast join)") {
    // batch form and streaming twin share Ledger.gapClassifyFrom, so
    // this pins BOTH plans; stream_gap_parity's own harness replay is
    // covered by the parity oracle
    val unpartitioned = "windowspecdefinition\\([^,()]*(ASC|DESC)".r
    val p = plan("sequence_gap_audit")
    assert(unpartitioned.findFirstIn(p).isEmpty, p)
    assert(p.contains("windowspecdefinition(sb"), p)
  }

  test("zipf_fit: no window at all (closed-form log2-rank intervals)") {
    val p = plan("zipf_fit")
    assert(!p.contains("windowspecdefinition"), p)
    assert(!p.contains("Window"), p)
  }

  test("dist_drift: top-k is TakeOrdered, never a global sort") {
    val p = plan("dist_drift")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("initial_sync and olap_supplier_nation broadcast their dims") {
    for (q <- Seq("initial_sync", "olap_supplier_nation")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q shuffled a dim join:\n$p")
    }
  }

  test("no accidental cartesian products anywhere") {
    SparkEntry.queries.keys.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q has a cartesian")
    }
  }

  test("nested-loop joins only where a tiny broadcast side is intended") {
    // mix_weights / dist_drift cross-join a broadcast 1-row total
    // semantic_dedup inherits ivf_assign's 16-row broadcast centroid
    // cross join; pq_search broadcasts the 8-query LUT like ann_topk;
    // kmeans_shift fans every vector out over its ≤16 broadcast
    // centroid arrays (twice — one per Lloyd iteration);
    // fk_integrity chains 1-row summary aggregates
    val allowed = Set("ann_topk", "ann_ivf", "ann_hard_negatives",
      "clean_retention",
      "heartbeat_state", "component_lifecycle", "status_rollup",
      "ivf_assign", "ivf_train",
      // mix_temperature / negative_sampling cross broadcast 1-row
      // ladder totals onto vocab/group-sized grids — the mix_weights
      // allowance
      "log_compact", "mix_weights", "mix_temperature",
      "negative_sampling", "dist_drift", "semantic_dedup",
      "pq_search", "pq_recall", "pq_recall_trained", "pq_recall_curve",
      // residual/rerank gates: ≤16-row broadcast centroid fan-outs in
      // the coarse-quantizer rounds + the 8-query broadcast truth join
      "pq_recall_residual", "pq_rerank_curve",
      "key_skew_report",
      "sync_lag",
      "ivf_recall", "ivf_recall_curve", "shard_balance", "pmi_pairs",
      // bpe_apply / bpe_train_curve cross each round's broadcast 1-row
      // winning pair onto the vocabulary
      "bpe_apply", "bpe_train_curve",
      // dsir_weights cross-joins the broadcast 1-row bigram totals
      "dsir_weights",
      // repeat_plan crosses the broadcast 1-row corpus totals onto the
      // per-source grid (tens of rows)
      "repeat_plan",
      "kmeans_shift", "fk_integrity",
      // endpoint_status composes status_rollup's 1-row aggregates plus
      // its own broadcast 1-row uptime join — O(1)-row sides only
      "endpoint_status",
      // ann_index_card crosses two broadcast 1-row aggregates (dim,
      // n_queries) onto the 1-row list-geometry aggregate;
      // olap_top_supplier crosses the broadcast 1-row max back
      "ann_index_card", "olap_top_supplier",
      // pit_snapshot builds its probe grid as users × broadcast(days)
      // — the day list is calendar-bounded
      "pit_snapshot",
      // pack_efficiency fans the offsets over the broadcast 4-row
      // candidate-length table
      "pack_efficiency",
      // sq_recall / mrl_recall / bq_recall / rp_recall broadcast the
      // 8-query int8/sign-word/projected set like ann_topk
      "sq_recall", "mrl_recall", "bq_recall", "rp_recall",
      // unimax_alloc crosses the broadcast 1-row totals onto the
      // language grid (a handful of rows)
      "unimax_alloc",
      // olap_sales_opportunity crosses the broadcast 1-row
      // mean-positive-balance aggregate back onto the customer dim
      "olap_sales_opportunity",
      // ivf_balance / t_closeness / padding_plan cross their broadcast
      // 1-row totals onto grid-sized relations
      "ivf_balance", "t_closeness", "padding_plan",
      // ivf_sq_recall fans the 8 queries over the 16-row broadcast
      // centroid table for probe selection, like ann_ivf/ivf_recall
      "ivf_sq_recall",
      // supplier_returns crosses the broadcast 1-row corpus return
      // rate back onto the per-supplier aggregate
      "supplier_returns",
      // ring_rebalance crosses the broadcast 1-row key total onto the
      // 9-row node grid
      "ring_rebalance",
      // cluster_cohesion fans vectors over the ≤16 broadcast centroid
      // arrays (like kmeans_shift) + the 16x16 centroid-pair cross;
      // event_paths crosses the broadcast 1-row triple total onto the
      // type-cubed grid; rate_changepoint builds its dense calendar as
      // types x broadcast(day sequence)
      "cluster_cohesion", "event_paths", "rate_changepoint",
      // ann_tombstones composes the ivf probe selection (16-row
      // centroid fan-out) with the 8-query broadcast survivor truth —
      // the same allowances as ann_ivf + ann_topk
      "ann_tombstones",
      // kmeans_stability fans vectors over TWO ≤16-array broadcast
      // seed blocks (the kmeans_shift allowance, twice) and crosses
      // the 1-row contingency totals
      "kmeans_stability",
      // ops_dashboard inherits sync_lag's broadcast 1-row now_ems
      // cross onto the 3-row per-db grid
      "ops_dashboard",
      // market_basket crosses the broadcast 1-row order total onto
      // the vocabulary-bounded (≤300-row) brand-pair aggregate
      "market_basket",
      // join_size_estimate crosses three 1-row per-edge aggregates
      // (side stats x side stats x exact size)
      "join_size_estimate",
      // mmr_diversify broadcasts the 8-query set for its shortlist
      // scan (the ann_topk allowance)
      "mmr_diversify",
      // rrf_fusion unions brute/lsh/ivf rankings, inheriting the
      // ann_topk + ann_ivf broadcast allowances
      "rrf_fusion",
      // pq_subspace_balance / rpo_audit cross broadcast 1-row totals
      // onto subspace- / db-grid relations (the sync_lag shape)
      "pq_subspace_balance", "rpo_audit",
      // join_advisor crosses two 1-row per-edge profile aggregates
      "join_advisor",
      // anon_generalize crosses the broadcast 1-row best-level
      // aggregate onto the 4-row ladder
      "anon_generalize",
      // brand_triangles crosses the broadcast 1-row order total onto
      // the vocabulary-bounded brand-pair aggregate (the market_basket
      // allowance)
      "brand_triangles",
      // knn_recall: the N² truth join is the DECLARED gate-scale
      // calibration baseline (the ann_topk allowance) plus 1-row
      // truth-mass crosses
      "knn_recall",
      // knn_recall_probe: the truth cross broadcasts the FIXED
      // 512-probe side (the ann_topk allowance — bounded at every
      // corpus scale), plus the 16-centroid assign fan-out and 1-row
      // truth-mass crosses
      "knn_recall_probe",
      // split_kfold / benford_audit / sample_coverage cross a 1-row
      // broadcast total onto a K-/9-/index-sized grid
      "split_kfold", "benford_audit", "sample_coverage",
      // hubness_audit crosses the 1-row (total, max) aggregate onto
      // the ≤max-degree histogram grid (probe form: same shape over
      // the probe-rooted graph)
      "hubness_audit", "hubness_audit_probe",
      // retention_sweep crosses the broadcast 1-row max-week aggregate
      // (IdentityBroadcastMode) onto the cohort-week grid
      "retention_sweep",
      // lsh_multiprobe: the truth is the DECLARED gate-scale brute
      // pass (the ann_topk allowance) plus 1-row n_hit/n_truth crosses
      "lsh_multiprobe",
      // the OPQ gate crosses the broadcast 1-ROW permutation list onto
      // the corpus (the mix_weights 1-row-total shape) and inherits the
      // trained-PQ broadcast allowances; the balance audit crosses the
      // 1-row variance total onto the 8-row subspace grid
      "pq_recall_opq", "pq_opq_balance",
      // zipf_fit's triangular bucket-prefix join runs over the ≤63-row
      // broadcast log2 grid (the shape that REPLACED its global window)
      "zipf_fit",
      // sequence_gap_audit (+ its streaming twin) stitches super-bucket
      // boundaries with a broadcast triangular join over the
      // id-space÷2^30 super-bucket grid (the shape that REPLACED its
      // global lag window)
      "sequence_gap_audit", "stream_gap_parity")
    SparkEntry.queries.keys.filterNot(allowed).foreach { q =>
      assert(!plan(q).contains("BroadcastNestedLoopJoin"),
        s"$q uses an unintended nested-loop join")
    }
  }

  test("olap_q6_discount pushes every predicate into the parquet scan") {
    // formatted mode: the plan's plain toString elides the
    // PushedFilters list beyond a few entries
    val p = SparkEntry.queries("olap_q6_discount")(spark, Sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters:"), p)
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
      "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
      "LessThan(l_quantity"))
      assert(p.contains(f), s"missing pushed filter $f:\n$p")
  }

  test("olap_top_supplier pushes the quarter bounds into the scan and " +
    "takes the max from a 1-row broadcast, not a sort") {
    val p = SparkEntry.queries("olap_top_supplier")(spark, Sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate"))
      assert(p.contains(f), s"missing pushed filter $f:\n$p")
    assert(!p.contains("SortExec"), s"global sort in top-supplier:\n$p")
  }

  test("range join is an equi-join on (key, band), not a nested loop") {
    val p = plan("range_join_events")
    assert(p.contains("HashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("olap_top_revenue: global top-k is TakeOrdered, not a full sort " +
    "or an unpartitioned window") {
    val qe = SparkEntry.queries("olap_top_revenue")(spark, Sf).queryExecution
    val p = qe.executedPlan
    assert(p.toString.contains("TakeOrderedAndProject"), p.toString)
    // the only Window left runs over the k-row result with a DEFINED
    // partition key — an empty partitionSpec would mean the
    // single-partition global-window plan this query regressed from
    val windows = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
  }

  test("forget_audit: no forced join strategy on the deletion cohort") {
    // the cohort is carved out of the customer dimension (1/ForgetMod of
    // it) and GROWS with it — a broadcast() hint here would force an
    // unbounded driver broadcast at 100x scale; the strategy must be
    // left to the planner/AQE
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val hints = qe("forget_audit").analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty,
      s"forget_audit forces a join strategy:\n${hints.mkString("\n")}")
  }

  test("skew_salted_join: the join condition includes the salt key") {
    val p = plan("skew_salted_join")
    // the physical join keys must contain the salt column so a hot
    // user_id is spread over SaltR reducer keys (at test scale the dim
    // may broadcast, but the keys stay salted either way)
    assert(p.contains("salt"), p)
  }

  test("value_median/value_quantiles: the window consumes the (op, value) " +
    "AGGREGATE, never raw changelog rows on 3 reducers") {
    for (q <- Seq("value_median", "value_quantiles")) {
      val qe = SparkEntry.queries(q)(spark, Sf).queryExecution
      val optimized = qe.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
      val windows = optimized.collect { case w: LWindow => w }
      assert(windows.nonEmpty, optimized.toString)
      // every window in the plan must sit above the pre-aggregation
      windows.foreach { w =>
        assert(w.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"$q: window over raw rows:\n$optimized")
      }
    }
  }

  test("key_skew_report: top-k is TakeOrdered, never a global sort") {
    assert(plan("key_skew_report").contains("TakeOrderedAndProject"))
  }

  test("dedup candidate generation: every bucket collect_list is gated by " +
    "the (count,min) bucket-profile join — no unguarded bucket arrays") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, CollectList}
    // the plans that run: every registry query and every staged build
    // (the candidate chains of the buckets/overfull/verified/simPairs
    // relations sit behind the staged checkpoint boundary, so only
    // their build plans show them). A bucket array is a collect_list
    // grouped by the LSH/SimHash `band` key.
    val plans = SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> qe(n).optimizedPlan) ++
      stagedBuilds.map { case (n, _, df) => n -> df.queryExecution.optimizedPlan }
    var sawCollect = false
    val withArrays = Set.newBuilder[String]
    for ((q, opt) <- plans) {
      val collectAggs = opt.collectWithSubqueries {
        case a: Aggregate if a.groupingExpressions.exists {
            case at: Attribute => at.name == "band"
            case _ => false
          } && a.aggregateExpressions.exists(_.exists {
            case ae: AggregateExpression =>
              ae.aggregateFunction.isInstanceOf[CollectList]
            case _ => false
          }) => a
      }
      sawCollect ||= collectAggs.nonEmpty
      if (collectAggs.nonEmpty) withArrays += q
      // a collect_list whose subtree has no join would be the old
      // single-pass shape: every bucket materialized as one array on
      // one reducer before the pair cap — the 100 TB OOM
      collectAggs.foreach { a =>
        assert(a.collectFirst { case j: Join => j }.nonEmpty,
          s"$q: bucket collect_list not gated by the profile join:\n$a")
      }
    }
    assert(sawCollect, "vacuous: no collect_list aggregate found at all")
    // the corpus-wide bucket arrays are built by the staged verified
    // (MinHash LSH) and simPairs (SimHash) relations
    assert(Set("staged:verified", "staged:simPairs")
      .subsetOf(withArrays.result()),
      s"bucket arrays found only in: ${withArrays.result()}")
  }

  // the Staged BUILD plans — the plans that execute at materialization,
  // which the checkpoint boundary hides from every consumer query's
  // plan. ONE registry (Staged.auditPlans) feeds this gate, the PlanAudit
  // dump and PLANS.md's STAGED-PLANS table.
  private lazy val stagedBuilds = Staged.auditPlans(Corpus(spark, Sf))

  test("staged build chains: no cartesians, no unpartitioned windows — " +
    "these are the plans that actually execute at materialization") {
    // tinyBcastOk marks the ANN ground truths / list assignment — the
    // DECLARED broadcast-tiny-side patterns (8 queries / 16 centroids),
    // the same allowance as ann_topk/ivf_assign above; every other
    // build must also be nested-loop-free
    for ((name, tinyBcastOk, df) <- stagedBuilds) {
      val pe = df.queryExecution.executedPlan
      val p = pe.toString
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
      if (!tinyBcastOk)
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name has a nested-loop join:\n$p")
      val windows = pe.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$name has an unpartitioned (single-reducer) window:\n$w"))
    }
  }

  test("PLANS.md matches the live physical plans (drift gate)") {
    // Recomputes every query's PLANS.md summary row with the same
    // counting rules as scripts/plans.py and diffs against the
    // committed file — a silent extra exchange, a lost broadcast, a
    // dropped pushdown, or a query missing from the audit fails HERE,
    // not at the next judging pass. After an INTENDED plan change,
    // regenerate:
    //   sbt -batch "runMain graft.PlanAudit" > /tmp/plans.txt 2>/dev/null
    //   python3 scripts/plans.py /tmp/plans.txt > PLANS.md
    val root = Iterator.iterate(
        java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt ancestor — cannot locate PLANS.md"))
    val plansMd = java.nio.file.Files.readString(root.resolve("PLANS.md"))
    val rowRe = """\|\s*(\S+)\s*\|\s*(\d+)\s*\|\s*([^|]+?)\s*\|\s*(.*?)\s*\|""".r
    val allRows = rowRe.findAllMatchIn(plansMd)
      .map(m => m.group(1) -> ((m.group(2), m.group(3), m.group(4))))
      .filter(r => r._1 != "query" && r._1 != "build").toMap
    val (stagedRows, committed) = allRows.partition(_._1.startsWith("staged:"))
    assert(committed.keySet === SparkEntry.queries.keySet,
      "PLANS.md row set drifted from the query registry: " +
        s"missing=${SparkEntry.queries.keySet -- committed.keySet} " +
        s"stale=${committed.keySet -- SparkEntry.queries.keySet}")
    val stagedNames = stagedBuilds.map(_._1).toSet
    assert(stagedRows.keySet === stagedNames,
      "PLANS.md STAGED-PLANS row set drifted from Staged.auditPlans: " +
        s"missing=${stagedNames -- stagedRows.keySet} " +
        s"stale=${stagedRows.keySet -- stagedNames}")
    def summarize(f: String): (String, String, String) = {
      def nodes(n: String): Int =
        ("""(?m)^\(\d+\) """ + n + "$").r.findAllIn(f).length
      val nested = nodes("BroadcastNestedLoopJoin")
      val bcol = nodes("BroadcastHashJoin").toString +
        (if (nested > 0) s" (+$nested nested-loop)" else "")
      val pushed = """PushedFilters: \[([^\]]+)\]""".r.findAllMatchIn(f)
        .filter(_.group(1).trim.nonEmpty)
        .map(_.group(1).take(48)).toSeq.distinct.sorted
      val pcol = if (pushed.nonEmpty) pushed.mkString("; ") else "—"
      (nodes("Exchange").toString, bcol, pcol)
    }
    val liveAll =
      SparkEntry.queries.keys.toSeq.sorted.map(n => n -> qe(n)) ++
        stagedBuilds.map { case (n, _, df) => n -> df.queryExecution }
    val drifted = liveAll.flatMap { case (name, q) =>
      val live = summarize(q.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      if (allRows(name) != live)
        Some(s"$name: committed=${allRows(name)} live=$live")
      else None
    }
    assert(drifted.isEmpty,
      "PLANS.md is stale — regenerate (PlanAudit + scripts/plans.py):\n" +
        drifted.mkString("\n"))
  }
}
