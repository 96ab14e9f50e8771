package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-table initial sync, snapshot delta detection, and partitioned
  * source-read planning.
  *
  * Reference semantics: `job/SyncTrigger.scala` (full sync bootstrap +
  * index checks), the resync path in `monitor/SelfMonitor.scala`, and
  * the partitioned-read planning any JDBC bulk reader needs
  * (`dbopt/DbOperation.scala` abstraction, `DatasourcePools.scala`).
  */
object Snapshot {
  /** Partition count for planned bulk reads (JDBC numPartitions). */
  val ReadPartitions = 8L

  /** Initial full-table sync with dimension enrichment: fact side
    * streams through, dims broadcast (no shuffle of the big side). */
  def initialSync(customer: DataFrame, nation: DataFrame,
                  region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"),
        col("n_regionkey"))), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("n_name"),
        col("r_name"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))

  /** Snapshot diff source-vs-target → INSERT/UPDATE/DELETE rows. The
    * target here is a deterministic drift of the source (missing keys,
    * changed balances, orphan keys) so the diff is oracle-checkable.
    * One full-outer hash join on the key; only changed rows survive. */
  def deltaDetect(customer: DataFrame): DataFrame = {
    val src = customer.select(
      col("c_custkey").as("src_key"),
      round(col("c_acctbal") * 100).cast("long").as("src_cents"))
    val tgt = simulatedTarget(customer)
    src
      .join(tgt, col("src_key") === col("tgt_key"), "full_outer")
      .select(
        coalesce(col("src_key"), col("tgt_key")).as("key"),
        when(col("tgt_key").isNull, lit("INSERT"))
          .when(col("src_key").isNull, lit("DELETE"))
          .when(col("src_cents") =!= col("tgt_cents"), lit("UPDATE"))
          .otherwise(lit("NONE")).as("change_type"),
        col("src_cents"), col("tgt_cents"))
      .where(col("change_type") =!= "NONE")
  }

  /** Deterministic target-drift simulation shared by [[deltaDetect]]
    * and [[checksumCompare]] (one definition, so the row-level diff and
    * the bucket-level checksum audit see the SAME divergence): keys
    * %13 missing, %10 drifted by +100 cents, orphan keys (key+1000000)
    * for %17. */
  private def simulatedTarget(customer: DataFrame): DataFrame = {
    val base = customer.select(
      col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    val tgtExisting = base
      .where(pmod(col("c_custkey"), lit(13L)) =!= 0)
      .select(
        col("c_custkey").as("tgt_key"),
        (col("cents") + when(pmod(col("c_custkey"), lit(10L)) === 0, 100L)
          .otherwise(0L)).as("tgt_cents"))
    val tgtOrphans = base
      .where(pmod(col("c_custkey"), lit(17L)) === 0)
      .select(
        (col("c_custkey") + 1000000L).as("tgt_key"),
        col("cents").as("tgt_cents"))
    tgtExisting.unionByName(tgtOrphans)
  }

  /** Key-range buckets for [[checksumCompare]]. */
  val ChecksumBuckets = 64L

  /** Bucketed checksum sync validation — how source-vs-target
    * verification actually runs at 100 TB: neither side ships rows;
    * each computes, per key bucket, a row count and an XOR fold of a
    * portable per-row hash (XOR: order-independent, overflow-free,
    * and any single-row divergence flips it). Only mismatching buckets
    * would then be re-synced row-level (deltaDetect's job). The
    * reference's full-resync decision (`monitor/SelfMonitor.scala`
    * resync path) gets this as its cheap trigger. */
  def checksumCompare(customer: DataFrame): DataFrame = {
    import graft.functions.PortableHash.phash
    def side(df: DataFrame, key: String, cents: String,
             nCol: String, xCol: String): DataFrame =
      df.select(pmod(col(key), lit(ChecksumBuckets)).as("bucket"),
        phash(concat(col(key).cast("string"), lit(":"),
          col(cents).cast("string"))).as("h"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(nCol), expr("bit_xor(h)").as(xCol))
    val src = side(customer.select(col("c_custkey"),
      round(col("c_acctbal") * 100).cast("long").as("cents")),
      "c_custkey", "cents", "n_src", "x_src")
    val tgt = side(simulatedTarget(customer),
      "tgt_key", "tgt_cents", "n_tgt", "x_tgt")
    src.join(tgt, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_src", "n_tgt", "x_src", "x_tgt"))
      .withColumn("verdict",
        when(col("n_src") === col("n_tgt")
          && col("x_src") === col("x_tgt"), lit("MATCH"))
          .otherwise(lit("DIVERGED")))
  }

  /** Anti-entropy repair plan — the step after [[checksumCompare]]:
    * for every DIVERGED bucket, the bounded re-sync schedule (row
    * count, BackfillBatch-sized chunk count, key bounds) a repair
    * worker executes. The diverged bucket list is tiny (≤
    * ChecksumBuckets rows) and broadcast; only rows in diverged
    * buckets are counted — matched buckets are never re-read at the
    * row level. */
  def repairPlan(customer: DataFrame): DataFrame = {
    val diverged = checksumCompare(customer)
      .where(col("verdict") === "DIVERGED").select("bucket")
    customer
      .select(pmod(col("c_custkey"), lit(ChecksumBuckets)).as("bucket"),
        col("c_custkey").cast("long").as("key"))
      .join(broadcast(diverged), Seq("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("key").as("key_lo"), max("key").as("key_hi"))
      .select(col("bucket"), col("n_rows"),
        expr(s"(n_rows + ${BackfillBatch - 1}) div $BackfillBatch")
          .as("n_batches"),
        col("key_lo"), col("key_hi"))
  }

  /** Referential-integrity audit over the synced star schema — the
    * post-sync consistency check (did every child row's parent arrive?):
    * per relation, child rows, orphan child rows (parent key absent),
    * distinct parents, and childless parents. Child keys are
    * pre-aggregated per key BEFORE the anti-join, so the join moves
    * |distinct keys| rows, not |child rows|. */
  def fkIntegrity(customer: DataFrame, orders: DataFrame,
                  lineitem: DataFrame, nation: DataFrame): DataFrame =
    fkIntegrityFrom(catalogHistogram(Seq(
      "orders" -> orders.select(col("o_custkey"), col("o_orderkey")),
      "customer" -> customer.select(col("c_custkey"), col("c_nationkey")),
      "lineitem" -> lineitem.select(col("l_orderkey")),
      "nation" -> nation.select(col("n_nationkey")))))

  /** The audited FK edges of [[fkIntegrity]]:
    * (relation label, child table, child key, parent table, parent key). */
  val FkEdges: Seq[(String, String, String, String, String)] = Seq(
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer->nation", "customer", "c_nationkey", "nation",
      "n_nationkey"))

  /** [[fkIntegrity]] over an already-staged ANALYZE histogram: the
    * per-child-key count profile and the distinct-parent-key set ARE
    * the histogram restricted to the two key columns, so the audit's
    * anti-joins move |distinct keys| rows read from the published
    * stats — no fact table is rescanned per relation. Null-key
    * semantics are unchanged (null histogram values never match an
    * equi/anti join, exactly like the native-key form). */
  def fkIntegrityFrom(hist: DataFrame): DataFrame = {
    // per-edge form, NOT the joinSizeEstimateFrom single-pass shape:
    // measured 0.8 s vs 1.4 s for the relation-tagged variant — with
    // only three edges the tagged anti-joins serialize more work into
    // one lane than the three small concurrent per-edge plans cost
    def profile(table: String, column: String, vCol: String,
                cCol: String): DataFrame =
      hist.where(col("table_name") === table &&
          col("column_name") === column)
        .select(col("value").as(vCol), col("cnt").as(cCol))
    FkEdges.map { case (rel, ct, ck, pt, pk) =>
      val childKeys = profile(ct, ck, "k", "n")
      val parentKeys = profile(pt, pk, "k", "np").select("k")
      val orphanRows = childKeys.join(parentKeys, Seq("k"), "left_anti")
        .agg(coalesce(sum("n"), lit(0L)).as("n_orphan_rows"))
      val childless = parentKeys.join(childKeys, Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_childless_parents"))
      childKeys.agg(coalesce(sum("n"), lit(0L)).as("n_child_rows"))
        .crossJoin(parentKeys.agg(count(lit(1)).as("n_parents")))
        .crossJoin(orphanRows)
        .crossJoin(childless)
        .select(lit(rel).as("relation"), col("n_child_rows"),
          col("n_orphan_rows"), col("n_parents"),
          col("n_childless_parents"))
    }.reduce(_ unionByName _)
  }

  /** Sync manifest over the whole star schema: per table, row count +
    * XOR fold of the portable primary-key hash — the one-page
    * consistency overview two sides exchange before diving into
    * per-bucket checksums ([[checksumCompare]]) or row diffs
    * ([[deltaDetect]]). Each table contributes ONE map-side-combined
    * 1-row aggregate; the union is 7 rows total. */
  def tableManifest(region: DataFrame, nation: DataFrame,
                    customer: DataFrame, supplier: DataFrame,
                    part: DataFrame, orders: DataFrame,
                    lineitem: DataFrame): DataFrame = {
    import graft.functions.PortableHash.phash
    def row(name: String, df: DataFrame, key: org.apache.spark.sql.Column) =
      df.select(phash(key).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("key_xor"))
        .select(lit(name).as("table_name"), col("n_rows"),
          coalesce(col("key_xor"), lit(0L)).as("key_xor"))
    row("region", region, col("r_regionkey").cast("string"))
      .unionByName(row("nation", nation, col("n_nationkey").cast("string")))
      .unionByName(row("customer", customer, col("c_custkey").cast("string")))
      .unionByName(row("supplier", supplier, col("s_suppkey").cast("string")))
      .unionByName(row("part", part, col("p_partkey").cast("string")))
      .unionByName(row("orders", orders, col("o_orderkey").cast("string")))
      .unionByName(row("lineitem", lineitem,
        concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))))
  }

  /** Snapshot→changelog handoff audit — the consistency contract at
    * the heart of any CDC sync (the reference's initial-full-sync +
    * incremental-catch-up path): a full snapshot taken at a cut T,
    * then incremental LWW apply of everything after T, must land in
    * EXACTLY the state continuous sync produces. T = midpoint of the
    * observed ems range (deterministic, data-derived). The snapshot
    * state re-enters the merge as pseudo-changes — all post-T changes
    * outrank it in (ems, event_id), so the union-merge IS the catch-up
    * apply. Emits ONE verdict row: key counts on both paths, matched /
    * one-sided / differing keys (all-match expected), and the cut.
    * Shape: three key-partitioned aggregates + one full-outer join on
    * the key — every step map-side-combined, nothing driver-side but
    * the 2-value bounds row. */
  def handoffAudit(changelog: DataFrame): DataFrame = {
    val cols = Seq("event_id", "user_id", "op", "ems", "epoch_s",
      "value_cents", "part")
    val b = changelog.agg(min("ems"), max("ems")).collect()(0)
    val t = if (b.isNullAt(0)) 0L else (b.getLong(0) + b.getLong(1)) / 2
    val snap = CdcMerge.lastPerKey(changelog.where(col("ems") <= t))
      .select(cols.map(col): _*)
    val handoff = CdcMerge.merge(
      snap.unionByName(changelog.where(col("ems") > t)
        .select(cols.map(col): _*)))
    val st = struct(col("last_event_id"), col("last_op"),
      col("last_epoch_s"), col("last_value_cents"))
    val a = CdcMerge.merge(changelog)
      .select(col("user_id"), st.as("sa"))
    val h = handoff.select(col("user_id"), st.as("sb"))
    a.join(h, Seq("user_id"), "full_outer")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("sa").isNotNull && col("sb").isNotNull &&
          col("sa") === col("sb"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("sa").isNotNull && col("sb").isNull, 1L)
          .otherwise(0L)).as("n_only_full"),
        sum(when(col("sb").isNotNull && col("sa").isNull, 1L)
          .otherwise(0L)).as("n_only_handoff"),
        sum(when(col("sa").isNotNull && col("sb").isNotNull &&
          !(col("sa") === col("sb")), 1L).otherwise(0L)).as("n_differ"))
      .select(lit(t).as("cut_ems"), col("n_keys"), col("n_match"),
        col("n_only_full"), col("n_only_handoff"), col("n_differ"),
        when(col("n_match") === col("n_keys"), "CONSISTENT")
          .otherwise("DIVERGED").as("verdict"))
  }

  /** The audited (table, columns) grid of the catalog passes — ONE
    * shared constant feeding both the Spark aggregations
    * ([[catalogStats]] / [[catalogStatsSketchGate]] registry entries)
    * and the DuckDB oracle generator, so a testdata schema evolution
    * cannot silently desynchronize the two sides. */
  val CatalogColumns: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey",
      "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey",
      "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type",
      "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
      "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
      "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))

  /** ANALYZE-style catalog statistics over the star schema — the
    * per-column numbers a cost-based optimizer's cardinality estimates
    * feed on (and the profile a sync target publishes next to its data):
    * one row per (table, column) with row count, EXACT distinct count,
    * and null count. Exact NDV (not a sketch) keeps the report
    * hash-verifiable cross-engine. Each column is a column-pruned
    * branch of ONE union job, and each branch does the distinct
    * count MANUALLY in two phases — groupBy(value).count (partial
    * aggregation collapses every map partition to the column's
    * distinct values before the exchange) then one global roll-up of
    * (Σcnt, #values, Σnull-cnt) — so the shuffle carries Σ per-column
    * NDV native-typed values and NO branch plans the Expand operator
    * Spark inserts for mixed distinct+non-distinct aggregates — the
    * row-duplicating scan-side shape that died first in the 100x plan
    * audit (at sf0.1 the two forms measure within noise because job
    * overhead dominates; the Expand CPU multiplier only shows on a
    * wide fact scan). For the sketch-NDV pass a 100 TB catalog crawl
    * should actually run on, see [[catalogStatsSketch]]. */
  def catalogStats(tables: Seq[(String, DataFrame)]): DataFrame =
    catalogStatsFrom(catalogHistogram(tables),
      tables.map { case (n, df) => n -> df.columns.toSeq })

  /** The per-(table, column, value) count histogram — the relation an
    * ANALYZE pass actually persists (per-column value histograms), and
    * the staged intermediate the whole catalog family rolls up from.
    * One branch per table: the audited columns are stacked to
    * (column_name, value-as-string) pairs in a single pipelined pass
    * over one scan, and partial aggregation collapses every map
    * partition to per-(column, value) counts before the one exchange.
    * The string cast is NDV-preserving per column (the int / long /
    * decimal / date / string renderings are each injective), and only
    * counts ever leave this relation, so the exact rollups are
    * bit-identical to per-column native aggregation. RESTRICTION
    * (documented, not hit by [[CatalogColumns]]): float/double columns
    * containing negative zero or NaN would diverge from native groupBy
    * semantics — native aggregation normalizes -0.0 to 0.0 and all
    * NaNs to one NaN, while the string rendering keeps "-0.0" and
    * "0.0" distinct — so histogram columns must be types with
    * injective string renderings (ints, longs, decimals, dates,
    * strings); audit floating columns through a normalizing projection
    * (e.g. `nanvl(c, NaN) + 0.0`) before passing them here. */
  def catalogHistogram(tables: Seq[(String, DataFrame)]): DataFrame =
    tables.map { case (name, df) =>
      val cols = df.columns.toSeq
      val stackArgs = cols.map(c => s"'$c', CAST(`$c` AS STRING)")
        .mkString(", ")
      df.select(expr(
          s"stack(${cols.length}, $stackArgs) AS (column_name, value)"))
        .groupBy("column_name", "value").agg(count(lit(1)).as("cnt"))
        .select(lit(name).as("table_name"), col("column_name"),
          col("value"), col("cnt"))
    }.reduce(_ unionByName _)

  /** ANALYZE rollup over [[catalogHistogram]] — grid-sized: per
    * (table, column), Σcnt = n_rows, #non-null values = exact NDV,
    * Σnull-group counts = n_null. The literal (table, column) grid
    * left-joins the rollup so an empty table still reports every
    * audited column (the oracle emits those rows too). The previous
    * shape — one two-phase aggregate branch PER COLUMN — planned 72
    * exchanges whose AQE stage-jobs cost ~80 ms of scheduling and
    * re-planning each, dwarfing the actual aggregate work; this form
    * is two exchanges per table once, then grid-sized arithmetic. */
  def catalogStatsFrom(hist: DataFrame,
                       grid: Seq[(String, Seq[String])]): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val stats = hist
      .groupBy("table_name", "column_name")
      .agg(coalesce(sum("cnt"), lit(0L)).as("n_rows"),
        count(when(col("value").isNotNull, lit(1))).as("n_distinct"),
        coalesce(sum(when(col("value").isNull, col("cnt"))), lit(0L))
          .as("n_null"))
    // the rollup is GRID-sized (bounded by the audited (table, column)
    // constant, never by data) — broadcast it explicitly: size
    // estimates on a post-aggregate relation made the planner pick a
    // SortMergeJoin, paying an exchange + two sorts for a ≤37-row join
    grid.flatMap { case (t, cs) => cs.map(c => (t, c)) }
      .toDF("table_name", "column_name")
      .join(broadcast(stats), Seq("table_name", "column_name"), "left")
      .na.fill(0L, Seq("n_rows", "n_distinct", "n_null"))
      .select(col("table_name"), col("n_rows"), col("column_name"),
        col("n_distinct"), col("n_null"))
  }

  /** Relative standard deviation of the catalog sketch NDV (HLL++). */
  val CatalogRsd = 0.02

  /** The scale-default catalog pass: sketch NDV
    * (`approx_count_distinct`, rsd=[[CatalogRsd]]) for every column in
    * ONE ordinary aggregate per table — HLL is a regular (non-distinct)
    * aggregate, so the multi-column pass needs no Expand and no
    * per-column rescans: one map-side-combined scan per table, merge
    * buffers of a few KB per column. This is the pass a 100 TB catalog
    * crawl runs; [[catalogStats]] (exact) is the oracle-gate twin. */
  def catalogStatsSketch(tables: Seq[(String, DataFrame)]): DataFrame = {
    def one(name: String, df: DataFrame): DataFrame = {
      val cols = df.columns
      val aggs = cols.flatMap(c => Seq(
        approx_count_distinct(col(c), rsd = CatalogRsd).as(s"ndv_$c"),
        coalesce(sum(col(c).isNull.cast("long")), lit(0L))
          .as(s"null_$c")))
      val stackArgs = cols
        .map(c => s"'$c', ndv_$c, null_$c").mkString(", ")
      df.agg(count(lit(1)).as("n_rows"),
          aggs.toIndexedSeq: _*)
        .select(lit(name).as("table_name"), col("n_rows"),
          expr(s"stack(${cols.length}, $stackArgs)" +
            " as (column_name, n_distinct_approx, n_null)"))
    }
    tables.map { case (n, df) => one(n, df) }.reduce(_ unionByName _)
  }

  /** Oracle-checkable gate over the sketch pass — the error-band form
    * of `approx_distinct`: the sketch value itself has no cross-engine
    * twin, so each (table, column) row carries the EXACT NDV plus an
    * integer-arithmetic verdict that the sketch landed within 5%
    * (|approx−exact|·20 ≤ exact, well outside rsd=0.02's range); the
    * DuckDB oracle recomputes the exact side and pins the verdict to
    * 'true'. The gate verifies [[catalogStatsSketch]]'s ACTUAL output
    * (one HLL pass per table) joined to [[catalogStats]]'s exact rows
    * on the tiny (table, column) grid — the two Expand-free passes
    * plus a broadcast join, never the mixed distinct+HLL aggregate
    * (Spark rewrites that through Expand, the exact shuffle shape the
    * sketch pass exists to avoid). */
  def catalogStatsSketchGate(tables: Seq[(String, DataFrame)]): DataFrame =
    catalogStatsSketchGateFrom(catalogHistogram(tables),
      tables.map { case (n, df) => n -> df.columns.toSeq }, tables)

  /** [[catalogStatsSketchGate]] over an already-staged histogram — the
    * staged-consumer entry point: the exact side is the grid-sized
    * [[catalogStatsFrom]] rollup, the sketch side recomputes from RAW
    * rows (bit-identical HLL to the standalone form; only the exact
    * side rides the histogram). */
  def catalogStatsSketchGateFrom(hist: DataFrame,
                                 grid: Seq[(String, Seq[String])],
                                 tables: Seq[(String, DataFrame)])
  : DataFrame =
    catalogStatsFrom(hist, grid)
      .join(
        catalogStatsSketch(tables)
          .select(col("table_name"), col("column_name"),
            col("n_distinct_approx")),
        Seq("table_name", "column_name"))
      .select(col("table_name"), col("n_rows"), col("column_name"),
        col("n_distinct"),
        (abs(col("n_distinct_approx") - col("n_distinct")) * 20L <=
          col("n_distinct")).cast("string").as("approx_within_5pct"))

  /** The audited FK→PK join edges of the star schema — ONE shared
    * constant feeding both the Spark estimator and the DuckDB oracle
    * (the [[CatalogColumns]] convention): (left table, left key,
    * right table, right key). */
  val JoinEdges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"))

  /** Join-cardinality estimation audit — the CBO arithmetic
    * [[catalogStats]] exists to feed, closed into a measurable check:
    * per audited FK→PK edge, the textbook uniform-key estimate
    * |A⋈B| ≈ |A|·|B| / max(ndv_A, ndv_B) next to the TRUE join size,
    * and the estimate's accuracy in ppm of truth. The exact size is
    * computed WITHOUT materializing the join: each side collapses to
    * its per-key count profile first (map-side-combined groupBy, the
    * same exchange a distinct pass costs), the profiles equi-join on
    * the key — both already hash-partitioned by it from their
    * aggregates, so the join adds NO exchange — and Σ cnt_l·cnt_r is
    * the join cardinality. Estimate arithmetic goes through
    * decimal(38,0) (Spark) / HUGEINT (DuckDB) with integral division,
    * so |A|·|B| stays exact far past the int64 envelope a 100 TB fact
    * table breaks (6e11 · 1.5e11 ≈ 9e22 needs 77 bits). */
  def joinSizeEstimate(tables: Map[String, DataFrame]): DataFrame =
    joinSizeEstimateFrom(edgeKeyHistogram(tables))

  /** The minimal ANALYZE histogram the join-edge family needs when no
    * staged copy is supplied: the [[JoinEdges]] key columns only. */
  private def edgeKeyHistogram(tables: Map[String, DataFrame]): DataFrame = {
    val keyCols = JoinEdges
      .flatMap { case (lt, lk, rt, rk) => Seq(lt -> lk, rt -> rk) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (t, kvs) => t -> kvs.map(_._2).distinct }
    catalogHistogram(keyCols.map { case (t, cs) =>
      t -> tables(t).select(cs.map(col): _*) })
  }

  /** [[joinSizeEstimate]] over an already-staged ANALYZE histogram —
    * how a CBO actually consumes statistics at 100 TB: the per-key
    * count profiles ARE the published histogram restricted to the key
    * columns (never a fact-table rescan per edge), the side totals and
    * NDVs are grid-sized rollups of the same profiles, and the exact
    * join size is Σ cnt_l·cnt_r over the profile equi-join. */
  def joinSizeEstimateFrom(hist: DataFrame): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    // ONE pass for all six edges: the literal edge table tags each
    // side's histogram rows with its edge id (broadcast joins on the
    // tiny (table, column) grid), the two tagged profiles equi-join on
    // (edge, value) ONCE, and three grid-sized rollups join back on
    // the edge id. The previous per-edge union re-read and re-joined
    // the profiles six times — ~36 AQE stage-jobs of scheduling for
    // grid-sized output; this form plans one join + three aggregates.
    val edges = JoinEdges
      .map { case (lt, lk, rt, rk) =>
        (s"$lt.$lk=$rt.$rk", lt, lk, rt, rk) }
      .toDF("edge", "lt", "lk", "rt", "rk")
    val lp = hist.join(broadcast(edges),
        col("table_name") === col("lt") && col("column_name") === col("lk"))
      .select(col("edge"), col("value").as("k"), col("cnt").as("cl"))
    val rp = hist.join(broadcast(edges),
        col("table_name") === col("rt") && col("column_name") === col("rk"))
      .select(col("edge"), col("value").as("k"), col("cnt").as("cr"))
    val ls = lp.groupBy("edge")
      .agg(coalesce(sum("cl"), lit(0L)).as("n_left"),
        count(when(col("k").isNotNull, lit(1))).as("ndv_left"))
    val rs = rp.groupBy("edge")
      .agg(coalesce(sum("cr"), lit(0L)).as("n_right"),
        count(when(col("k").isNotNull, lit(1))).as("ndv_right"))
    val ex = lp.join(rp, Seq("edge", "k"))
      .groupBy("edge")
      .agg(coalesce(sum(col("cl") * col("cr")), lit(0L))
        .as("exact_rows"))
    // left joins from the edge list: an empty table yields empty
    // profiles, but every audited edge must still report (0 rows)
    edges.select("edge")
      .join(ls, Seq("edge"), "left")
      .join(rs, Seq("edge"), "left")
      .join(ex, Seq("edge"), "left")
      .na.fill(0L, Seq("n_left", "ndv_left", "n_right", "ndv_right",
        "exact_rows"))
      .withColumn("est_rows", expr(
        """cast(cast(n_left as decimal(38,0)) * n_right
          |  div greatest(ndv_left, ndv_right) as bigint)"""
          .stripMargin))
      .select(col("edge"),
        col("n_left"), col("n_right"),
        col("ndv_left"), col("ndv_right"),
        col("est_rows"), col("exact_rows"),
        expr("""cast(cast(est_rows as decimal(38,0)) * 1000000
               |  div greatest(exact_rows, 1) as bigint)"""
          .stripMargin).as("est_ppm_of_exact"))
  }

  /** [[joinAdvisor]] thresholds: a dim side at most this many rows is
    * broadcast-able; a left key owning more than this share (ppm) of
    * its table wants salting. */
  val BroadcastRowLimit = 100000L
  val SkewSharePpm = 100000L

  /** Join-strategy advisor — the decision [[catalogStats]] and
    * [[joinSizeEstimate]] exist to inform, emitted as a per-edge plan:
    * BROADCAST when the dim side fits the row budget, else
    * SORT_MERGE; plus a SALT flag when the fact side's hottest key
    * owns more than [[SkewSharePpm]] of the table (the AQE-skew /
    * manual-salting trigger). Everything derives from the same
    * per-key count profiles as the estimator — the hottest-key share
    * is a max over the profile, never a second fact scan; output is
    * edge-count-sized. */
  def joinAdvisor(tables: Map[String, DataFrame]): DataFrame =
    joinAdvisorFrom(edgeKeyHistogram(tables))

  /** [[joinAdvisor]] over an already-staged ANALYZE histogram (the
    * [[joinSizeEstimateFrom]] convention): the hottest-key share is a
    * max over the published per-key counts, the dim-side row count a
    * Σcnt over its key column — no table is rescanned per edge. */
  def joinAdvisorFrom(hist: DataFrame): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    // one pass for all edges (the [[joinSizeEstimateFrom]] shape)
    val edges = JoinEdges
      .map { case (lt, lk, rt, rk) =>
        (s"$lt.$lk=$rt.$rk", lt, lk, rt, rk) }
      .toDF("edge", "lt", "lk", "rt", "rk")
    val ls = hist.join(broadcast(edges),
        col("table_name") === col("lt") && col("column_name") === col("lk"))
      .groupBy("edge")
      .agg(coalesce(sum("cnt"), lit(0L)).as("n_left"),
        coalesce(max("cnt"), lit(0L)).as("max_key_n"))
    val rs = hist.join(broadcast(edges),
        col("table_name") === col("rt") && col("column_name") === col("rk"))
      .groupBy("edge")
      .agg(coalesce(sum("cnt"), lit(0L)).as("n_right"))
    edges.select("edge")
      .join(ls, Seq("edge"), "left")
      .join(rs, Seq("edge"), "left")
      .na.fill(0L, Seq("n_left", "max_key_n", "n_right"))
      .select(col("edge"), col("n_left"), col("n_right"),
        expr("max_key_n * 1000000L div greatest(n_left, 1L)")
          .as("max_key_share_ppm"))
      .select(col("edge"), col("n_left"), col("n_right"),
        col("max_key_share_ppm"),
        when(col("n_right") <= BroadcastRowLimit, "BROADCAST")
          .otherwise("SORT_MERGE").as("strategy"),
        (col("max_key_share_ppm") > SkewSharePpm)
          .cast("string").as("salt_left"))
  }

  /** 1-in-DriftMod columns are simulated as absent from the sync
    * target's catalog — the deterministic stand-in for a target
    * created from an older sync config (the [[deltaDetect]]
    * simulated-divergence convention). */
  val DriftMod = 5L

  /** Schema-drift detection + reconciliation DDL — the catalog-level
    * twin of [[deltaDetect]] and the check the reference's
    * trigger/table DDL generation implies (a sync engine that CREATEs
    * target tables must notice when the source grows a column; cf.
    * reference dbopt trigger/DDL builders): every column of the live
    * source catalog is read from the ENGINE's own schema (not a
    * hardcoded list — Spark reads parquet footers, the DuckDB oracle
    * reads DESCRIBE, so the check doubly verifies both engines derive
    * the same logical schema), normalized to a canonical type name,
    * and diffed against the simulated target manifest; columns the
    * target lacks get their portable ALTER TABLE … ADD COLUMN
    * statement. Catalog-sized throughout — the only data touched is
    * schema metadata, never rows. */
  def schemaDrift(tables: Seq[(String, DataFrame)]): DataFrame = {
    import graft.functions.PortableHash.phash
    import org.apache.spark.sql.types._
    def canonType(dt: DataType): String = dt match {
      case IntegerType                    => "int32"
      case LongType                       => "int64"
      case FloatType                      => "float32"
      case DoubleType                     => "float64"
      case StringType                     => "string"
      case TimestampType | TimestampNTZType => "timestamp"
      case DateType                       => "date"
      case other                          => other.simpleString
    }
    val sqlType = Map("int32" -> "INTEGER", "int64" -> "BIGINT",
      "float32" -> "REAL", "float64" -> "DOUBLE PRECISION",
      "string" -> "TEXT", "timestamp" -> "TIMESTAMP", "date" -> "DATE")
    val spark = tables.head._2.sparkSession
    val rows = tables.flatMap { case (t, df) =>
      df.schema.fields.map(f => (t, f.name, canonType(f.dataType)))
    }
    import spark.implicits._
    rows.toDF("table_name", "column_name", "col_type")
      .withColumn("on_target",
        pmod(phash(concat_ws(":", lit("target"), col("table_name"),
          col("column_name"))), lit(DriftMod)) =!= 0)
      .select(col("table_name"), col("column_name"), col("col_type"),
        when(col("on_target"), "OK").otherwise("ADD").as("action"),
        when(col("on_target"), lit(""))
          .otherwise(concat(lit("ALTER TABLE "), col("table_name"),
            lit(" ADD COLUMN "), col("column_name"), lit(" "),
            sqlType.foldLeft(lit("")) { case (acc, (k, v)) =>
              when(col("col_type") === k, v).otherwise(acc)
            })).as("ddl"))
  }

  /** Deletion-cohort membership for [[forgetAudit]] — deterministic
    * stand-in for an erasure-request list. */
  val ForgetMod = 29L

  /** Right-to-be-forgotten cascade audit: given a deletion cohort of
    * subject keys, how many rows each relation must purge — the
    * subject's change events, their customer row, their orders, and
    * those orders' line items (the FK cascade). The planning query any
    * sync/warehouse owner runs before executing an erasure batch. No
    * join strategy is forced: the cohort is carved out of the customer
    * dimension itself (1/ForgetMod of it), so it GROWS with the
    * customer table — the planner (AQE) broadcasts it only while its
    * runtime size is genuinely under the broadcast threshold and falls
    * back to a shuffled semi-join beyond that, which is the shape that
    * survives a 100x customer dimension. Each big relation is touched
    * once — no cascade materialization. */
  def forgetAudit(changelog: DataFrame, customer: DataFrame,
                  orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val cohort = customer
      .where(pmod(col("c_custkey"), lit(ForgetMod)) === 0)
      .select(col("c_custkey").as("cohort_key"))
    val cohortOrders = orders
      .join(cohort, col("o_custkey") === col("cohort_key"))
      .select(col("o_orderkey"))
    def counted(rel: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows_to_purge"))
        .select(lit(rel).as("relation"), col("n_rows_to_purge"))
    counted("events",
      changelog.join(cohort, col("user_id") === col("cohort_key"),
        "left_semi"))
      .unionByName(counted("customer",
        customer.join(cohort,
          col("c_custkey") === col("cohort_key"), "left_semi")))
      .unionByName(counted("orders",
        orders.join(cohort,
          col("o_custkey") === col("cohort_key"), "left_semi")))
      .unionByName(counted("lineitem",
        lineitem.join(cohortOrders,
          col("l_orderkey") === col("o_orderkey"), "left_semi")))
  }

  /** Rows per backfill batch for [[backfillPlan]]. */
  val BackfillBatch = 200L

  /** Backfill chunking plan — how a large initial sync actually ships:
    * per hash partition, the row count, the number of BackfillBatch-
    * sized chunks (the reference applies bounded batches, never one
    * giant transaction), and the key bounds a worker would page
    * through. One map-side-combined aggregate over the snapshot. */
  def backfillPlan(customer: DataFrame): DataFrame =
    customer
      .select(pmod(col("c_custkey"), lit(ReadPartitions)).as("pid"),
        col("c_custkey").cast("long").as("key"))
      .groupBy("pid")
      .agg(count(lit(1)).as("n_rows"),
        min("key").as("key_lo"), max("key").as("key_hi"))
      .select(col("pid"), col("n_rows"),
        expr(s"(n_rows + ${BackfillBatch - 1}) div $BackfillBatch")
          .as("n_batches"),
        col("key_lo"), col("key_hi"))

  /** Partitioned bulk-read plan: split [min(key), max(key)] into
    * ReadPartitions ranges with the stride arithmetic a JDBC partitioned
    * reader uses; emits the per-partition predicate strings. The bounds
    * are a 1-row aggregate — no data moves. */
  def sourcePartitionPlan(customer: DataFrame): DataFrame = {
    val bounds = customer.agg(
      min(col("c_custkey")).cast("long").as("lo"),
      max(col("c_custkey")).cast("long").as("hi"))
    bounds
      .select(col("lo"), col("hi"),
        explode(sequence(lit(0L), lit(ReadPartitions - 1))).as("pid"))
      .withColumn("stride",
        expr(s"(hi - lo) div $ReadPartitions"))
      .select(
        col("pid"),
        (col("lo") + col("pid") * col("stride")).as("range_lo"),
        when(col("pid") === ReadPartitions - 1, col("hi") + 1)
          .otherwise(col("lo") + (col("pid") + 1) * col("stride"))
          .as("range_hi"))
      .withColumn("predicate",
        concat(lit("c_custkey >= "), col("range_lo").cast("string"),
          lit(" AND c_custkey < "), col("range_hi").cast("string")))
  }

  /** Bidirectional-sync conflict detection — the two-way extension of
    * [[deltaDetect]] (which assumes one side is the source of truth):
    * both replicas drifted from a common snapshot, and each edited key
    * must be classified as one-sided (safe to propagate) or a genuine
    * conflict, resolved last-writer-wins with source precedence on
    * ties. Drift is simulated deterministically in the delta_detect
    * convention: source edits keys %7 (+50 cents), target edits keys
    * %10 (+100 cents), edit timestamps are portable-hash-derived — so
    * keys %70 conflict and the LWW pick is reproducible on both
    * engines. Emits (key, base/src/tgt cents, both edit timestamps,
    * action, resolved cents).
    *
    * Shape: the three replicas derive from ONE row, so the whole
    * classification is a single narrow projection + filter over the
    * snapshot scan — no join, no shuffle, trivially 100 TB-safe. A
    * real deployment substitutes actual replica scans for the two
    * simulated edit columns; the classification and LWW logic are
    * unchanged (they then ride the same full-outer key join
    * deltaDetect pays). */
  def syncConflicts(customer: DataFrame): DataFrame = {
    import graft.functions.PortableHash.phash
    val base = customer.select(col("c_custkey").as("key"),
      round(col("c_acctbal") * 100).cast("long").as("base_cents"))
    base
      .withColumn("src_edit", pmod(col("key"), lit(7L)) === 0)
      .withColumn("tgt_edit", pmod(col("key"), lit(10L)) === 0)
      .where(col("src_edit") || col("tgt_edit"))
      .withColumn("src_cents",
        when(col("src_edit"), col("base_cents") + 50L)
          .otherwise(col("base_cents")))
      .withColumn("tgt_cents",
        when(col("tgt_edit"), col("base_cents") + 100L)
          .otherwise(col("base_cents")))
      .withColumn("src_ts",
        when(col("src_edit"), pmod(phash(
          concat(lit("s:"), col("key").cast("string"))), lit(1000L)))
          .otherwise(lit(-1L)))
      .withColumn("tgt_ts",
        when(col("tgt_edit"), pmod(phash(
          concat(lit("t:"), col("key").cast("string"))), lit(1000L)))
          .otherwise(lit(-1L)))
      .withColumn("action",
        when(col("src_edit") && !col("tgt_edit"), lit("APPLY_TO_TARGET"))
          .when(!col("src_edit") && col("tgt_edit"), lit("APPLY_TO_SOURCE"))
          .when(col("tgt_ts") > col("src_ts"), lit("CONFLICT_TGT_WINS"))
          .otherwise(lit("CONFLICT_SRC_WINS")))
      .withColumn("resolved_cents",
        when(col("action").isin("APPLY_TO_SOURCE", "CONFLICT_TGT_WINS"),
          col("tgt_cents")).otherwise(col("src_cents")))
      .drop("src_edit", "tgt_edit")
  }

  /** [[dataSkippingAudit]] geometry: day width of a date-ranged
    * chunk, orderkey width of a key-ranged chunk, bucket count of the
    * hash layout, and the probe window (days since 1992-01-01 —
    * computed from calendar dates, not wall clock). */
  val SkipDateChunkDays = 16L
  val SkipKeyChunkWidth = 4096L
  val SkipHashBuckets = 256L
  val SkipEpoch: java.time.LocalDate = java.time.LocalDate.of(1992, 1, 1)
  val ProbeLoDay: Long = java.time.temporal.ChronoUnit.DAYS.between(
    SkipEpoch, java.time.LocalDate.of(1998, 6, 1))
  val ProbeHiDay: Long = java.time.temporal.ChronoUnit.DAYS.between(
    SkipEpoch, java.time.LocalDate.of(1998, 7, 1))

  /** Data-skipping audit across candidate storage layouts — the
    * zone-map question that decides a 100 TB table's sort key: for a
    * one-month shipdate probe, how many range-partition chunks can
    * min/max statistics prune under (a) date-ranged layout (the right
    * sort key — prunes almost everything), (b) orderkey-ranged (the
    * "natural" PK layout — dates spread, prunes little beyond the
    * calendar edges), (c) hash-scattered (every chunk spans the whole
    * calendar — prunes nothing)? Per layout: chunks, pruned chunks,
    * rows skipped, skip ppm, and the matched-row count (identical
    * across layouts — the built-in sanity row). Chunks are KEY RANGES
    * (how range partitioning and parquet row groups actually lay
    * out), so the whole audit is grid aggregates on (layout, chunk) —
    * no global row_number, no unpartitioned window, fact table
    * scanned once per layout expression. */
  def dataSkippingAudit(lineitem: DataFrame): DataFrame = {
    import graft.functions.PortableHash.phash
    val day = expr(
      s"cast(datediff(l_shipdate, DATE '1992-01-01') as bigint)")
    val base = lineitem.select(col("l_orderkey"), col("l_linenumber"),
      day.as("d"))
    def audit(name: String, chunk: Column): DataFrame =
      base.select(chunk.as("chunk"), col("d"))
        .groupBy("chunk")
        .agg(count(lit(1)).as("n_rows"), min("d").as("lo"),
          max("d").as("hi"),
          sum((col("d") >= ProbeLoDay && col("d") < ProbeHiDay)
            .cast("long")).as("n_matched"))
        .select(lit(name).as("layout"), col("n_rows"),
          (col("hi") < ProbeLoDay || col("lo") >= ProbeHiDay)
            .cast("long").as("pruned"), col("n_matched"))
        .groupBy("layout")
        .agg(count(lit(1)).as("n_chunks"),
          sum("pruned").as("n_pruned_chunks"),
          sum("n_rows").as("n_rows"),
          sum(when(col("pruned") === 1L, col("n_rows"))
            .otherwise(0L)).as("rows_skipped"),
          sum("n_matched").as("n_matched"))
        .select(col("layout"), col("n_chunks"), col("n_pruned_chunks"),
          col("n_rows"), col("rows_skipped"),
          expr("rows_skipped * 1000000 div n_rows").as("skip_ppm"),
          col("n_matched"))
    audit("date_ranged", expr(s"d div $SkipDateChunkDays"))
      .unionByName(audit("orderkey_ranged",
        expr(s"l_orderkey div $SkipKeyChunkWidth")))
      .unionByName(audit("hash_scattered",
        pmod(phash(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))),
          lit(SkipHashBuckets))))
  }

  /** Declared desired schema for [[migrationPlan]] — the sync target's
    * source-of-truth manifest, ONE shared constant feeding both the
    * Spark plan and the DuckDB oracle's VALUES list (the
    * [[CatalogColumns]] pattern). Deliberate drift vs the live
    * parquet: documents gains quality_score (ADD), orders declares
    * no o_orderpriority (DROP), lineitem.l_quantity and
    * customer.c_acctbal are declared decimal (CAST). Types are Spark
    * simpleString names; the oracle maps DuckDB's DESCRIBE names onto
    * the same vocabulary. */
  val DesiredSchema: Seq[(String, String, String)] = Seq(
    ("region", "r_regionkey", "int"), ("region", "r_name", "string"),
    ("nation", "n_nationkey", "int"), ("nation", "n_name", "string"),
    ("nation", "n_regionkey", "int"),
    ("customer", "c_custkey", "bigint"),
    ("customer", "c_name", "string"),
    ("customer", "c_nationkey", "int"),
    ("customer", "c_acctbal", "decimal(18,2)"),
    ("customer", "c_mktsegment", "string"),
    ("supplier", "s_suppkey", "bigint"),
    ("supplier", "s_name", "string"),
    ("supplier", "s_nationkey", "int"),
    ("supplier", "s_acctbal", "double"),
    ("part", "p_partkey", "bigint"), ("part", "p_name", "string"),
    ("part", "p_brand", "string"), ("part", "p_type", "string"),
    ("part", "p_size", "int"), ("part", "p_retailprice", "double"),
    ("orders", "o_orderkey", "bigint"),
    ("orders", "o_custkey", "bigint"),
    ("orders", "o_orderstatus", "string"),
    ("orders", "o_totalprice", "double"),
    ("orders", "o_orderdate", "timestamp_ntz"),
    ("lineitem", "l_orderkey", "bigint"),
    ("lineitem", "l_partkey", "bigint"),
    ("lineitem", "l_suppkey", "bigint"),
    ("lineitem", "l_linenumber", "int"),
    ("lineitem", "l_quantity", "decimal(12,2)"),
    ("lineitem", "l_extendedprice", "double"),
    ("lineitem", "l_discount", "double"),
    ("lineitem", "l_tax", "double"),
    ("lineitem", "l_returnflag", "string"),
    ("lineitem", "l_linestatus", "string"),
    ("lineitem", "l_shipdate", "timestamp_ntz"),
    ("documents", "doc_id", "bigint"),
    ("documents", "text", "string"),
    ("documents", "lang", "string"),
    ("documents", "source", "string"),
    ("documents", "n_chars", "bigint"),
    ("documents", "quality_score", "double"),
    ("embeddings", "vec_id", "bigint"),
    ("embeddings", "embedding", "array<float>"),
    ("embeddings", "label", "int"))

  /** Schema-migration plan — the ALTER script that brings the live
    * sync target to the declared manifest (the column-level sibling of
    * sync_reconcile's trigger/index reconciliation; reference:
    * init/DatabaseInitializer.scala creates what's missing and
    * dbopt/DbOperation.scala:39-52 probes what exists, but column
    * drift is left to the operator — this closes that gap). Per
    * (table, column): current type, desired type, action
    * (ADD / DROP / CAST / OK) and the emitted DDL. Schema metadata is
    * intrinsically driver-sized (catalog rows, not data rows), so the
    * relation is built from the loaders' schemas and the diff is a
    * full outer join of two ≤100-row relations — no fact table is
    * scanned at any sf. */
  def migrationPlan(spark: org.apache.spark.sql.SparkSession,
                    live: Seq[(String, DataFrame)]): DataFrame = {
    import spark.implicits._
    val liveRel = live.flatMap { case (t, df) =>
      df.schema.fields.map(f => (t, f.name, f.dataType.simpleString))
    }.toDF("table_name", "column_name", "current_type")
    val desired = DesiredSchema
      .toDF("table_name", "column_name", "desired_type")
    liveRel.join(desired, Seq("table_name", "column_name"), "full_outer")
      .withColumn("action",
        when(col("current_type").isNull, lit("ADD"))
          .when(col("desired_type").isNull, lit("DROP"))
          .when(col("current_type") =!= col("desired_type"), lit("CAST"))
          .otherwise(lit("OK")))
      .withColumn("ddl",
        when(col("action") === "ADD", concat(lit("ALTER TABLE "),
          col("table_name"), lit(" ADD COLUMN "), col("column_name"),
          lit(" "), col("desired_type")))
          .when(col("action") === "DROP", concat(lit("ALTER TABLE "),
            col("table_name"), lit(" DROP COLUMN "), col("column_name")))
          .when(col("action") === "CAST", concat(lit("ALTER TABLE "),
            col("table_name"), lit(" ALTER COLUMN "), col("column_name"),
            lit(" TYPE "), col("desired_type")))
          .otherwise(lit("-")))
      .na.fill("-", Seq("current_type", "desired_type"))
  }

  /** Width grid for [[partitionAdvisor]] — one (column → kind) row per
    * scanned column, the SINGLE constant both the Spark aggregation
    * and the DuckDB oracle are generated from (the CatalogColumns
    * discipline). Kinds: f8 (8-byte fixed: bigint/double/timestamp),
    * f4 (4-byte fixed: int), str (exact byte length, summed). */
  val AdvisorGrid: Seq[(String, Seq[(String, String)])] = Seq(
    "region" -> Seq("r_regionkey" -> "f4", "r_name" -> "str"),
    "nation" -> Seq("n_nationkey" -> "f4", "n_name" -> "str",
      "n_regionkey" -> "f4"),
    "customer" -> Seq("c_custkey" -> "f8", "c_name" -> "str",
      "c_nationkey" -> "f4", "c_acctbal" -> "f8",
      "c_mktsegment" -> "str"),
    "supplier" -> Seq("s_suppkey" -> "f8", "s_name" -> "str",
      "s_nationkey" -> "f4", "s_acctbal" -> "f8"),
    "part" -> Seq("p_partkey" -> "f8", "p_name" -> "str",
      "p_brand" -> "str", "p_type" -> "str", "p_size" -> "f4",
      "p_retailprice" -> "f8"),
    "orders" -> Seq("o_orderkey" -> "f8", "o_custkey" -> "f8",
      "o_orderstatus" -> "str", "o_totalprice" -> "f8",
      "o_orderdate" -> "f8", "o_orderpriority" -> "str"),
    "lineitem" -> Seq("l_orderkey" -> "f8", "l_partkey" -> "f8",
      "l_suppkey" -> "f8", "l_linenumber" -> "f4",
      "l_quantity" -> "f8", "l_extendedprice" -> "f8",
      "l_discount" -> "f8", "l_tax" -> "f8", "l_returnflag" -> "str",
      "l_linestatus" -> "str", "l_shipdate" -> "f8"))

  /** Scan-partition size target (bytes of uncompressed columnar data
    * per task — Spark's own maxPartitionBytes default). */
  val TargetPartitionBytes = 134217728L

  /** Scan-partition advisor — the sizing decision every bulk
    * source read makes (JDBC numPartitions, files.maxPartitionBytes):
    * per table, the exact uncompressed columnar byte estimate (fixed
    * widths from [[AdvisorGrid]], string columns by exact summed
    * octet length — an estimate of memory footprint, not of
    * compressed parquet on disk), bytes per row, and the recommended
    * read-partition count ⌈bytes / [[TargetPartitionBytes]]⌉. The
    * deterministic-integer twin of what AQE does from runtime
    * statistics, published BEFORE the first scan so the reader can be
    * configured rather than re-planned. Shape: ONE map-side-combined
    * aggregate per table (count + string-length sums — no Expand, no
    * distinct), output table-grid-sized. */
  def partitionAdvisor(tables: Seq[(String, DataFrame)]): DataFrame = {
    val grid = AdvisorGrid.toMap
    tables.map { case (t, df) =>
      val cols = grid(t)
      val fixedW = cols.collect {
        case (_, "f8") => 8L
        case (_, "f4") => 4L
      }.sum
      val strSums = cols.collect { case (c, "str") =>
        sum(expr(s"octet_length($c)").cast("long"))
      }
      val strTotal = strSums.reduceOption(_ + _).getOrElse(lit(0L))
      df.agg(count(lit(1)).as("n_rows"), strTotal.as("str_bytes"))
        .select(lit(t).as("table_name"), col("n_rows"),
          (col("n_rows") * fixedW + coalesce(col("str_bytes"), lit(0L)))
            .as("est_bytes"))
    }.reduce(_ unionByName _)
      .withColumn("bytes_per_row",
        expr("est_bytes div greatest(n_rows, 1L)"))
      .withColumn("rec_partitions",
        expr(s"greatest((est_bytes + $TargetPartitionBytes - 1)" +
          s" div $TargetPartitionBytes, 1L)"))
      .withColumn("verdict",
        when(col("rec_partitions") === 1L, "SINGLE").otherwise("SPLIT"))
  }

  /** Cohort modulus for [[accessExport]] (requests are rare and
    * bounded, like [[forgetAudit]]'s deletion cohort). */
  val AccessMod = 101L

  /** Right-to-access export — the GDPR/CCPA subject-access twin of
    * [[forgetAudit]]: for every requesting user (the bounded
    * hash-derived cohort, standing in for a request table), the
    * complete per-subject data bundle rendered as one deterministic
    * JSON body — profile fields, order count and monetary mass, event
    * count and last activity — the deliverable an operator hands the
    * subject. Shape: cohort semi/equi-joins left to AQE (the
    * forget_audit lesson: never force a broadcast of a cohort that
    * grows with the customer table); two map-side-combined per-user
    * aggregates; output cohort-sized. */
  def accessExport(changelog: DataFrame, customer: DataFrame,
                   orders: DataFrame): DataFrame = {
    val cohort = customer
      .where(pmod(col("c_custkey"), lit(AccessMod)) === 0)
      .select(col("c_custkey").as("u"), col("c_name"),
        col("c_mktsegment"))
    val ord = orders
      .join(cohort.select("u"), col("o_custkey") === col("u"),
        "left_semi")
      .groupBy(col("o_custkey").as("u"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long"))
          .as("order_mass_cents"))
    val ev = changelog
      .join(cohort.select("u"), col("user_id") === col("u"),
        "left_semi")
      .groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("n_events"), max("ems").as("last_ems"))
    def num(c: Column) = c.cast("string")
    cohort.join(ord, Seq("u"), "left").join(ev, Seq("u"), "left")
      .na.fill(0L, Seq("n_orders", "order_mass_cents", "n_events",
        "last_ems"))
      .select(col("u").as("user_id"), col("n_orders"), col("n_events"),
        concat(
          lit("{\"userId\":"), num(col("u")),
          lit(",\"name\":\""), col("c_name"),
          lit("\",\"segment\":\""), col("c_mktsegment"),
          lit("\",\"orders\":"), num(col("n_orders")),
          lit(",\"orderMassCents\":"), num(col("order_mass_cents")),
          lit(",\"events\":"), num(col("n_events")),
          lit(",\"lastEventMs\":"), num(col("last_ems")),
          lit("}")).as("body"))
  }

  /** Header↔detail revenue reconciliation — the warehouse QA that
    * runs after every sync of a master/detail pair: per order, the
    * header total vs the sum of its lines' net revenue
    * (price·(1−disc)·(1+tax), per-row-rounded to cents), reported as
    * a log2-bucketed mismatch census (bucket −1 = exact match,
    * bucket b = diff in [2^(b−1), 2^b) cents) with per-bucket order
    * counts, diff bounds, and header mass. On a warehouse whose
    * headers are maintained by trigger this is all in bucket −1; this
    * synthetic corpus generates o_totalprice independently, so the
    * census honestly reports the disagreement — the audit is the
    * detector, not a gate the testdata must pass. Shape: ONE
    * map-side-combined per-order aggregate of lineitem + one
    * broadcast-free key join + a ≤64-bucket rollup. */
  def orderReconcile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lines = lineitem
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 100).cast("long").as("line_c"))
      .groupBy("l_orderkey")
      .agg(sum("line_c").as("lines_cents"))
    orders
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("header_cents"))
      .join(lines, col("o_orderkey") === col("l_orderkey"), "left")
      .na.fill(0L, Seq("lines_cents"))
      .select(col("header_cents"),
        abs(col("header_cents") - col("lines_cents")).as("diff_cents"))
      .withColumn("bucket",
        when(col("diff_cents") === 0L, lit(-1L))
          .otherwise(length(bin(col("diff_cents"))).cast("long")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"),
        min("diff_cents").as("min_diff_cents"),
        max("diff_cents").as("max_diff_cents"),
        sum("header_cents").as("header_mass_cents"))
  }

  /** Benford expected first-digit shares in ppm (⌊log10(1+1/d)·1e6⌉),
    * the SINGLE constant both the Spark expression and the DuckDB
    * oracle render from — they sum to exactly 1,000,000. */
  val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** Benford TVD verdict threshold (ppm). */
  val BenfordTolPpm = 60000L

  /** Benford first-digit audit over a synced monetary column — the
    * value-distribution QA a sync validator runs beside
    * checksum_compare: fabricated, truncated, or unit-mangled loads
    * shift the leading-digit histogram long before totals drift.
    * Values go to exact cents per row (the shared rounding
    * convention); the leading digit of a positive bigint is its first
    * rendered character — portable, no float log10, and invariant
    * under the ×100 cents scaling (powers of ten preserve leading
    * digits). Per digit: count, observed ppm, the Benford expectation
    * from [[BenfordPpm]], absolute deviation; the global
    * total-variation distance (½ Σ|obs−exp|) rides every row via a
    * window over the ≤9-row digit GRID, with a BENFORD/SKEWED verdict
    * at [[BenfordTolPpm]]. The observed counts are DENSIFIED onto the
    * full 9-digit grid from [[BenfordPpm]] before the TVD window — a
    * digit with zero observations contributes dev_ppm = exp_ppm, so
    * the metric stays ½·Σ|obs−exp| over ALL digits and a maximally
    * skewed load (every value sharing one leading digit) cannot
    * understate its own distance. A uniform synthetic price column is
    * EXPECTED to read SKEWED — the audit is the detector, not a gate
    * the testdata must pass. Shape: one narrow projection + one
    * 9-group map-side-combined aggregate; everything after is
    * grid-sized. */
  def benfordAudit(orders: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val grid = BenfordPpm.map { case (d, p) => (d.toLong, p) }
      .toDF("digit", "exp_ppm")
    val per = orders
      .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
      .where(col("cents") > 0L)
      .select(substring(col("cents").cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
    val tot = per.agg(sum("n").as("tot"))
    grid.join(per, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        expr("n * 1000000 div tot").as("obs_ppm"),
        col("exp_ppm"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .withColumn("tvd_ppm", expr("sum(dev_ppm) over () div 2"))
      .withColumn("verdict",
        when(col("tvd_ppm") <= BenfordTolPpm, "BENFORD")
          .otherwise("SKEWED"))
  }

  /** MAD outlier multiplier for [[madOutliers]]. */
  val MadK = 5L

  /** Robust per-segment outlier census over synced order totals — the
    * median/MAD twin of [[benfordAudit]]'s digit audit: a mean/stddev
    * test misses fat-tailed fraud or unit-mangled loads because the
    * outliers poison the estimate, while the exact lower median and
    * the MAD (lower median of |x − median|) are 50%-breakdown robust.
    * Per customer segment: n_orders, median cents, MAD cents, and the
    * count of orders above median + [[MadK]]·MAD in ppm. Everything is
    * integer cents with the lower-median convention, so both engines
    * agree bit-for-bit. Scale shape: ONE corpus join + one
    * (segment, cents) aggregate shuffle; every window rides the
    * distinct-value relation (the value_median discipline), the
    * 5-row median/MAD relations broadcast back, and the deviation and
    * outlier passes reuse the aggregated counts — the corpus is never
    * rescanned. */
  def madOutliers(orders: DataFrame, customer: DataFrame): DataFrame = {
    val counts = orders
      .join(customer.select(col("c_custkey"),
        col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("segment"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy("segment", "cents")
      .agg(count(lit(1)).as("c"))
    def lowMed(df: DataFrame, v: String): DataFrame = {
      val w = Window.partitionBy("segment").orderBy(v)
      val cw = Window.partitionBy("segment")
      df.withColumn("cum", sum("c").over(w))
        .withColumn("cnt", sum("c").over(cw))
        .where(col("cum") - col("c") < expr("(cnt + 1) div 2") &&
          expr("(cnt + 1) div 2") <= col("cum"))
        .select(col("segment"), col(v).as("med"), col("cnt"))
    }
    val med = lowMed(counts, "cents")
      .select(col("segment"), col("med").as("median_cents"),
        col("cnt").as("n_orders"))
    val deltas = counts.join(broadcast(med), "segment")
      .select(col("segment"),
        (col("cents") - col("median_cents")).as("delta"), col("c"))
    val adev = deltas
      .select(col("segment"), abs(col("delta")).as("dev"), col("c"))
      .groupBy("segment", "dev")
      .agg(sum("c").as("c"))
    val mad = lowMed(adev, "dev")
      .select(col("segment"), col("med").as("mad_cents"))
    val outl = deltas.join(broadcast(mad), "segment")
      .groupBy("segment")
      .agg(coalesce(sum(when(col("delta") > lit(MadK) * col("mad_cents"),
        col("c"))), lit(0L)).cast("long").as("n_outliers"))
    med.join(mad, "segment").join(outl, "segment")
      .select(col("segment"), col("n_orders"), col("median_cents"),
        col("mad_cents"), col("n_outliers"),
        expr("n_outliers * 1000000 div n_orders").as("outlier_ppm"))
  }
}
