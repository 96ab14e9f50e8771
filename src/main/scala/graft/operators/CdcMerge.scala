package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Last-writer-wins merge + upsert/delete apply — the heart of the sync.
  *
  * Reference semantics: `sync/DataSyncer.scala:70-133` applies changes of
  * one partition strictly in change order; the net effect per key is that
  * the LAST change wins (`dbopt/PgOperation.scala:49-82` INSERT .. ON
  * CONFLICT DO UPDATE for I/U, `:85-101` DELETE for D). At 100 TB the
  * per-key ordered replay collapses to one window (one hash shuffle on
  * the key) that picks the latest change, then a single set operation
  * against the base table.
  */
object CdcMerge {

  /** Latest change per key, deletes included. Deterministic total order:
    * (ems, event_id) — those two lead the struct, so lexicographic max
    * IS last-writer-wins. Assumes event_id is unique per changelog (it
    * is the change sequence number, like the reference's sync_data.id);
    * duplicate (ems, event_id) rows with different payloads would
    * tie-break arbitrarily. Implemented as an aggregation (not a window):
    * partial aggregation collapses each key map-side, so the single
    * hash shuffle carries ~|keys| rows instead of |events| — and a hot
    * key is reduced before it ever concentrates on one reducer (no
    * salting needed; the combiner is the skew handling). The changelog's
    * `k` is not carried: no consumer reads it, and leaving it out keeps
    * the props JSON parse and the `props` column out of every LWW scan.
    */
  def lastPerKey(changelog: DataFrame): DataFrame =
    changelog
      .groupBy("user_id")
      .agg(max(struct(
        col("ems"), col("event_id"), col("op"), col("epoch_s"),
        col("value_cents"), col("part"))).as("s"))
      .select(col("user_id"), col("s.event_id"), col("s.op"), col("s.ems"),
        col("s.epoch_s"), col("s.value_cents"), col("s.part"))

  /** Merged live state: latest change per key, with deleted keys dropped.
    * This is the "materialized target table" view of the changelog.
    */
  def merge(changelog: DataFrame): DataFrame =
    lastPerKey(changelog)
      .where(col("op") =!= "D")
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("op").as("last_op"),
        col("epoch_s").as("last_epoch_s"),
        col("value_cents").as("last_value_cents"))

  /** Apply the merged changelog onto a base table (customer keyed by
    * c_custkey): upserts update/insert, latest-op-D keys are deleted,
    * untouched base rows pass through. Single full-outer hash join —
    * both sides shuffled once on the key; no driver-side loop.
    */
  def upsertApply(changelog: DataFrame, customer: DataFrame): DataFrame = {
    val last = lastPerKey(changelog)
      .select("user_id", "op", "value_cents")
    val base = customer.select(
      col("c_custkey"),
      col("c_name"),
      col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("base_cents"))
    base
      .join(last, base("c_custkey") === last("user_id"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("user_id"), col("c_custkey")).as("key"),
        coalesce(col("c_name"),
          concat(lit("user_"), col("user_id").cast("string"))).as("name"),
        coalesce(col("c_mktsegment"), lit("NEW")).as("mktsegment"),
        coalesce(col("value_cents"), col("base_cents")).as("acctbal_cents"),
        when(col("op").isNull, lit("BASE"))
          .when(col("c_custkey").isNull, lit("INSERT"))
          .otherwise(lit("UPDATE")).as("apply_op"))
  }

  /** Exactly-once idempotence gate — the regression harness behind
    * "at-least-once delivery + idempotent apply = exactly-once": the
    * SAME merged batch is applied a second time onto the once-applied
    * state (re-delivery of a whole poll cycle, the failure mode a
    * retrying sync worker actually produces), and the two states are
    * diffed key-by-key. Upserts must re-apply to the value they
    * already wrote and deletes of already-deleted keys must no-op, so
    * a healthy apply operator reports zero drift; any nonzero cell
    * names the non-idempotent op. One full-outer re-apply join plus
    * one full-outer diff join, both on the same key — three key
    * shuffles total, output one verdict row. */
  def idempotenceGate(changelog: DataFrame,
                      customer: DataFrame): DataFrame = {
    val once = upsertApply(changelog, customer)
      .select("key", "name", "mktsegment", "acctbal_cents")
    val last = lastPerKey(changelog)
      .select("user_id", "op", "value_cents")
    val twice = once
      .join(last, once("key") === last("user_id"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("user_id"), col("key")).as("key"),
        coalesce(col("name"),
          concat(lit("user_"), col("user_id").cast("string"))).as("name"),
        coalesce(col("mktsegment"), lit("NEW")).as("mktsegment"),
        coalesce(col("value_cents"), col("acctbal_cents"))
          .as("acctbal_cents"))
    val o = once.select(col("key"), col("name").as("o_name"),
      col("mktsegment").as("o_seg"), col("acctbal_cents").as("o_cents"))
    val t = twice.select(col("key"), col("name").as("t_name"),
      col("mktsegment").as("t_seg"), col("acctbal_cents").as("t_cents"))
    o.join(t, Seq("key"), "full_outer")
      .agg(
        count(col("o_cents")).as("n_once"),
        count(col("t_cents")).as("n_twice"),
        sum((col("o_cents").isNull || col("t_cents").isNull)
          .cast("long")).as("n_key_drift"),
        sum((col("o_cents").isNotNull && col("t_cents").isNotNull &&
          (col("o_cents") =!= col("t_cents") ||
            col("o_name") =!= col("t_name") ||
            col("o_seg") =!= col("t_seg"))).cast("long"))
          .as("n_value_drift"))
      .withColumn("verdict",
        when(col("n_key_drift") === 0L && col("n_value_drift") === 0L,
          "IDEMPOTENT").otherwise("DIVERGENT"))
  }

  /** Incremental aggregate maintenance: per-segment balance totals
    * after the changelog, computed as BASE AGGREGATE + DELTA — the base
    * table is only touched by the (small) delta join, never rescanned
    * for the aggregation. At 100 TB the base aggregate is the
    * previously materialized state and this query is the whole refresh.
    * Oracle-checked against a full recompute of the applied table.
    */
  def incrementalAgg(changelog: DataFrame, customer: DataFrame): DataFrame = {
    val base = customer.select(
      col("c_custkey"), col("c_mktsegment"),
      round(col("c_acctbal") * 100).cast("long").as("base_cents"))
    val baseAgg = base.groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(sum("base_cents").as("cents"), count(lit(1)).as("n"))
    val last = lastPerKey(changelog).select("user_id", "op", "value_cents")
    // delta rows: what each key's latest change does to its segment
    val joined = last.join(base, last("user_id") === base("c_custkey"), "left")
    val deltas = joined.select(
      coalesce(col("c_mktsegment"), lit("NEW")).as("mktsegment"),
      when(col("op") === "D",
        when(col("c_custkey").isNotNull, -col("base_cents")).otherwise(lit(0L)))
        .otherwise(col("value_cents") - coalesce(col("base_cents"), lit(0L)))
        .as("d_cents"),
      when(col("op") === "D",
        when(col("c_custkey").isNotNull, lit(-1L)).otherwise(lit(0L)))
        .when(col("c_custkey").isNull, lit(1L))
        .otherwise(lit(0L)).as("d_n"))
      .groupBy("mktsegment")
      .agg(sum("d_cents").as("cents"), sum("d_n").as("n"))
    baseAgg.unionByName(deltas)
      .groupBy("mktsegment")
      .agg(sum("cents").as("acctbal_cents"), sum("n").as("n_customers"))
      .where(col("n_customers") =!= 0)
  }

  /** 1-in-[[ViewDeltaMod]] deterministic changed-lineitem cohort for
    * [[viewRefreshPlan]] (portable hash of the row's PK, so the oracle
    * selects the identical delta). */
  val ViewDeltaMod = 20L

  /** Incremental refresh plan for a materialized JOIN view — the IVM
    * step incrementalAgg (single-table aggregate) doesn't cover: the
    * per-order revenue view over orders⋈lineitem, given a batch of
    * changed lineitems, needs recomputing ONLY for the touched order
    * keys. Per order priority: view rows, affected rows, touched
    * lineitems, and refresh_ppm — the number that justifies delta
    * maintenance over full rebuild (a 5% row churn typically touches
    * far more than 5% of a join view's keys; this measures the actual
    * amplification). Shapes: the delta predicate is a codegen'd hash
    * on the pushed-down PK columns; touched keys pre-aggregate per
    * orderkey BEFORE the join (the fk_integrity discipline — the join
    * moves |distinct keys|, not |changed rows|); the view side is the
    * orders scan aggregated per priority. */
  def viewRefreshPlan(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import graft.functions.PortableHash.phash
    val touched = lineitem
      .select(col("l_orderkey"), col("l_linenumber"))
      .where(pmod(phash(concat(col("l_orderkey").cast("string"),
        lit(":"), col("l_linenumber").cast("string"))),
        lit(ViewDeltaMod)) === 0)
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_touched_items"))
    orders.select(col("o_orderkey"), col("o_orderpriority"))
      .join(touched, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_view_rows"),
        count(col("l_orderkey")).as("n_affected"),
        coalesce(sum("n_touched_items"), lit(0L)).as("n_touched_items"))
      .select(col("o_orderpriority"), col("n_view_rows"),
        col("n_affected"), col("n_touched_items"),
        expr("n_affected * 1000000 div n_view_rows").as("refresh_ppm"))
  }

  /** Delete-only apply: base rows whose key's latest change is a delete
    * are removed (left-anti join on the deleted-key set).
    */
  def deleteApply(changelog: DataFrame, customer: DataFrame): DataFrame = {
    val deleted = lastPerKey(changelog)
      .where(col("op") === "D")
      .select(col("user_id").as("c_custkey"))
    customer
      .join(deleted, Seq("c_custkey"), "left_anti")
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"))
  }
}
