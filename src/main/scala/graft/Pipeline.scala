package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** The sync flow composed end-to-end as one full-stream pass:
  * normalize → last-writer-wins merge → upsert/delete apply → ack
  * ledger → sync state/alerts. (For bounded incremental batches, feed
  * `ChangeLog.pollBatch` output in instead of the full changelog —
  * `state.pending` then reflects what the poll has not yet picked up.)
  * Each stage is the library operator; composing them adds no extra
  * shuffles beyond the stages themselves (one on the sync key, one on
  * the base key).
  */
object Pipeline {
  final case class Result(applied: DataFrame, state: DataFrame,
                          acks: DataFrame, alerts: DataFrame)

  def run(spark: SparkSession, sfDir: String): Result = {
    val cl = ChangeLog.normalize(Tables.events(spark, sfDir))
    Result(
      applied = CdcMerge.upsertApply(cl, Tables.customer(spark, sfDir)),
      state = Ledger.syncState(cl),
      acks = Ledger.batchAck(cl),
      alerts = Ledger.monitorAlerts(cl))
  }

  /** Runnable: one JSON summary line of a full sync pass. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local(GraftSession.cpus("4"))
    println(summary(spark, sfDir))
    spark.stop()
  }

  /** One full sync pass over `sfDir`, summarized as one JSON line. */
  def summary(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.functions._
    val r = run(spark, sfDir)
    // one job over the applied plan, not three
    val s = r.applied.agg(
      count(lit(1)).as("rows"),
      count(when(col("apply_op") === "INSERT", 1)).as("inserts"),
      count(when(col("apply_op") === "UPDATE", 1)).as("updates")).collect().head
    val alerts = r.alerts.where(col("alert") =!= "HEALTHY").count()
    s"""{"pipeline":"sync_pass","applied_rows":${s.getLong(0)},"inserts":${s.getLong(1)},"updates":${s.getLong(2)},"active_alerts":$alerts}"""
  }
}
