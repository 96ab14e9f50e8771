package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Runnable streaming job: file-source over the events parquet →
  * watermarked windowed throughput → console-free memory sink, drained
  * with Trigger.AvailableNow (one bounded run). Usage:
  *   runMain graft.streaming.StreamRun <sfDir>
  */
object StreamRun {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus("4"))
    println(run(spark, sfDir))
    spark.stop()
  }

  /** Drains the events of `sfDir` through the windowed-throughput
    * stream and returns the job's one-line JSON summary. */
  def run(spark: SparkSession, sfDir: String): String = {
    // The file source streams a *directory* of arriving files — stage the
    // events file into one (this is the real drop-dir deployment shape).
    val stageDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stageDir.resolve("events.parquet"))

    // file streaming source needs an explicit schema: reuse the batch one,
    // and decode ts exactly as the batch loader does
    val raw = spark.readStream.schema(Tables.rawEvents(spark, sfDir).schema)
      .parquet(stageDir.toString)
    val events = Tables.eventsFrom(raw).select(
      col("ts"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents"))

    val q = CdcStream.windowedThroughput(events)
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("stream_out")
    val rows = out.count()
    // sum over zero windows is null — that's the "empty poll" case, and
    // it must flow into backoffMs as 0 events (full backoff), not NPE
    val events_total = out.agg(coalesce(sum("n"), lit(0L)))
      .collect().head.getLong(0)
    // Adaptive poll backoff (DataPoller semantics): the drained batch
    // size decides how long the NEXT trigger waits. A long-running
    // deployment would restart the query with this ProcessingTime
    // trigger; the bounded AvailableNow demo reports it.
    val sysCfg =
      graft.config.SyncConfigs.parse(graft.config.SyncConfigs.DemoYaml).sys
    val nextWaitMs = CdcStream.backoffMs(events_total, sysCfg.batch.toLong,
      sysCfg.maxPollWait.toLong)
    s"""{"stream":"windowed_throughput","windows":$rows,"events":$events_total,"next_poll_wait_ms":$nextWaitMs}"""
  }
}
