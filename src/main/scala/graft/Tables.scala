package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet-backed table loaders (TESTDATA.md tables). Single place that
  * touches storage so column pruning / filter pushdown stay auditable:
  * every operator selects columns immediately after these reads, which
  * Catalyst pushes into the parquet scan (`ReadSchema`).
  *
  * Resolve once: the first read of a table in a session lists its
  * files and infers its schema (`spark.read.parquet`, which may run a
  * Spark job), and the resolved `LogicalRelation` — the
  * `HadoopFsRelation` with its file index and schema — is kept per
  * (session, path). Every call returns a fresh DataFrame over
  * `relation.newInstance()`: new attribute ids per call, so a
  * self-join of two reads and `df("col")` references resolve exactly
  * as over two separate `spark.read.parquet` calls. Only metadata is
  * kept, never rows: each query still scans the files.
  *
  * The invalidate contract is [[Staged]]'s: re-writing parquet UNDER an
  * already-read path within one session serves the old file listing
  * and schema until [[Staged.invalidate]], which drops the resolved
  * tables with the staged relations (AmplifyCorpus calls it in its
  * write path). A session's entries are evicted by the same
  * application-end hook that evicts its staged relations.
  */
object Tables {
  private[graft] val resolved =
    TrieMap.empty[(SparkSession, String), LogicalRelation]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val rel = resolved.getOrElseUpdate((spark, path), {
      Staged.hookEviction(spark)
      spark.read.parquet(path).queryExecution.analyzed
        .asInstanceOf[LogicalRelation]
    })
    GraftBridge.ofRows(spark, rel.newInstance())
  }

  /** events.parquet stores ts as parquet TIMESTAMP(NANOS), which Spark 4
    * refuses by default. Read it as an exact ns-since-epoch long
    * (legacy.parquet.nanosAsLong) and surface BOTH `ts_ns` (exact, for
    * ordering/arithmetic) and `ts` (µs-truncated TimestampType, for
    * window()/streaming APIs).
    *
    * NOTE: this sets nanosAsLong on the SESSION (there is no per-read
    * option for it) — a deliberate global: after the first events()
    * call, any other parquet nanos column in the session also reads as
    * long. All engine reads go through this object, so the flag is
    * uniform by construction. It stays a session setting even though
    * the relation is resolved once: schema inference reads it at the
    * first resolve, and the parquet reader reads it again when each
    * query executes, so every call sets it before returning. A
    * registry query's kept plan ([[Staged.query]]) does not call this
    * again: it is keyed by the session conf its build left, so it is
    * served only while nanosAsLong is set, and a session where it was
    * unset misses and builds afresh.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsFrom(rawEvents(spark, sfDir))

  /** events.parquet as stored, with nanosAsLong set first (see
    * [[events]]) — the schema a streaming read of events files needs. */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(spark, sfDir, "events")
  }

  /** The one `ts` decode over a raw events DataFrame, batch or
    * streaming: whichever of the three stored encodings `ts` has
    * (ns-long, µs NTZ, µs LTZ), the result carries exact `ts_ns` and a
    * µs TimestampType `ts`. */
  def eventsFrom(raw: DataFrame): DataFrame = {
    val base = Seq(col("event_id"), col("user_id"), col("event_type"),
      col("value"), col("props"))
    raw.schema("ts").dataType match {
      case LongType =>
        // integer div: ns values overflow double's exact range, so no `/`
        raw.select(base :+ col("ts").as("ts_ns")
          :+ timestamp_micros(expr("ts div 1000")).as("ts"): _*)
      case TimestampNTZType =>
        // NTZ wall time IS UTC in the testdata. An NTZ→LTZ cast would
        // read the SESSION tz (and mutating the session conf here would
        // silently change every other query of an external caller), so
        // convert with tz-free local arithmetic instead: µs since the
        // NTZ epoch literal — identical under any session time zone.
        val us = expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
        raw.select(base :+ (us * 1000L).as("ts_ns")
          :+ timestamp_micros(us).as("ts"): _*)
      case _ =>
        raw.select(base :+ (unix_micros(col("ts")) * 1000L).as("ts_ns")
          :+ col("ts"): _*)
    }
  }
  def customer(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "customer")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "lineitem")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = table(spark, sfDir, "region")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = table(spark, sfDir, "part")
  def documents(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
