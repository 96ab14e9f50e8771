package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a registry query runs over: a session plus the corpus tables
  * (TESTDATA.md) by name. Every [[SparkEntry]] build and every
  * [[Staged]] relation reads its inputs through one, so the same build
  * runs over a parquet directory ([[Corpus.Dir]], read through
  * [[Tables]]) or over named in-memory DataFrames ([[Corpus.Frames]]:
  * a test's synthetic frames).
  *
  * [[Staged]] keys its staged relations and kept query plans on the
  * corpus. A `Dir` equals every other `Dir` over the same (session,
  * dir), so `Staged.dedup(s, dir)` and `SparkEntry.queries(q)(s, dir)`
  * share one staged copy per relation; a `Frames` corpus equals only
  * itself. */
sealed trait Corpus {
  def spark: SparkSession

  /** Table `name` as stored (`events` with its stored `ts`). */
  def table(name: String): DataFrame

  /** events with exact `ts_ns` and a µs `ts` ([[Tables.eventsFrom]]). */
  def events: DataFrame = Tables.eventsFrom(table("events"))
  def customer: DataFrame   = table("customer")
  def orders: DataFrame     = table("orders")
  def lineitem: DataFrame   = table("lineitem")
  def nation: DataFrame     = table("nation")
  def region: DataFrame     = table("region")
  def supplier: DataFrame   = table("supplier")
  def part: DataFrame       = table("part")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object Corpus {

  /** The parquet tables under `dir`, resolved once per session by
    * [[Tables]]. */
  final case class Dir(spark: SparkSession, dir: String) extends Corpus {
    def table(name: String): DataFrame =
      if (name == "events") Tables.rawEvents(spark, dir)
      else Tables.table(spark, dir, name)
  }

  /** Named in-memory tables. Like a [[Tables]] read, every lookup
    * returns fresh attribute ids, so two reads of one table join as
    * two relations. */
  final class Frames private[Corpus] (frames: Map[String, DataFrame])
      extends Corpus {
    val spark: SparkSession = frames.values.head.sparkSession
    def table(name: String): DataFrame = {
      val df = frames(name)
      df.toDF(df.columns.toIndexedSeq: _*)
    }
  }

  def apply(spark: SparkSession, dir: String): Corpus = Dir(spark, dir)

  def apply(tables: (String, DataFrame)*): Corpus = new Frames(tables.toMap)
}
