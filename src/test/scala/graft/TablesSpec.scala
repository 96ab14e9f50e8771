package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring

/** Pins `Tables.events` against the three ts encodings the testdata has
  * shipped with so far: parquet TIMESTAMP(NANOS) read as long
  * (nanosAsLong), TIMESTAMP(MICROS) with tz (TIMESTAMP_LTZ), and
  * TIMESTAMP(MICROS) without tz (TIMESTAMP_NTZ — the round-6 regeneration
  * that broke 54 queries). A re-encoded events.parquet must fail HERE,
  * not at 36% of the query registry. Also pins the resolve-once
  * contract: a repeated read launches no job, every read has its own
  * attribute ids, and `Staged.invalidate()` re-resolves a rewritten
  * table.
  */
class TablesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 4 events with sub-µs ns components to pin the truncation behavior.
  private val nsValues = Seq(
    1700000000000000000L, 1700000001234567891L,
    1700086400999999999L, 1700172801000000500L)

  private def writeVariants(): (String, String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ts").toString
    val base = nsValues.zipWithIndex.map { case (ns, i) =>
      (i.toLong, i.toLong % 2, s"e$i", i.toDouble, """{"k":1}""", ns)
    }.toDF("event_id", "user_id", "event_type", "value", "props", "ts")

    // ns-as-long: plain long column named ts (what nanosAsLong reads back).
    val nsDir = s"$dir/ns"
    base.write.parquet(nsDir)

    // µs LTZ: truncate ns → µs, TimestampType.
    val ltzDir = s"$dir/ltz"
    base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      .write.parquet(ltzDir)

    // µs NTZ: same instant rendered tz-less (session tz is UTC).
    val ntzDir = s"$dir/ntz"
    base.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      .write.parquet(ntzDir)
    (nsDir, ltzDir, ntzDir)
  }

  private def load(dir: String) = {
    // Tables.events expects <sfDir>/events.parquet
    val sf = java.nio.file.Files.createTempDirectory("graft-sf").toString
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir), java.nio.file.Paths.get(s"$sf/events.parquet"))
    Tables.events(spark, sf)
      .select($"event_id", $"ts_ns", unix_micros($"ts").as("ts_us"))
      .orderBy($"event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  test("events loader yields identical (ts_ns trunc to µs, ts) across ns-long, µs-LTZ, µs-NTZ encodings") {
    val (nsDir, ltzDir, ntzDir) = writeVariants()
    val ns  = load(nsDir)
    val ltz = load(ltzDir)
    val ntz = load(ntzDir)

    // ts (µs) must agree exactly across all three encodings.
    assert(ns.map(r => (r._1, r._3)).toSeq === ltz.map(r => (r._1, r._3)).toSeq)
    assert(ltz === ntz)

    // ns branch keeps exact ns; µs branches carry µs-truncated ns.
    assert(ns.map(_._2).toSeq === nsValues)
    assert(ltz.map(_._2).toSeq === nsValues.map(v => v / 1000L * 1000L))

    // ts surfaces as TIMESTAMP_LTZ in every branch (window()/watermark APIs).
    val sf = java.nio.file.Files.createTempDirectory("graft-sf2").toString
    val (nsDir2, _, ntzDir2) = writeVariants()
    java.nio.file.Files.move(
      java.nio.file.Paths.get(ntzDir2), java.nio.file.Paths.get(s"$sf/events.parquet"))
    assert(Tables.events(spark, sf).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$sf/ns"))
    val sfNs = java.nio.file.Files.createTempDirectory("graft-sf3").toString
    java.nio.file.Files.move(
      java.nio.file.Paths.get(nsDir2), java.nio.file.Paths.get(s"$sfNs/events.parquet"))
    assert(Tables.events(spark, sfNs).schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
  }

  test("NTZ decode is session-timezone independent (no session conf mutation)") {
    val (_, _, ntzDir) = writeVariants()
    val sf = java.nio.file.Files.createTempDirectory("graft-sf-tz").toString
    java.nio.file.Files.move(
      java.nio.file.Paths.get(ntzDir), java.nio.file.Paths.get(s"$sf/events.parquet"))
    val tzBefore = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a caller session NOT pinned to UTC: the decode (and the collect,
      // which is when the lazy cast actually evaluates) must still see
      // UTC-epoch micros, and the loader must not touch the conf.
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val got = Tables.events(spark, sf)
        .select($"event_id", $"ts_ns").orderBy($"event_id")
        .collect().map(_.getLong(1)).toSeq
      assert(got === nsValues.map(v => v / 1000L * 1000L))
      assert(spark.conf.get("spark.sql.session.timeZone") ===
        "America/Los_Angeles")
    } finally spark.conf.set("spark.sql.session.timeZone", tzBefore)
  }

  test("real testdata events loads and ts_ns is non-null, monotone-compatible with ts") {
    val ev = Tables.events(spark, TestSpark.Sf)
    val bad = ev.select(
      sum(when($"ts_ns".isNull, 1).otherwise(0)).as("nulls"),
      sum(when(expr("ts_ns div 1000") =!= unix_micros($"ts"), 1).otherwise(0)).as("mismatch"))
      .collect()(0)
    assert(bad.getLong(0) === 0L)
    assert(bad.getLong(1) === 0L)
    assert(ev.count() > 0)
  }

  test("a second read of a table in the same session launches no Spark job") {
    val sf = java.nio.file.Files.createTempDirectory("graft-sf-once").toString
    Seq((1L, "a"), (2L, "b")).toDF("c_custkey", "c_name")
      .write.parquet(s"$sf/customer.parquet")
    // the first read lists the files and runs the schema-inference job
    assert(jobsDuring(Tables.customer(spark, sf)) >= 1)
    assert(jobsDuring(Tables.customer(spark, sf)) === 0)
  }

  test("a self-join of two reads on c_custkey resolves and returns the rows of two plain reads") {
    def selfJoin(a: DataFrame, b: DataFrame): Seq[String] =
      a.join(b, a("c_custkey") === b("c_custkey"))
        .select(a("c_custkey"), a("c_name"), b("c_nationkey"))
        .collect().map(_.toString).toSeq.sorted
    val (a, b) = (Tables.customer(spark, TestSpark.Sf),
      Tables.customer(spark, TestSpark.Sf))
    // each read carries its own attribute ids
    assert(a.queryExecution.analyzed.outputSet
      .intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    val path = s"${TestSpark.Sf}/customer.parquet"
    val got = selfJoin(a, b)
    assert(got.nonEmpty)
    assert(got === selfJoin(spark.read.parquet(path), spark.read.parquet(path)))
  }

  test("an in-place overwrite is read after Staged.invalidate(): new rows and schema") {
    val sf = java.nio.file.Files.createTempDirectory("graft-sf-rw").toString
    val path = s"$sf/customer.parquet"
    Seq((1L, "a")).toDF("c_custkey", "c_name").write.parquet(path)
    assert(Tables.customer(spark, sf).count() === 1)
    Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(path)
    // resolved once: the session still serves the old schema ...
    assert(Tables.customer(spark, sf).columns.length === 2)
    Staged.invalidate()
    // ... until invalidate() drops the resolved table
    val after = Tables.customer(spark, sf)
    assert(after.columns.toSeq === Seq("c_custkey", "c_name", "c_nationkey"))
    assert(after.orderBy("c_custkey").collect().map(_.toString).toSeq ===
      Seq("[1,a,7]", "[2,b,8]"))
  }
}
