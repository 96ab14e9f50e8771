package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ChangeLog
import graft.sources.PartitionedSink

/** Rewrite-minimized partitioned merge: correctness of the applied
  * state AND physical proof that untouched partitions' files are not
  * rewritten.
  */
class PartitionedSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("applyChanges rewrites only affected partitions and merges correctly") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val base = Tables.customer(spark, TestSpark.Sf).select(
      col("c_custkey").as("key"),
      round(col("c_acctbal") * 100).cast("long").as("cents"))
    PartitionedSink.writeTarget(base, dir, "key")

    // restrict the changelog to 4 partitions so 12 stay untouched
    val cl = ChangeLog.normalize(Tables.events(spark, TestSpark.Sf))
      .where(col("part") < 4)
    def listFiles(): Map[String, Long] =
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    val before = listFiles()

    // a static session conf (Spark's default, so other suites are
    // unaffected): dynamic overwrite must come from the write option
    // alone — the untouched-partition check below proves it — and the
    // caller's conf must be left as it was
    val ModeKey = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(ModeKey, "static")
    val affected = PartitionedSink.applyChanges(spark, cl, dir)
    assert(spark.conf.get(ModeKey) === "static", "caller's session conf changed")
    assert(affected === (0L to 3L))

    val after = listFiles()
    val untouchedBefore = before.filter(!_._1.contains("part=0"))
      .filter(!_._1.matches(".*part=[123]/.*"))
    untouchedBefore.foreach { case (f, mtime) =>
      assert(after.get(f).contains(mtime), s"untouched partition file rewritten: $f")
    }

    // correctness: final state equals a full in-memory merge
    val got = spark.read.parquet(dir).select("key", "cents").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = {
      val baseMap = base.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val changes = cl.select("user_id", "ems", "event_id", "op", "value_cents")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
        .sortBy(t => (t._2, t._3))
      changes.foldLeft(baseMap) {
        case (m, (uid, _, _, "D", _)) => m - uid
        case (m, (uid, _, _, _, cents)) => m.updated(uid, cents)
      }
    }
    assert(got === naive)
  }

  test("a partition fully emptied by deletes is physically removed") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink-del").toString
    // partition 5 holds exactly keys {5, 21}; partition 0 holds {16}
    val base = Seq((5L, 100L), (21L, 200L), (16L, 300L)).toDF("key", "cents")
    PartitionedSink.writeTarget(base, dir)
    assert(Files.exists(Paths.get(dir, "part=5")))
    // changelog: delete both partition-5 keys, update the partition-0 key
    val cl = Seq(
      (1L, 5L, "D", 1000L, 0L, 0L, 5L),
      (2L, 21L, "D", 1000L, 0L, 0L, 5L),
      (3L, 16L, "U", 1000L, 0L, 999L, 0L)
    ).toDF("event_id", "user_id", "op", "ems", "epoch_s", "value_cents", "part")
      .withColumn("k", lit(0L))
    val affected = PartitionedSink.applyChanges(spark, cl, dir)
    assert(affected === Seq(0L, 5L))
    // the emptied partition is gone; the read-back has no trace of it
    assert(!Files.exists(Paths.get(dir, "part=5")))
    val got = spark.read.parquet(dir).select("key", "cents").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(16L -> 999L))
  }
}
