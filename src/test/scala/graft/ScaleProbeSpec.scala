package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The scale probe's amplification must PRESERVE dup structure: every
  * candidate pair stays within one copy (disjoint shingle sets across
  * copies) and the pair count scales exactly k× — otherwise the probe's
  * "linear in rows" verdict measures amplification artifacts, not plans
  * (the bug the first one-tag-per-doc cut had). At k = 1 the copy must
  * equal the base, since it is the scale gate's 1× baseline.
  */
class ScaleProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("amplifyDocuments: candidate pairs stay within-copy and scale kx") {
    import spark.implicits._
    val k = 3
    def text(from: Int) = (from until from + 20).map(i => s"w$i").mkString(" ")
    // one dup pair (1~2) + one singleton per copy after amplification
    val base = Seq((1L, text(1)), (2L, text(2)), (9L, text(500)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
    val basePairs = Dedup.minhashCandidates(base).count()
    assert(basePairs >= 1L)
    val amp = AmplifyCorpus.amplifyDocuments(base, k)
    assert(amp.count() === base.count() * k)
    val pairs = Dedup.minhashCandidates(amp).collect()
    assert(pairs.length.toLong === basePairs * k, "pair count must scale kx")
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      assert(a / 1000000000L === b / 1000000000L,
        s"cross-copy candidate pair ($a, $b)")
    }
  }

  test("amplifyEvents: volume and key cardinality both scale kx") {
    val k = 3
    val ev = Tables.events(spark, TestSpark.Sf).limit(200)
    val amp = AmplifyCorpus.amplifyEvents(ev, k)
    assert(amp.count() === ev.count() * k)
    assert(amp.select("user_id").distinct().count() ===
      ev.select("user_id").distinct().count() * k)
    assert(amp.select("event_id").distinct().count() === amp.count())
  }

  test("amplify k=1: events, embeddings and fact tables equal the base") {
    val out = Files.createTempDirectory("graft-amp-x1").toString
    AmplifyCorpus.amplify(spark, TestSpark.Sf, out, 1)
    def same(base: DataFrame, amp: DataFrame, what: String): Unit = {
      assert(base.exceptAll(amp).isEmpty, s"$what: base rows missing")
      assert(amp.exceptAll(base).isEmpty, s"$what: extra rows")
    }
    same(Tables.events(spark, TestSpark.Sf), Tables.events(spark, out),
      "events")
    for (t <- "embeddings" +: AmplifyCorpus.FactKeys.map(_._1))
      same(Tables.table(spark, TestSpark.Sf, t), Tables.table(spark, out, t), t)
    def ids(dir: String) = Tables.documents(spark, dir).select("doc_id")
    same(ids(TestSpark.Sf), ids(out), "documents.doc_id")
  }
}
