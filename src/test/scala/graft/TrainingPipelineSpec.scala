package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Pins `TrainingPipeline.corpusFrom`, which reads the full corpus's
  * LSH pairs, to `TrainingPipeline.corpus`, the composition it stands
  * for: quality gate → exact-dedup join → `Dedup.minhashDedup` run over
  * the survivors themselves.
  *
  * The corpora force the over-full-bucket cases. A "family" is a set of
  * documents that rotate and cut one 10-token cycle differently: their
  * texts differ, but their 3-token shingle sets are the same cycle, so
  * their signatures, and so their 16 LSH buckets, are identical. A
  * family of more than MaxQuadraticBucket members fills over-full
  * buckets in every band; its texts of at most 16 two-letter tokens are
  * under 50 characters and fail the quality gate.
  */
class TrainingPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cycle = Seq("ta", "tb", "tc", "td", "te", "tf", "tg", "th", "ti", "tj")

  /** The family text starting at `offset` in the cycle, `n` tokens long
    * (n >= 12 covers every cyclic shingle; n <= 16 fails the gate). */
  private def familyText(offset: Int, n: Int): String =
    (0 until n).map(i => cycle((offset + i) % cycle.size)).mkString(" ")

  /** Documents with the given (doc_id, text) rows. */
  private def docs(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))

  /** The shipped sf0.001 documents, doc ids shifted past the families. */
  private def background: DataFrame =
    Tables.documents(spark, TestSpark.Sf)
      .withColumn("doc_id", col("doc_id") + 100000L)

  /** `corpusFrom` over the full corpus's dedup relations, built as
    * `Staged` builds them. */
  private def fromCorpusPairs(documents: DataFrame): DataFrame = {
    val sh = Dedup.shingleHashes(documents)
    val sigs = Dedup.signaturesFromHashes(sh).localCheckpoint(false)
    val stats = Dedup.bucketStats(sigs)
    val overfull = Dedup.overfullMembers(sigs, stats)
    TrainingPipeline.corpusFrom(documents, sh,
      Dedup.ngramJaccardFrom(sh, sigs, stats, overfull), overfull)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toString).toSeq.sorted

  /** Sizes of the corpus's over-full LSH buckets. */
  private def overfullSizes(documents: DataFrame): Seq[Long] = {
    val sigs = Dedup.signaturesFromHashes(Dedup.shingleHashes(documents))
    Dedup.bucketStats(sigs).where(col("bn") > Dedup.MaxQuadraticBucket)
      .select("bn").as[Long].collect().toSeq
  }

  private def assertExact(documents: DataFrame): Seq[String] = {
    val got = rows(fromCorpusPairs(documents))
    assert(got === rows(TrainingPipeline.corpus(documents)))
    got
  }

  test("no over-full bucket: the survivors equal the subset LSH chain's") {
    val family = (0 until 5).map(i => (i.toLong, familyText(i, 20))) ++
      Seq((5L, familyText(0, 20)), (6L, familyText(0, 12)))
    val documents = docs(family).unionByName(background)
    assert(overfullSizes(documents).isEmpty)
    val got = assertExact(documents)
    // one member of the near-dup family is left
    assert(got.count(_.contains("ta tb")) === 1)
  }

  test("an over-full bucket that exact dedup shrinks to <= 64 members") {
    // 10 family texts x 7 exact copies = 70 members per bucket; the
    // survivors keep one copy of each, 10 members
    val family = for (copy <- 0 until 7; t <- 0 until 10)
      yield ((copy * 10 + t).toLong, familyText(t, 20 + t))
    val documents = docs(family).unionByName(background)
    assert(overfullSizes(documents).toSet === Set(70L))
    val got = assertExact(documents)
    assert(got.count(_.contains("ta tb")) === 1)
  }

  test("an over-full bucket whose lowest doc_id fails the quality gate") {
    // doc 0 is the bucket's keeper but is gated out (35 characters);
    // the 70 gated-in members pair on the survivors' own keeper, doc 1
    val lengths = 17 to 40
    val family = (0L, familyText(0, 12)) +:
      (0 until 70).map(i => ((i + 1).toLong,
        familyText(i % cycle.size, lengths(i / cycle.size))))
    val documents = docs(family).unionByName(background)
    assert(overfullSizes(documents).toSet === Set(71L))
    val got = assertExact(documents)
    assert(got.filter(_.contains("ta tb")).map(_.takeWhile(_ != ','))
      === Seq("[1"))
  }
}
