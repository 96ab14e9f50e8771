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
  * under 50 characters and fail the quality gate. A corpus without
  * over-full buckets goes through the pruned build (no re-pairing), the
  * two with them through the re-pairing branch.
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
    * `Staged` builds them, with the over-full members passed only when
    * they have rows (as `Staged.DedupRels.overfullIfAny` passes them).
    * `branch` is whether the corpus must take the over-full re-pairing;
    * `both` also builds the other path, which must agree. */
  private def fromCorpusPairs(documents: DataFrame, branch: Boolean,
                              both: Boolean = false): Seq[String] = {
    val sh = Dedup.shingleHashes(documents)
    val sigs = Dedup.signaturesFromHashes(sh).localCheckpoint(false)
    val stats = Dedup.bucketStats(sigs)
    val overfull = Dedup.overfullMembers(sigs, stats).localCheckpoint(false)
    val verified = Dedup.ngramJaccardFrom(sh, sigs, stats, overfull)
    assert((overfull.count() > 0) === branch)
    def build(members: Option[DataFrame]): Seq[String] =
      rows(TrainingPipeline.corpusFrom(documents, sh, verified, members))
    val got = build(Option.when(branch)(overfull))
    if (both) assert(build(Option.unless(branch)(overfull)) === got)
    got
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

  private def assertExact(documents: DataFrame, branch: Boolean,
                          both: Boolean = false): Seq[String] = {
    val got = fromCorpusPairs(documents, branch, both)
    assert(got === rows(TrainingPipeline.corpus(documents)))
    got
  }

  test("no over-full bucket: the survivors equal the subset LSH chain's") {
    val family = (0 until 5).map(i => (i.toLong, familyText(i, 20))) ++
      Seq((5L, familyText(0, 20)), (6L, familyText(0, 12)))
    val documents = docs(family).unionByName(background)
    assert(overfullSizes(documents).isEmpty)
    // the re-pairing over the empty members adds nothing either
    val got = assertExact(documents, branch = false, both = true)
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
    val got = assertExact(documents, branch = true)
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
    val got = assertExact(documents, branch = true)
    assert(got.filter(_.contains("ta tb")).map(_.takeWhile(_ != ','))
      === Seq("[1"))
  }

  test("with Staged forced, the training_pipeline plan reads neither the " +
    "staged sh nor overfull") {
    val sf = TestSpark.Sf
    val read = Seq("sh", "overfull", "verified").map { n =>
      Staged.rows(spark, sf, n) // forces the relation and its inputs
      n -> rdds(Staged.rounds(spark, sf, n).last)
    }.toMap
    assert(Staged.rows(spark, sf, "overfull") === 0)
    val plan = rdds(SparkEntry.queries("training_pipeline")(spark, sf))
    assert(read("verified").subsetOf(plan), "staged verified not read?")
    assert(plan.intersect(read("sh") ++ read("overfull")).isEmpty,
      "the pruned build reads the staged sh or overfull")
  }

  /** The ids of the RDDs a plan's staged (checkpointed) leaves read. */
  private def rdds(df: DataFrame): Set[Int] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
}
