package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** The real image lane: PPM(P6) payload synthesis, byte-level decode
  * (JVM codec AND native expressions), aHash fingerprints, and
  * banded-hamming near-dup — all cross-checked against each other
  * here and against DuckDB in the parity gate. */
class ImageSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val images = Staged.images(spark, TestSpark.Sf).imgs

  test("imageTable emits parseable P6 payloads with header-consistent dims") {
    val t0 = System.nanoTime()
    val rows = images.collect()
    info(s"imageTable collect: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(rows.length > 0)
    rows.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      val img = Multimodal.decodePpm(r.getAs[Long]("doc_id"), bytes)
      assert(img.width === r.getAs[Long]("width"))
      assert(img.height === r.getAs[Long]("height"))
      assert(img.maxval === 255L)
      assert(img.byte_len === bytes.length.toLong)
    }
  }

  test("imageDecode (native expressions) equals decodePpm (JVM codec) row for row") {
    val t0 = System.nanoTime()
    val native = Multimodal.imageDecode(images)
      .select("doc_id", "byte_len", "width", "height", "maxval",
        "mean_r", "mean_g", "mean_b")
      .collect().map(r => r.getLong(0) -> r).toMap
    info(s"imageDecode collect: ${(System.nanoTime() - t0) / 1e9} s")
    val jvm = Multimodal.decodeFeatures(spark, images).collect()
    assert(jvm.length === native.size)
    jvm.foreach { i =>
      val n = native(i.doc_id)
      assert((n.getLong(1), n.getLong(2), n.getLong(3), n.getLong(4),
        n.getLong(5), n.getLong(6), n.getLong(7)) ===
        ((i.byte_len, i.width, i.height, i.maxval,
          i.mean_r, i.mean_g, i.mean_b)), s"doc ${i.doc_id}")
    }
  }

  test("imageDedup: banded candidates reproduce the exact <=tau truth " +
    "(pigeonhole) and a per-doc brightness shift is aHash-invariant") {
    val t0 = System.nanoTime()
    val fps = Multimodal.imageFingerprints(images).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Long]]("bands"))
    info(s"fingerprints collect: ${(System.nanoTime() - t0) / 1e9} s")
    def ham(a: scala.collection.Seq[Long], b: scala.collection.Seq[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    // exact all-pairs truth at gate scale
    val truth = (for {
      (ida, ba) <- fps; (idb, bb) <- fps if ida < idb
      h = ham(ba, bb) if h <= Multimodal.HammingTau
    } yield (ida, idb) -> h).toMap
    val t1 = System.nanoTime()
    val got = SparkEntry.queries("image_dedup")(spark, TestSpark.Sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    info(s"image_dedup collect: ${(System.nanoTime() - t1) / 1e9} s")
    assert(got === truth)
    assert(truth.nonEmpty, "fixture produced no near-dup pairs")
    assert(truth.valuesIterator.exists(_ > 0L),
      "fixture produced no nonzero-hamming near-dups")
    // the invariance claim the fixture relies on: unperturbed docs of
    // one group differ only by the constant brightness offset, which
    // shifts every cell mean AND the image mean equally — hash equal
    val byGroup = fps.filter(_._1 % 3 != 0)
      .groupBy(_._1 % Multimodal.GroupCount)
    assert(byGroup.values.exists(_.length > 1))
    byGroup.values.filter(_.length > 1).foreach { grp =>
      val h0 = grp.head._2
      grp.tail.foreach { case (id, h) => assert(h === h0, s"doc $id") }
    }
  }
}
