package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamRun

/** Runs the bodies of the two runnable mains — the `StreamRun` drain
  * and `Pipeline`'s sync pass — on the shipped testdata, so a main that
  * crashes on the data it documents fails here. */
class MainsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def field(json: String, key: String): Long =
    (s""""$key":(-?\\d+)""").r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(fail(s"no $key in $json"))

  private val sf001 =
    java.nio.file.Paths.get(TestSpark.Sf).resolveSibling("sf0.01").toString

  for (dir <- Seq(TestSpark.Sf, sf001)) {
    test(s"StreamRun drains every event of $dir") {
      val line = StreamRun.run(spark, dir)
      assert(field(line, "windows") > 0, line)
      assert(field(line, "events") === Tables.events(spark, dir).count(), line)
    }

    test(s"Pipeline sync pass summarizes $dir") {
      val line = Pipeline.summary(spark, dir)
      val rows = field(line, "applied_rows")
      assert(rows > 0, line)
      assert(field(line, "inserts") + field(line, "updates") <= rows, line)
      assert(field(line, "active_alerts") >= 0, line)
    }
  }
}
