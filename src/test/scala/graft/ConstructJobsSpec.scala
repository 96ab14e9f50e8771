package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring

/** Counter gate on the jobs a query launches while it is built: with
  * the staged relations materialized, building a benchmark-suite
  * query's DataFrame runs no Spark job (a job there is construction work
  * every call pays, e.g. a checkpoint planning its shuffles under AQE).
  * The suite's names are read from `SUITE_QUERIES` in graftbench/run.py,
  * so the gate follows the benchmark's list.
  */
class ConstructJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val Sf = TestSpark.Sf

  private lazy val suiteQueries: Seq[String] = {
    val cwd = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    val root = Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt ancestor — cannot locate graftbench"))
    val src = java.nio.file.Files.readString(
      root.resolve("graftbench").resolve("run.py"))
    val m = """(?s)SUITE_QUERIES = sorted\(\"\"\"(.*?)\"\"\"""".r
      .findFirstMatchIn(src).getOrElse(fail("no SUITE_QUERIES in run.py"))
    m.group(1).split("\\s+").filter(_.nonEmpty).toSeq.sorted
  }

  test("with Staged forced, building each suite query launches no Spark job") {
    assert(suiteQueries.size === 17)
    Staged.names.foreach(n => Staged.rounds(spark, Sf, n).foreach(_.count()))
    // the first build resolves each table once per session (a listing
    // and schema job); the gate is on the builds every call pays
    suiteQueries.foreach(q => SparkEntry.queries(q)(spark, Sf))
    val launched = suiteQueries
      .map(q => q -> jobsDuring(SparkEntry.queries(q)(spark, Sf)))
      .filter(_._2 > 0)
    assert(launched.isEmpty, s"jobs launched while building: $launched")
  }
}
