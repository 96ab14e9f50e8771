package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.jobsDuring

/** Counter gate on the jobs a query launches while it is built, and the
  * contract of the plans [[Staged.query]] keeps. With the staged
  * relations materialized and the tables resolved, building a
  * benchmark-suite query's DataFrame runs no Spark job (a job there is
  * construction work every miss pays, e.g. a checkpoint planning its
  * shuffles under AQE); the gate counts the uncached build
  * ([[SparkEntry.builds]]), since a repeat call through
  * [[SparkEntry.queries]] is a hit and runs no build at all. The
  * suite's names are read from `SUITE_QUERIES` in graftbench/run.py,
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

  private def query(name: String): DataFrame =
    SparkEntry.queries(name)(spark, Sf)

  /** Whether `df` is over the plan kept for `name`: its analyzed plan
    * equals the kept one and shares its children instances (a hit
    * copies only the root). */
  private def overKept(name: String, df: DataFrame): Boolean =
    Staged.kept(spark, Sf, name).flatMap(_.toOption).exists { p =>
      val a = df.queryExecution.analyzed
      a == p && a.children.corresponds(p.children)(_ eq _)
    }

  test("with Staged forced, building each suite query launches no Spark job") {
    assert(suiteQueries.size === 17)
    Staged.names.foreach(n => Staged.rounds(spark, Sf, n).foreach(_.count()))
    // the first build resolves each table once per session (a listing
    // and schema job); the gate is on the builds every miss pays
    suiteQueries.foreach(q => SparkEntry.builds(q)(spark, Sf))
    val launched = suiteQueries
      .map(q => q -> jobsDuring(SparkEntry.builds(q)(spark, Sf)))
      .filter(_._2 > 0)
    assert(launched.isEmpty, s"jobs launched while building: $launched")
  }

  test("a hit launches no job and is a new QueryExecution over the kept " +
    "analyzed plan, and its rows equal a fresh build's") {
    suiteQueries.foreach { q =>
      query(q) // a first build that resolves a table is not kept
      val first = query(q)
      assert(jobsDuring(query(q)) === 0, s"$q: jobs launched by a hit")
      val hit = query(q)
      assert(overKept(q, first) && overKept(q, hit), s"$q: not a hit")
      assert(hit.queryExecution ne first.queryExecution, q)
      val fresh = SparkEntry.builds(q)(spark, Sf)
      assert(hit.exceptAll(fresh).isEmpty && fresh.exceptAll(hit).isEmpty,
        s"$q: a hit's rows differ from a fresh build's")
    }
  }

  test("a session conf change is a miss, and restoring it hits the plan " +
    "kept under it") {
    val q = "sessionize"
    query(q)
    val before = query(q)
    assert(overKept(q, before))
    val key = "spark.sql.session.timeZone"
    val tz = spark.conf.get(key)
    spark.conf.set(key, "America/Los_Angeles")
    try {
      assert(Staged.kept(spark, Sf, q).isEmpty, "kept across a conf change")
      val changed = query(q)
      assert(overKept(q, changed))
      assert(changed.queryExecution.analyzed !=
        before.queryExecution.analyzed, "plan did not follow the time zone")
    } finally spark.conf.set(key, tz)
    val restored = query(q)
    assert(overKept(q, restored) &&
      restored.queryExecution.analyzed == before.queryExecution.analyzed)
  }

  test("a build that launches a job, or holds a checkpoint outside the " +
    "staged relations, is not kept: every call builds again") {
    // handoff_audit launches jobs and holds no checkpoint;
    // stream_dedup_parity replays a stream and returns its checkpoint
    Seq("handoff_audit", "stream_dedup_parity").foreach { q =>
      query(q)
      assert(jobsDuring(query(q)) > 0, s"$q: not built again")
      assert(Staged.kept(spark, Sf, q) === Some(Left("job during build")), q)
    }
    // every registry query that holds an in-query checkpoint also
    // launches jobs while it is built, so this build isolates the rule
    def rdds(df: DataFrame): Seq[Int] = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    def checkpointed = Staged.query(spark, Sf, "checkpointed_customer")(
      Tables.customer(spark, Sf).localCheckpoint(eager = false))
    val a = checkpointed
    val b = checkpointed
    assert(rdds(a).nonEmpty && rdds(a) != rdds(b), "checkpoint plan shared")
    assert(Staged.kept(spark, Sf, "checkpointed_customer") ===
      Some(Left("non-staged checkpoint")))
  }
}
