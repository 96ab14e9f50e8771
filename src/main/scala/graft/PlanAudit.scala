package graft

import org.apache.spark.sql.DataFrame

/** Prints formatted physical plans for the named queries (all by
  * default) so shuffle counts / broadcast / pushdown can be audited.
  * Usage: runMain graft.PlanAudit [sfDir] [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // local[4], not SPARK_GRAFT_CPUS: PlanSpec diffs these plans against
    // its local[4] test session, and Spread decides from the core count
    val spark = GraftSession.local("4")
    def dump(name: String, df: => DataFrame): Unit = {
      println(s"\n================= $name =================")
      try println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch {
        case e: Throwable => println(s"(failed to plan: ${e.getMessage})")
      }
    }
    names.foreach(n => dump(n, SparkEntry.queries(n)(spark, sfDir)))
    // full dumps also audit the Staged BUILD plans — the plans that
    // execute at materialization, hidden from every consumer query's
    // own plan by the checkpoint boundary
    if (args.length <= 1)
      Staged.auditPlans(spark, sfDir).foreach { case (n, _, df) => dump(n, df) }
    spark.stop()
  }
}
