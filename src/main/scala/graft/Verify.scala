package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Each query is
  * built twice and the second DataFrame is written: that is the one a
  * repeat caller gets (a kept plan, see [[Staged.query]]), so parity
  * covers it. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    // (the driver always passes two; the filter is for local subset
    // runs, e.g. the amplified-corpus parity lane)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local(GraftSession.cpus("4"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir)
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${JsonOut.cause(e)}")
        }
      }
    import JsonOut.q
    // subset runs rebuild the oracle map structurally so the DuckDB
    // session bounds ride the SUBSET's first key, not a filtered-out one
    val oracles = only.map(OracleSql.subset).getOrElse(SparkEntry.oracleSql)
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
