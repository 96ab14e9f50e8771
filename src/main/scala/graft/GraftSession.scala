package graft

import org.apache.spark.sql.SparkSession

/** The local session every runnable main starts: `cpus` task threads
  * and as many shuffle partitions, UTC session time, no UI, WARN logs,
  * and a whole-stage-codegen class cache sized to the query registry
  * (the default 100 entries made every bench pass re-pay Janino
  * compilation for thousands of distinct codegen units — measured:
  * catalog_stats_sketch 15.3s -> 10.4s from this alone). `conf` entries
  * are set last, so they override the defaults.
  */
object GraftSession {
  /** The task-thread count: `SPARK_GRAFT_CPUS` when set, else the
    * calling main's own default. */
  def cpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def local(cpus: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
