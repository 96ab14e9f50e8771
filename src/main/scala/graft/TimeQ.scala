package graft

/** Focused timing harness: `runMain graft.TimeQ q1 q2 ...` times just
  * the named queries (min of 3 runs after one warmup) against
  * SPARK_GRAFT_SF_DIR — the iteration loop for plan tuning, where the
  * full Bench sweep would drown the signal in 80 queries of noise.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // diagnostic conf overrides: SPARK_GRAFT_CONF="k=v;k2=v2" — for
    // A/B-ing a setting on a few queries without touching the bench
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
          case _ if kv.trim.isEmpty => None // trailing ';' / empty env var
          case _ =>
            System.err.println(s"[timeq] ignoring malformed conf entry '$kv'")
            None
        }
      }
    val spark = GraftSession.local(GraftSession.cpus("32"), overrides: _*)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // SPARK_GRAFT_EXPLAIN=1: print the formatted plan before timing
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
        println(s"==== EXPLAIN $name ====\n" +
          fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"TIMEQ $name%-24s min=${runs.min}%.3f runs=${runs.map(r => f"$r%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
