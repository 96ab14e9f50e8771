package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf: String = "/root/testdata/sf0.001"

  /** Spark jobs launched while `body` runs (listener bus drained). */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
