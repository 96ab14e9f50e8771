package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._

/** Per-query profiling harness: runs the named queries once (after one
  * warmup) and prints a per-stage wall/task breakdown from a
  * SparkListener, so per-stage fixed overhead (scheduling, task-binary
  * broadcast, codegen) can be separated from real compute. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ProfileQ q1 q2"
  */
object ProfileQ {
  final case class StageRec(name: String, submitted: Long, completed: Long,
                            numTasks: Int, taskTimeMs: Long,
                            inRec: Long, srRec: Long, swRec: Long,
                            gcMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus("32"))

    val stages = TrieMap.empty[Int, StageRec]
    val taskTime = TrieMap.empty[Int, Long]
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          taskTime.updateWith(t.stageId)(p =>
            Some(p.getOrElse(0L) + t.taskMetrics.executorRunTime))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        // taskMetrics can be null for stages completing with no tasks
        // run (skipped/failed stages) — default the metrics to 0
        val m = Option(i.taskMetrics)
        stages(i.stageId) = StageRec(i.name.takeWhile(_ != '\n'),
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
          i.numTasks, taskTime.getOrElse(i.stageId, 0L),
          m.map(_.inputMetrics.recordsRead).getOrElse(0L),
          m.map(_.shuffleReadMetrics.recordsRead).getOrElse(0L),
          m.map(_.shuffleWriteMetrics.recordsWritten).getOrElse(0L),
          m.map(_.jvmGCTime).getOrElse(0L))
      }
    })

    val names = if (args.nonEmpty) args.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      stages.clear(); taskTime.clear(); jobs = 0
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // serial stage wall = Σ(completed - submitted): > wall means
      // overlap; per-stage rows sorted by wall cost
      val recs = stages.toSeq.sortBy(_._1)
      val serial = recs.map { case (_, r) =>
        math.max(0L, r.completed - r.submitted) }.sum / 1e3
      println(f"PROFILE $name wall=$wall%.3f jobs=$jobs stages=${recs.size} " +
        f"serialStage=$serial%.3f")
      recs.sortBy { case (_, r) => -(r.completed - r.submitted) }
        .take(12).foreach { case (id, r) =>
          println(f"  stage $id%4d wall=${(r.completed - r.submitted) / 1e3}%7.3f " +
            f"tasks=${r.numTasks}%3d taskSum=${r.taskTimeMs / 1e3}%7.3f " +
            f"gc=${r.gcMs / 1e3}%6.2f in=${r.inRec}%9d sr=${r.srRec}%9d " +
            f"sw=${r.swRec}%9d ${r.name.take(60)}")
        }
    }
    spark.stop()
  }
}
