package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is one call into a layer's public
  * function (or the execution of its output); Spark jobs and stages
  * become child spans through the local properties set before each
  * call. Everything stays in memory until [[write]] at exit.
  *
  * When disabled every call is a plain pass-through: the untraced run
  * registers no listener and records nothing.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val records = new ConcurrentLinkedQueue[String]()
  // per thread: set-up phases run operations concurrently
  private val stacks = ThreadLocal.withInitial(() => mutable.Stack[Long]())
  private val ops = ThreadLocal.withInitial(() => Long.box(0L))
  @volatile var phase = "setup"

  // epoch milliseconds with sub-ms resolution: Spark's events carry
  // epoch ms, so harness spans use the same clock
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[TaskRec]]()
  private val stageJob = mutable.Map[Int, Int]()
  private var planMs = 0.0

  final case class TaskRec(durMs: Long, waitMs: Long, cpuNs: Long,
                           gcMs: Long, inRec: Long, shWBytes: Long,
                           shRRec: Long, spill: Long)

  private object listener extends SparkListener {
    private val jobStart = mutable.Map[Int, (Long, String, String, Seq[Int])]()
    private val stageSub = mutable.Map[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      jobStart(e.jobId) = (e.time,
        p.flatMap(x => Option(x.getProperty("graftbench.op"))).getOrElse("0"),
        p.flatMap(x => Option(x.getProperty("graftbench.span"))).getOrElse("0"),
        e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, o, parent, stages) =>
        records.add(Json.obj("kind" -> "job", "id" -> e.jobId,
          "op" -> o.toLong, "parent" -> parent.toLong, "phase" -> phase,
          "start" -> t0.toDouble, "end" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded), "stages" -> stages))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageSub(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      val sub = stageSub.getOrElse(e.stageId, i.launchTime)
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += TaskRec(
        i.finishTime - i.launchTime, math.max(0L, i.launchTime - sub),
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.inputMetrics.recordsRead).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleReadMetrics.recordsRead).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val ts = stageTasks.remove(s.stageId).getOrElse(mutable.ArrayBuffer())
        val durs = ts.map(_.durMs).sorted
        val med = if (durs.isEmpty) 0L else durs(durs.size / 2)
        records.add(Json.obj("kind" -> "stage", "id" -> s.stageId,
          "job" -> stageJob.getOrElse(s.stageId, -1), "phase" -> phase,
          "start" -> s.submissionTime.getOrElse(0L).toDouble,
          "end" -> s.completionTime.getOrElse(0L).toDouble,
          "tasks" -> ts.size,
          "task_s" -> durs.sum / 1e3,
          "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "gc_s" -> ts.map(_.gcMs).sum / 1e3,
          "wait_s" -> ts.map(_.waitMs).sum / 1e3,
          "input_records" -> ts.map(_.inRec).sum,
          "shuffle_write_bytes" -> ts.map(_.shWBytes).sum,
          "shuffle_read_records" -> ts.map(_.shRRec).sum,
          "spill_bytes" -> ts.map(_.spill).sum,
          "task_max_s" -> durs.lastOption.getOrElse(0L) / 1e3,
          "task_median_s" -> med / 1e3))
      }
  }

  private object planListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Begin operation `name`: a top-level span whose id tags every job
    * launched inside it. */
  def operation[T](name: String)(body: => T): T = {
    val op = ids.incrementAndGet()
    ops.set(op)
    span(name, op)(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else span(name, ids.incrementAndGet())(body)

  private def span[T](name: String, id: Long)(body: => T): T = {
    if (!enabled) return body
    val stack = stacks.get
    val op = ops.get.longValue
    val parent = stack.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    sc.setLocalProperty("graftbench.op", op.toString)
    sc.setLocalProperty("graftbench.span", id.toString)
    stack.push(id)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack.pop()
      sc.setLocalProperty("graftbench.span", parent.toString)
      records.add(Json.obj("kind" -> "span", "id" -> id, "parent" -> parent,
        "op" -> op, "name" -> name, "phase" -> phase,
        "start" -> t0, "end" -> t1))
    }
  }

  /** A named count or reading, written with the spans. */
  def counter(name: String, value: Double): Unit =
    if (enabled) records.add(Json.obj("kind" -> "counter", "name" -> name,
      "phase" -> phase, "value" -> value))

  /** Wait until every posted listener event has been delivered, then
    * switch phase: events of one phase never leak into the next. */
  def enterPhase(next: String): Unit = if (enabled) {
    org.apache.spark.BenchBridge.drain(spark.sparkContext)
    synchronized {
      counter("plan.s", planMs / 1e3)
      planMs = 0.0
      val cg = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      counter("codegen.count", cg.getCount.toDouble)
      counter("codegen.ms_mean", cg.getSnapshot.getMean)
    }
    phase = next
  }

  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, records.asScala.toSeq.asJava)
}

/** Minimal JSON writer for flat records (no dependency beyond Spark's
  * classpath). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}
