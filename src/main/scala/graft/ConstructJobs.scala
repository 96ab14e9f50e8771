package graft

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd,
  SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge

/** Counts the Spark jobs launched while a DataFrame is built: the one
  * counter behind [[Staged.query]]'s "no job during build" guard and
  * Bench's `construct_jobs`.
  *
  * [[tagged]] runs a body under a thread-local property (inherited by
  * the threads it starts) that every job submitted meanwhile carries; a
  * listener adds each job to every tag in the property, so a tagged
  * body inside another counts for both. [[take]] reads a tag's count
  * once the listener has seen every job started before the call: it
  * posts a mark on the listener bus and waits for the listener to
  * receive it, since one queue delivers its events in order. Only the
  * caller of [[take]] waits; [[tagged]] adds no wait to the body.
  */
object ConstructJobs {
  private val Key = "graft.construct"
  private val Sep = "\n"

  private final class Counter(sc: SparkContext) extends SparkListener {
    val jobs = new ConcurrentHashMap[String, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .foreach(_.split(Sep).foreach(
          jobs.merge(_, 1, (a: Integer, b: Integer) => Int.box(a + b))))
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case m: GraftBridge.BusMark => m.seen.countDown()
      case _ => ()
    }
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      counters.remove(sc); ()
    }
  }

  private val counters = TrieMap.empty[SparkContext, Counter]

  private def counter(sc: SparkContext): Counter = synchronized {
    counters.getOrElseUpdate(sc, {
      val c = new Counter(sc)
      sc.addSparkListener(c)
      c
    })
  }

  /** `body`, with every job it launches counted under `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    counter(sc)
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, Option(outer).fold(tag)(_ + Sep + tag))
    try body finally sc.setLocalProperty(Key, outer)
  }

  /** The jobs counted under `tag` so far, which are then forgotten;
    * None when the listener bus has not delivered the mark within a
    * minute (a full queue drops events), so the count is unknown. */
  def take(sc: SparkContext, tag: String): Option[Int] = {
    val c = counter(sc)
    val mark = new GraftBridge.BusMark
    GraftBridge.post(sc, mark)
    Option.when(mark.seen.await(1, TimeUnit.MINUTES))(
      Option(c.jobs.remove(tag)).fold(0)(_.intValue))
  }
}
