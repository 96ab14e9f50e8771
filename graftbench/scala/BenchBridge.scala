package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so a phase's job and
  * stage records are complete before the next phase starts. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
