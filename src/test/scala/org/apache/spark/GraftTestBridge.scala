package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** Test-only bridge into `private[spark]` listener-bus API: lets specs
  * post synthetic lifecycle events (e.g. SparkListenerApplicationEnd)
  * to exercise listeners without tearing down the shared test context.
  * Lives in the org.apache.spark package solely for visibility.
  */
object GraftTestBridge {
  def post(sc: SparkContext, e: SparkListenerEvent): Unit =
    sc.listenerBus.post(e)
}
