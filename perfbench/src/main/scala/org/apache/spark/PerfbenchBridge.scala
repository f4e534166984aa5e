package org.apache.spark

/** Re-exposes the one `private[spark]` call the benchmark needs: waiting
  * until every posted listener event has been delivered, so a stage profile
  * read right after an action is complete.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
