package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run's statistics are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
