package org.apache.spark

/** Waits until every queued listener event is delivered, so task metrics
  * read after an action cover all of its tasks. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
