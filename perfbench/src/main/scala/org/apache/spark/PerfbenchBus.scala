package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's totals are complete when a traced pass is read out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
