package org.apache.spark

/** Test access to SparkContext internals that have no public face. */
object SparkTestHooks {

  /** Waits until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
