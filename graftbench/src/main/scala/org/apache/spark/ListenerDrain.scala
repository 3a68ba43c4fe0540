package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run's Spark counters are complete when they are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
