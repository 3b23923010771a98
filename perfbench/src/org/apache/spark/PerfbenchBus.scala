package org.apache.spark

/** Waits for the `private[spark]` listener bus to deliver every queued
  * event, so a pass's task metrics are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
}
