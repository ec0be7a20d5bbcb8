package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every queued
  * event, so listener counters read afterwards are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
