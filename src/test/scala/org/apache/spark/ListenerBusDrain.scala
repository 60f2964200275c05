package org.apache.spark

/** Test access to the live listener bus: block until every posted event has
  * been delivered, so a listener's counts are complete when read.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
