package org.apache.spark

/** Waits until the live listener bus has delivered every posted event, so
  * the traced run reads complete job, stage and task aggregates.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
