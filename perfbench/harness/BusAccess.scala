package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced pass's job, task and trigger records are complete before they
  * are read. `LiveListenerBus.waitUntilEmpty` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
