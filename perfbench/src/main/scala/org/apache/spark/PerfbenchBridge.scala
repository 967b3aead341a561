package org.apache.spark

/** Access to the `private[spark]` listener bus: the traced run drains it
  * before reading its listener's counters, because listener events are
  * delivered asynchronously. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
