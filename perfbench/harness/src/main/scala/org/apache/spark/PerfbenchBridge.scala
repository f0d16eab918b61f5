package org.apache.spark

/** Lives in org.apache.spark only to reach the listener bus's drain, so a
  * traced run reads its counters after every event has been delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
