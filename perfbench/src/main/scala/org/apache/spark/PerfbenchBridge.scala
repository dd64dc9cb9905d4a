package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the census needs to wait
  * until every queued event has reached its listener before it reads its
  * totals. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
