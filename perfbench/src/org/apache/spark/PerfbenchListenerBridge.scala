package org.apache.spark

/** The benchmark's bridge to the private[spark] listener bus: block until
  * every posted event has reached the listeners, so per-op counters are
  * read after the bus drained instead of after a fixed sleep.
  */
object PerfbenchListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
