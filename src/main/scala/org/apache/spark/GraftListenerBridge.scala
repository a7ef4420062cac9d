package org.apache.spark

/** Bridge to the private[spark] listener bus: a deterministic drain of
  * async listener delivery (QueryExecutionListener events ride the shared
  * bus), replacing wall-clock settle sleeps in measurement tools and specs.
  */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
