package org.apache.spark

/** Waits until every event posted to `sc`'s listener bus so far has
  * reached its listeners: the bus is asynchronous, and a spec that
  * reads what a listener saw must wait for it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
