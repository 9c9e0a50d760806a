package org.apache.spark

/** Test access to the listener bus: block until every event posted so
  * far reached every listener, the status store's included.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
