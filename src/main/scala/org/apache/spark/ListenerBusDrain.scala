package org.apache.spark

/** Bridge to Spark's `private[spark]` listener bus: block until every
  * event posted so far reached every listener, the status store's
  * included (the same technique as `sql.GraftExpressionBridge`). A
  * listener's figures for a finished action are complete only after
  * this returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
