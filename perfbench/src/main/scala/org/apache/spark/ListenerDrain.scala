package org.apache.spark

/** Blocks until every event posted to the listener bus has been delivered,
  * so listener counts taken right after an action include that action.
  * (The bus is package-private, hence this package.)
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
