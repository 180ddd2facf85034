package org.apache.spark

/** Test access to the private listener bus: blocks until every event
  * posted so far has reached the listeners, so job counts read after an
  * action are complete.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
