package org.apache.spark

/** Test access to the listener bus's drain: block until every event
  * posted so far has reached its listeners (QueryExecutionListener
  * callbacks are delivered asynchronously). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
