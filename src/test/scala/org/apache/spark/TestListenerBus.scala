package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event (QueryExecutionListener callbacks included) has been
  * delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
