package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event (QueryExecutionListener callbacks included) has been
  * delivered. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Runs `body` with a counter of the Spark jobs started on `sc`:
    * `jobs()` drains the bus and returns the count so far. */
  def countingJobs[T](sc: SparkContext)(body: (() => Int) => T): T = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(l)
    try body(() => { drain(sc); n.get })
    finally sc.removeSparkListener(l)
  }
}
