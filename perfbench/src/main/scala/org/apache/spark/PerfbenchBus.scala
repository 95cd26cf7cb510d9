package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event.
  * The traced run calls it after each op, outside the timed region, so
  * the op's job, stage, task and query events are attributed to it.
  * (The bus is package-private to Spark, hence this package.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
