package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * count read after it covers all jobs, stages and tasks that have ended.
  * The listener bus is private to Spark; this shim lives in its package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
