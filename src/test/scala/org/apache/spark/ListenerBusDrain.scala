package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * job count read after it is exact. The listener bus is private to
  * Spark; this test shim lives in its package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
