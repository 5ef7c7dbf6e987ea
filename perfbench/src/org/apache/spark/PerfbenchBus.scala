package org.apache.spark

/** Waits until every event posted so far has reached the registered
  * listeners, so per-step counts are complete before they are read. The
  * listener bus is private to Spark; this is the one accessor the
  * benchmark needs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
