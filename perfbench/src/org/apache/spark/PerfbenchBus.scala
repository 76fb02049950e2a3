package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the benchmark's per-layer counters are complete when it reads them.
  * The listener bus is private to Spark; this is the one call the
  * benchmark needs from it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
