package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * the trace read at the end of a run is complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
