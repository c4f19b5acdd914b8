package org.apache.spark

/** Waits until every posted listener event has been delivered, so span
  * counters are complete before the benchmark reads them. The listener
  * bus is package-private; this is its only use.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
