package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * test's listener has seen every job before the test asserts on it.
  * The listener bus is package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
