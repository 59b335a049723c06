package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait
  * for it to deliver every event before it reads its own listener's
  * totals.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
