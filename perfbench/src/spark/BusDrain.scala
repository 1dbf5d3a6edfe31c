package org.apache.spark

/** The listener bus is asynchronous and its `waitUntilEmpty` is
  * package-private; the tracer needs it to read complete totals. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
