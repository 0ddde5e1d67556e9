package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * task metrics land in the span that was open when their job ran. The
  * bus is private to Spark; this one call is all the benchmark needs.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
