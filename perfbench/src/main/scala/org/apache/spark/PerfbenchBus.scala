package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so task counters read after a window include its last tasks. The
  * bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
