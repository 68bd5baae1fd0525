package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * job counts are complete before they are read. The bus is private to
  * Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
