package org.apache.spark

/** Waits for Spark's listener bus to deliver every queued event, so the
  * traced run can attribute listener events to the operation that caused
  * them. The wait is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
