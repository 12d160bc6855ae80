package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every queued
  * event, so task metrics are complete before spans are read. The bus is
  * package-private to Spark, hence this one-method bridge in its package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
