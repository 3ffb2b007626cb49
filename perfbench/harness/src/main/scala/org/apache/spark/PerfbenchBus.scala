package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * the benchmark's listeners have seen all jobs of the timed window before
  * it aggregates them. The bus is package-private to Spark, hence this
  * one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
