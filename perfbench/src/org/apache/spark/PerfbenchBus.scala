package org.apache.spark

/** Drains Spark's listener bus so the benchmark's listeners have seen every
  * job and task event before counters are read. The bus is package-private
  * to Spark, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
