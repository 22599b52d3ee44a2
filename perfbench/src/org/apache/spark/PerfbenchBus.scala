package org.apache.spark

/** Drains Spark's listener bus so every event of the operation that just
  * returned has reached the benchmark's listeners before their counters
  * are read. The bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
