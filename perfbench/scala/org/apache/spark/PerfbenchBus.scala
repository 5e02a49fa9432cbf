package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before it
  * reads what its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
