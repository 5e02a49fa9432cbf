package org.apache.spark

/** The listener bus is package-private; specs that count listener events
  * drain it before reading their tallies. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
