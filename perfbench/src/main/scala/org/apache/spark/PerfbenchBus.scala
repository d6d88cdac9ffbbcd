package org.apache.spark

/** The listener bus's drain is package-private; this opens just that. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
