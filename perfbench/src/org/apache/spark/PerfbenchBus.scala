package org.apache.spark

/** Drains Spark's listener bus so counts read by the benchmark's public
  * listeners are complete. The drain itself is package-private API. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
