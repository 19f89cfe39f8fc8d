package org.apache.spark

/** Waits until the async listener bus has delivered every posted event, so
  * the benchmark's listener totals are complete when read. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
