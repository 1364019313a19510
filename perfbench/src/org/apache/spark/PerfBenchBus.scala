package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * benchmark listener's counters are complete when read. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
