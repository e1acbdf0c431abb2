package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced run reads complete task metrics (the bus is package-private).
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
