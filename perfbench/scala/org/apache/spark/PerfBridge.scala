package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * the benchmark reads complete job and stage records at the end of a
  * run (the bus is private to Spark).
  */
object PerfBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
