package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * spec reads complete job and stage records (the bus is private to
  * Spark).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
