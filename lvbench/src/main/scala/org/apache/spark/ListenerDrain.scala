package org.apache.spark

/** Waits until every event posted so far has reached the listeners,
  * so that counts read after an operation belong to it. The listener
  * bus is private to Spark; this is its only use here. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
