package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * the traced run reads complete counters after a pass. The listener
  * bus is Spark-internal; this is the benchmark's only use of it.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
