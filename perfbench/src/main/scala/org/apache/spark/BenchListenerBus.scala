package org.apache.spark

/** The listener bus is private to Spark; the tracer drains it at span
  * boundaries so every event lands on the span that caused it.
  */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
