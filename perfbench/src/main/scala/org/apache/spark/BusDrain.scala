package org.apache.spark

/** Blocks until every event posted so far has reached every registered
  * listener. The listener bus is asynchronous and its drain is
  * package-private, so the tracer reaches it from inside Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
