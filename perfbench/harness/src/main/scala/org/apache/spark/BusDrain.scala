package org.apache.spark

/** Blocks until every queued listener event has been delivered. The
  * listener bus is private to Spark, hence this accessor in its package;
  * the tracer drains it at operation boundaries so each event lands in
  * the operation that caused it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
