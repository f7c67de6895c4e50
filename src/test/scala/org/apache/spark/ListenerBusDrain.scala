package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * test reads complete counts from its own SparkListener. The listener
  * bus is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
