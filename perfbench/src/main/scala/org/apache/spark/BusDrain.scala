package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * harness reads complete per-pass counts. The listener bus is private
  * to Spark, hence this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
