package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * event records are complete before they are read. The listener bus is
  * package-private to Spark, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
