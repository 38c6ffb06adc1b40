package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listeners have seen all of a pass's events before it reads
  * them. The listener bus is package-private to Spark. */
object BusSettle {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
