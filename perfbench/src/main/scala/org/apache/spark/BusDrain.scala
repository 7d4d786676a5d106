package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered, so listener totals read afterwards are complete. Lives in
  * Spark's package because the bus is `private[spark]`. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
