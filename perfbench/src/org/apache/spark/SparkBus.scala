package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener has seen all work submitted so far. The bus is
  * Spark-private, hence this bridge in Spark's package. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
