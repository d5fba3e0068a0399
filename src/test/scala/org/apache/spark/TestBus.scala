package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's listener counts are complete. The bus is package-private to
  * Spark, hence this bridge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
