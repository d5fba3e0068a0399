package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so counts read after a run are complete. The bus is
  * package-private to Spark, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
