package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * traced pass's counters are complete before they are read. The bus is
  * private to Spark's package, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
