package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * sample's Spark counters are complete before they are read. The
  * listener bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
