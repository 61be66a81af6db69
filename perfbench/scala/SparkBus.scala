package org.apache.spark

/** Waits until every event posted so far on the listener bus has been
  * delivered. The method is package-private in Spark, hence this package. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
