package org.apache.spark

/** The listener bus drain is private to Spark; the benchmark needs it so
  * that the counters its listeners keep are complete before they are
  * read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
