package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to know that
  * every event of a traced run has been delivered before it summarises.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
