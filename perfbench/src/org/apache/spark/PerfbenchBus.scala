package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it so every finished task is counted before the trace is written. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
