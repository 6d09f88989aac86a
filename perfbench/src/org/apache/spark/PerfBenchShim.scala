package org.apache.spark

/** Access to Spark's listener bus, which is private to Spark: the benchmark
  * waits for queued scheduler events before it reads what its listener
  * attributed to each operation. */
object PerfBenchShim {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
