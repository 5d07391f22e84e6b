package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark's
  * counters need it so a snapshot taken after a job sees all its tasks. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
