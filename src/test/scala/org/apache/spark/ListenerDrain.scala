package org.apache.spark

/** The listener bus drain is package-private to Spark; a test that
  * counts jobs or SQL executions with a listener drains the bus before
  * it reads its counts. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
