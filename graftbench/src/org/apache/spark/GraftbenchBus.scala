package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it before
  * reading its listener, so every task of a finished call is counted. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
