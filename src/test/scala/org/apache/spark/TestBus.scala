package org.apache.spark

/** The listener bus is private to Spark; tests drain it before reading a
  * listener, so every job of a finished call has been delivered. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
