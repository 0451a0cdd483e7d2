package org.apache.spark

/** Access to the listener bus, which is private to Spark: job-counting
  * tests drain it before reading what their listeners recorded. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
