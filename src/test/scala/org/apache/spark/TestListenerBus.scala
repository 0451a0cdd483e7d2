package org.apache.spark

/** Access to the listener bus, which is private to Spark: job-counting
  * tests drain it before reading what their listeners recorded. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The jobs `sc` starts while `body` runs. */
  def jobsOf(sc: SparkContext)(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new scheduler.SparkListener {
      override def onJobStart(js: scheduler.SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get
  }
}
