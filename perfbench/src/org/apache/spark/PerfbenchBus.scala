package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every
  * event posted so far, so task and query metrics can be attributed to
  * the span that ended just before. Lives in this package because the
  * bus is `private[spark]`; only the traced run calls it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
