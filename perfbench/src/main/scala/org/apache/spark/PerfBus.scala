package org.apache.spark

/** The listener bus is private to Spark; the tracer must wait for it to
  * deliver every job and task event before it reads its span counters. */
object PerfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
