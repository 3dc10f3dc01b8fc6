package org.apache.spark

/** The listener bus is private to Spark; a spec that counts jobs with a
  * listener waits for it to deliver every event before reading. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
