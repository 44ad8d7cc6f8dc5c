package org.apache.spark

/** The listener bus is private to Spark; the traced run drains it once,
  * after the last timed query, so every job/stage/task event has been
  * delivered before spans are aggregated. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
