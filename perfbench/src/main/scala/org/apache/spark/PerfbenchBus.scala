package org.apache.spark

/** The listener-bus drain the traced run needs. Spark keeps the bus
  * package-private; waiting for it to empty makes every event a span's
  * calls posted visible before the span closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
