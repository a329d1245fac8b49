package org.apache.spark

/** The listener bus drain is Spark-internal; the tracer needs it so a
  * counter snapshot taken after a call includes that call's events. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
