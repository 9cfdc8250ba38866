package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * counters read at a span boundary cover the work before it. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
