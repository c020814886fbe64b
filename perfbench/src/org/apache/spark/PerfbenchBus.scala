package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that the benchmark's
  * listeners have seen every event of the work that came before. The
  * bus is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
