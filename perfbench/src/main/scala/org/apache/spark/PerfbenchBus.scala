package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that a listener has seen
  * every job of a call before the benchmark reads its counts. The bus is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
