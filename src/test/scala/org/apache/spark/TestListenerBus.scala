package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that the status store has
  * seen every job a call launched before a test reads job counts. The bus
  * is package-private to Spark, hence this file's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
