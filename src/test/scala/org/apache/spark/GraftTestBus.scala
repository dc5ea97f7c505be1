package org.apache.spark

/** The listener-bus drain is package-private to Spark; specs that count
  * the jobs a call launches drain the bus before reading their
  * listener, so every event the call caused has been delivered. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
