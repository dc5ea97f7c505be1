package org.apache.spark

/** The listener bus drain is package-private to Spark; the traced run
  * needs it to attribute every listener event to the op that caused
  * it before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
