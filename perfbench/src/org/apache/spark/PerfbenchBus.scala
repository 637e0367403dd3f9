package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run reads complete job, task and plan records after each call.
  * The bus is package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
