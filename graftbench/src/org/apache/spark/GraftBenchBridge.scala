package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
 * benchmark's listener totals are complete when a traced job's window
 * closes. `listenerBus` is package-private to Spark. */
object GraftBenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
