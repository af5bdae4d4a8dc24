package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * listener counts are complete before they are read. The bus's drain
  * call is package-private to Spark; this is the only reason the
  * benchmark has a file in Spark's package. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
