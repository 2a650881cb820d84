package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * listener totals read afterwards are complete. The bus is Spark-private,
  * hence this one-line bridge in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
