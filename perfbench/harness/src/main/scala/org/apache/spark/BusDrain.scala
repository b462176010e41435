package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The bus is
  * private to Spark, hence this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
