package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event. The
  * bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
