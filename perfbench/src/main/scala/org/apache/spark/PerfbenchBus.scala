package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener has seen all jobs of a pass before it is read.
  * The bus is package-private to Spark, hence this object's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
