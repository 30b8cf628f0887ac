package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counters cover all of a finished action. The bus is
  * package-private to Spark, hence this file's package.
  */
object LoadBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
