package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * listener's counters are complete when an action returns. The bus is
  * package-private, hence this bridge in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
