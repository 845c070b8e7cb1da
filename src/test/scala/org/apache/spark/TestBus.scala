package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counts are complete before a spec reads them. The bus is
  * package-private to Spark, hence this one-line bridge. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
