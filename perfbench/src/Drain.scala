package org.apache.spark

/** The listener bus drain is `private[spark]`; the benchmark needs it so
  * every progress, job and query-execution event of a measured window has
  * reached its listeners before the window's numbers are read. */
object BenchDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
