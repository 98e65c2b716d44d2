package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it to
  * read complete per-job totals after a traced window. */
object BenchAccess {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
