package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener has seen every posted event, so an operation's counts are
  * complete before they are read. */
object PerfBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
