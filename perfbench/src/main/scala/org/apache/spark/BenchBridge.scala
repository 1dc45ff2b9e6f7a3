package org.apache.spark

/** The one private Spark call the benchmark needs: waiting until every
  * posted listener event is delivered, so per-pass aggregates are complete
  * before they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
