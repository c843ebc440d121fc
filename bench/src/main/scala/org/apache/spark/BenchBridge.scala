package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * posted listener event has been handled, so a traced pass's task
  * numbers are complete before they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
