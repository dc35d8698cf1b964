package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * event posted so far has reached the listeners, so per-query job and
  * task counts are complete before they are read.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
