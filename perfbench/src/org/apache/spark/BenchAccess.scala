package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * posted listener event has been delivered, so a traced run reads
  * complete job and task counts right after an action returns. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
