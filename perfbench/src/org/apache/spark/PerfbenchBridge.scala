package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a traced pass's
  * job, stage and task counts are complete before they are summed. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
