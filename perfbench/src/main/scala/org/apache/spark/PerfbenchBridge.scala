package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * listener event posted so far has been delivered, so a traced op's
  * jobs, stages and SQL metrics are all recorded before the next op. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
