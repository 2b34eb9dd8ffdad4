package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every queued event, so end-of-run reports
  * see all job and task events. */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
