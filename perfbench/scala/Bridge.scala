package org.apache.spark

/** The one reach into Spark internals the benchmark needs: waiting until
  * every queued listener event has been delivered, so traced jobs, stages
  * and tasks are complete before they are summarised.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
