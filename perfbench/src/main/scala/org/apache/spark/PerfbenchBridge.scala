package org.apache.spark

/** The one Spark-internal call the runner needs: wait until every queued
  * listener event has been delivered, so counts read after an operation
  * include all of its jobs and tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
