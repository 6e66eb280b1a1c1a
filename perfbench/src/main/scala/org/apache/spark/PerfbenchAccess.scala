package org.apache.spark

/** The one Spark-internal hook the benchmark needs: waiting until the
  * listener bus has delivered every posted event, so that job, task and
  * query-execution records are complete before the trace is read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
