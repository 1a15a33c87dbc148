package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * posted listener event has been delivered, so the trace is complete
  * before it is read. Called only after the timed phase. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
