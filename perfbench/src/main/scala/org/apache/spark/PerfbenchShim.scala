package org.apache.spark

/** Access to the listener bus, which is private to Spark's package. */
object PerfbenchShim {
  /** Blocks until every posted listener event has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
