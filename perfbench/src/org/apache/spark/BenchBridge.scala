package org.apache.spark

/** Access the benchmark needs to Spark internals. */
object BenchBridge {

  /** Blocks until every queued listener event has been delivered, so task
    * metrics are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
