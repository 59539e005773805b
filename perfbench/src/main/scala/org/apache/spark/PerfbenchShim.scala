package org.apache.spark

/** The one `private[spark]` call the benchmark's tracer needs. */
object PerfbenchShim {
  /** Blocks until every listener has processed the events posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
