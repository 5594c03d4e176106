package org.apache.spark

/** Reaches the one scheduler hook the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so counters read after an operation include all of it. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
