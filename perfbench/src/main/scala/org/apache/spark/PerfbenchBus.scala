package org.apache.spark

/** The one listener-bus call the benchmark's tracer needs that Spark keeps
  * package-private: block until every posted event has reached every
  * listener, so a traced run's counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
