package org.apache.spark

/** The one Spark-internal call the benchmark makes: listener events are
  * delivered asynchronously, so per-layer counters are read only after the
  * bus has delivered every event posted so far. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
