package org.apache.spark

/** The listener-bus drain is package-private. A SparkListener's counters are
  * complete for a job only after the bus has delivered all of its events, so
  * the benchmark drains the bus before it reads counters at a boundary. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
