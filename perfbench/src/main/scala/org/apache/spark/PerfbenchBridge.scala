package org.apache.spark

/** Spark keeps its listener bus package-private. The benchmark
  * reads its listener's counters only after every event posted so far has
  * been delivered, so it needs the bus's own drain. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
