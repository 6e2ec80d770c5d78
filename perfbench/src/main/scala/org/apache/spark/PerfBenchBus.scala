package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * counters only after every event of a pass has been delivered. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
