package org.apache.spark

/** The listener bus is package-private; the benchmark waits on it so
  * that every job and stage event of the run is counted before the
  * per-layer table is built. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
