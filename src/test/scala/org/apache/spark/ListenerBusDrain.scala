package org.apache.spark

/** The listener bus is package-private; specs that count listener
  * events wait on it so every event of the code under test has been
  * delivered before they assert. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
