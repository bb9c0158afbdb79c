package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private, so the
  * benchmark can read its listener counters only after every event of
  * an iteration has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
