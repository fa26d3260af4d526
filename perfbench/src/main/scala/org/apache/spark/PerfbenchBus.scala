package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark waits for
  * the bus to empty before reading what its listener and the SQL status
  * store recorded. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
