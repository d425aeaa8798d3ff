package org.apache.spark

/** The listener bus is `private[spark]`; the benchmark waits on it before
  * reading its listener's counters, so every event of a finished call is
  * counted.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
