package org.apache.spark

/** Drains the `private[spark]` listener bus, so the benchmark's own
  * listener has seen every event of the measured window before the
  * counts are read. Lives in the spark package for visibility only.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
