package org.apache.spark

/** Drains Spark's listener bus, which is package-private to `org.apache.spark`:
  * a listener's counters are complete only after every event posted before
  * the call has been delivered. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
