package org.apache.spark

/** Drains Spark's listener bus, which is package-private to
  * `org.apache.spark`: storage info read after the call reflects every
  * block update posted before it. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
