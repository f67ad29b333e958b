package org.apache.spark

/** Drains Spark's listener bus, which is package-private to
  * `org.apache.spark`: listener state read after the call reflects every
  * event posted before it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
