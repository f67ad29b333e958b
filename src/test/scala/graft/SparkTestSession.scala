package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session, local[4]). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at `value`,
    * then restores the session's value. */
  def withBroadcastThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, saved)
  }
}
