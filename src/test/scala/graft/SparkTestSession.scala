package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session, local[4]). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
