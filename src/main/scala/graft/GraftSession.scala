package graft

import org.apache.spark.sql.SparkSession

/** The one local Spark session of graft's entry points (Verify, Bench,
  * the tools and the specs): `local[cpus]` with `cpus` shuffle
  * partitions, adaptive execution, UTC session time and no UI. The
  * whole-stage-codegen cache holds 4000 classes, not Spark's default 100:
  * the query suite runs in one JVM, and with the default cache late rows
  * recompiled every generated class on every repeat (26% of bench wall
  * when measured). */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
