package org.apache.spark

import org.apache.spark.rdd.RDD

/** Drops a locally checkpointed RDD's blocks the way Spark's ContextCleaner
  * does, through the package-private `SparkContext.unpersistRDD`.
  * `RDD.unpersist` does the same but logs a warning for every local
  * checkpoint, which a loop that releases its blocks each step would
  * repeat. */
object CheckpointBlocks {
  def drop(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
