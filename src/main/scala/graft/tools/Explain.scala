package graft.tools

/** Plan inspector: runs one or more named SparkEntry queries over a
  * testdata directory and prints each one's row count and wall time; with
  * `GRAFT_EXPLAIN` set it first prints the query's formatted physical
  * plan. Usage: runMain graft.tools.Explain <dir> <query> [<query> ...]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    names.foreach { name =>
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, dir)
      if (sys.env.contains("GRAFT_EXPLAIN")) df.explain("formatted")
      val n = df.count()
      println(f"[explain] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
