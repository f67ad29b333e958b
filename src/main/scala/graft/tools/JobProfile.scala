package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-query job/stage/task profiler for optimization work: runs each named
  * SparkEntry query `repeat` times and prints, per query, the Spark JOB and
  * STAGE counts (deterministic — unaffected by the sandbox's CPU throttle)
  * plus min/median wall seconds (min over repeats is the throttle-resistant
  * statistic, NOTES.md round-17 protocol).
  *
  * Usage: runMain graft.tools.JobProfile <dir> <query> [query ...]
  * Env: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PROFILE_REPEAT (default 5).
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPEAT", "5").toInt
    val spark = graft.GraftSession.local(cpus.toInt)

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    })

    graft.model.KG.edges(spark, dir) // shared load phase

    names.foreach { name =>
      val runs = (1 to repeat).map { _ =>
        // Listener events arrive asynchronously: drain the bus before
        // each counter read so a run's window holds exactly its events.
        ListenerBus.drain(spark.sparkContext)
        val (j0, s0, t0) = (jobs.get, stages.get, tasks.get)
        val w0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        val wall = (System.nanoTime() - w0) / 1e9
        ListenerBus.drain(spark.sparkContext)
        (wall, jobs.get - j0, stages.get - s0, tasks.get - t0, n)
      }
      val walls = runs.map(_._1).sorted
      println(f"[profile] $name rows=${runs.head._5} " +
        f"jobs=${runs.map(_._2).min} stages=${runs.map(_._3).min} " +
        f"tasks=${runs.map(_._4).min} " +
        f"wall_min=${walls.head}%.3f wall_med=${walls((walls.size - 1) / 2)}%.3f " +
        f"walls=${walls.map(w => f"$w%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
