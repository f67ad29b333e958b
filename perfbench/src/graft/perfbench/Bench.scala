package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.{JsonMethods, Serialization}

/** The closed-loop client: one thread, one op at a time. Reads the op plan
  * that `run.py` generated from the seed, sets the workload up several
  * times, warms it once, runs its ops for the planned seconds, checks every
  * op's output outside the timed region, and writes what it measured as
  * JSON. `run.py` turns that into the benchmark's metrics.
  *
  * Usage: `Bench <plan.json> <out.json>`. */
object Bench {

  /** What one op returns to the client: a row count and an order-independent
    * hash of the rows, plus an untimed check of the output. */
  final case class Digest(n: Long, h: Long, check: () => Option[String] = () => None)

  def main(args: Array[String]): Unit = {
    implicit val formats: Formats = DefaultFormats
    val plan = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(args(0))), StandardCharsets.UTF_8))
    val cpus = (plan \ "cpus").extract[Int]
    val reps = (plan \ "setup_reps").extract[Int]
    val tracer = new Tracer((plan \ "trace").extract[Int] == 1)
    val slices = (plan \ "slices").extract[List[JValue]].map { s =>
      runSlice(s, cpus, reps, tracer)
    }
    val out = Map(
      "slices" -> slices,
      "spans" -> tracer.spans.toSeq,
      "jobs" -> tracer.jobs.map(j => Map("id" -> j.id, "span" -> j.span,
        "start" -> j.start, "end" -> j.end, "tasks" -> j.tasks,
        "retries" -> j.retries, "cpu_ns" -> j.cpuNs,
        "shuffle_read_records" -> j.shuffleReadRecords,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes)))
    Files.write(Paths.get(args(1)),
      Serialization.write(out).getBytes(StandardCharsets.UTF_8))
  }

  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up `reps` times (each in a fresh session), the warm-up, then the
    * timed closed loop over the slice's ops. */
  private def runSlice(slice: JValue, cpus: Int, reps: Int,
                       tracer: Tracer): Map[String, Any] = {
    implicit val formats: Formats = DefaultFormats
    val name = (slice \ "workload").extract[String]
    val seconds = (slice \ "seconds").extract[Double]
    val ops = (slice \ "ops").extract[List[JValue]].toVector
    val roundLen = (slice \ "round_len").extract[Int]
    val warmOps = (slice \ "warm").extract[List[JValue]]
    val data = (slice \ "data").extract[String]

    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    tracer.phase = "setup"
    for (rep <- 0 until reps) {
      if (spark != null) { tracer.detach(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(cpus)
      tracer.attach(spark.sparkContext)
      wl = Workload(name, spark, tracer, data)
      wl.load()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    tracer.phase = "prepare"
    val t1 = System.nanoTime()
    wl.prepare(warmOps)
    val prepareS = (System.nanoTime() - t1) / 1e9

    // Warm-up: every distinct op (several passes for some workloads); the
    // outputs are the references the timed ops are checked against.
    tracer.phase = "warm"
    val t2 = System.nanoTime()
    val warmMs = ArrayBuffer.empty[Double]
    val warmFailures = warmOps.flatMap { op =>
      val w0 = System.nanoTime()
      val d = wl.run(op)
      warmMs += (System.nanoTime() - w0) / 1e6
      wl.remember(op, d)
      d.check().map(e => s"${Json.compact(op)}: $e")
    }
    val warmS = (System.nanoTime() - t2) / 1e9

    // Timed closed loop over whole rounds, until at least `seconds` have
    // passed: every run sees the same op mix. Checks run between ops and
    // their time is excluded from the measured wall.
    val records = ArrayBuffer.empty[Map[String, Any]]
    tracer.phase = "timed"
    val codegen0 = CodegenClock.read()
    var checkNs = 0L
    val start = System.nanoTime()
    var i = 0
    while (i < ops.size &&
           (i % roundLen != 0 || System.nanoTime() - start - checkNs < seconds * 1e9)) {
      val op = ops(i)
      val id = tracer.nextOp()
      if (tracer.enabled) wl.traceAside(op)
      val o0 = System.nanoTime()
      val result =
        try Right(tracer.span("bench", "op")(wl.run(op)))
        catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val ms = (System.nanoTime() - o0) / 1e6
      val c0 = System.nanoTime()
      val err = result match {
        case Left(e) => Some(e)
        case Right(d) => d.check().orElse(wl.compare(op, d))
      }
      checkNs += System.nanoTime() - c0
      records += Map("i" -> i, "op" -> id, "kind" -> (op \ "kind").extract[String],
        "ms" -> ms, "err" -> err.orNull, "key" -> wl.oracleKey(op),
        "n" -> result.map(_.n).getOrElse(-1L),
        "h" -> result.map(_.h.toString).getOrElse(""))
      i += 1
    }
    val wallS = (System.nanoTime() - start - checkNs) / 1e9
    val codegen1 = CodegenClock.read()
    tracer.op = -1L
    val cachedMb = Storage.settledMb(spark)
    tracer.detach()
    spark.stop()
    Map("workload" -> name, "setup_s" -> setupS.toSeq, "prepare_s" -> prepareS,
      "warm_s" -> warmS, "warm_ms" -> warmMs.toSeq,
      "warm_failures" -> warmFailures, "wall_s" -> wallS,
      "ops" -> records.toSeq, "cached_mb_end" -> cachedMb,
      "codegen_compiles" -> (codegen1._1 - codegen0._1),
      "codegen_mean_ms" -> codegen1._2,
      "oracle" -> wl.oracle)
  }
}

/** Spark's code-generation compile-time histogram (values in ms). */
object CodegenClock {
  def read(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}

object Storage {
  /** MB of cached and checkpointed blocks the block manager holds. */
  def mb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Held MB once unreachable frames are collected: a GC makes Spark's
    * ContextCleaner drop blocks whose DataFrames nothing references, so what
    * stays is what the program (its caches) and the client still hold. Polls
    * until two readings agree. */
  def settledMb(spark: SparkSession): Double = {
    var last = -1.0
    var cur = mb(spark)
    var tries = 0
    while (cur != last && tries < 20) {
      System.gc()
      Thread.sleep(150)
      last = cur
      cur = mb(spark)
      tries += 1
    }
    cur
  }
}

object Json {
  /** An op's one-line JSON form, the key of its warm-up output. */
  def compact(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))
}
