package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds (fractional) so they
  * share a clock with the job times Spark's listener events carry. `phase`
  * is the part of the run it fell in: setup, prepare, warm or timed. */
final case class Span(id: Long, parent: Long, op: Long, phase: String,
                      layer: String, name: String, start: Double,
                      end: Double, attrs: Map[String, Double])

/** Per-job counters, attributed to the span that was open on the client
  * thread when the job was submitted (`sc.setLocalProperty`). */
final class JobRec(val id: Int, val span: Long, val start: Long) {
  var end: Long = start
  var tasks = 0
  var retries = 0
  var cpuNs = 0L
  var shuffleReadRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
}

/** Spans recorded by the benchmark around each call into a layer's public
  * function, plus a listener that attributes Spark jobs, tasks, executor CPU
  * and shuffle to them. Disabled, every method is a plain call-through. */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var sc: SparkContext = _
  private var listener: Listener = _
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private var ops = 0L
  /** The timed op spans are recorded under (-1 outside timed ops). */
  var op: Long = -1L
  var phase: String = "setup"
  private val clockBase =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def now(): Double = clockBase + System.nanoTime() / 1e6

  /** Starts the next timed op: ids are unique across every workload of
    * the run. */
  def nextOp(): Long = { op = ops; ops += 1; op }

  /** Listen to a new SparkContext. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    listener = new Listener
    sc.addSparkListener(listener)
  }

  /** Before the context stops: keep its jobs, once the listener bus has
    * delivered every event posted so far. */
  def detach(): Unit = if (enabled) {
    BenchBus.drain(sc)
    done ++= listener.jobs.values
    listener = null
  }
  private val done = ArrayBuffer.empty[JobRec]

  /** Run `body` inside a span of `layer`; jobs it submits carry the span. */
  def span[T](layer: String, name: String,
              attrs: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(-1L)
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, id.toString)
      stack = id :: stack
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, prev)
        spans += Span(id, parent, op, phase, layer, name, t0, t1, attrs)
      }
    }

  /** Adds attributes to the most recent span of `layer` in the current op. */
  def annotate(layer: String, kv: (String, Double)*): Unit = if (enabled) {
    val i = spans.lastIndexWhere(s => s.layer == layer && s.op == op)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ kv)
  }

  /** The jobs of every detached context. */
  def jobs: Seq[JobRec] = done.toSeq.sortBy(_.start)

  private final class Listener extends SparkListener {
    val jobs = scala.collection.mutable.HashMap.empty[Int, JobRec]
    private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.Key))).map(_.toLong).getOrElse(-1L)
      val j = new JobRec(e.jobId, span, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskInfo.attemptNumber > 0 || e.reason != Success) j.retries += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }
}

object Tracer {
  val Key = "graft.perfbench.span"
}
