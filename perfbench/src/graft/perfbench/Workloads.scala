package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.json4s._

import graft.{Graft, GraftKG, GraftPipeline}
import graft.exec.OracleSql
import graft.lang.Parser
import graft.model.KG
import graft.pipeline.{Aac, AudioDispatch, Flac, Multimodal}
import graft.score.{ComplEx, DistMult, Embeddings, KGEModel, RotatE, TransE}
import Bench.Digest

/** Order-independent hashing of op outputs (splitmix64 finalizer, summed);
  * `run.py` computes the same function over the oracle's answers. */
object Hash {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def ofLongs(xs: Iterable[Long]): Long = xs.foldLeft(0L)(_ + mix(_))
  def tuple(fields: Long*): Long = fields.foldLeft(17L)((a, f) => mix(a * 31 + f))
}

/** One workload: how it sets up, what one op does, and how an op's output
  * is checked. Every call into a graft layer sits inside a tracer span named
  * after that layer; a span's `action` part is the Spark action that returns
  * the op's result to the client. */
abstract class Workload(val spark: SparkSession, val t: Tracer,
                        val data: String) {
  implicit val formats: Formats = DefaultFormats

  /** One set-up: data load and the tables every op reads. */
  def load(): Unit
  /** Inputs derived once per run from the warm-up op list (answer sets,
    * encoded media). */
  def prepare(warm: List[JValue]): Unit = ()
  /** One op, including the action that returns its result. */
  def run(op: JValue): Digest
  /** Traced runs only: calls made next to an op, outside its timed span,
    * that give a layer the op's facade call reaches internally a figure of
    * its own. */
  def traceAside(op: JValue): Unit = ()
  /** Key of the op's input in [[oracle]], for checks `run.py` makes. */
  def oracleKey(op: JValue): String = ""
  def oracle: Map[String, Any] = Map.empty

  private val refs = mutable.Map.empty[String, Digest]
  def remember(op: JValue, d: Digest): Unit = refs(Json.compact(op)) = d
  /** Whether a timed op's output matches the warm-up pass on the same input;
    * workloads whose outputs are checked against an oracle instead skip it. */
  def compare(op: JValue, d: Digest): Option[String] =
    refs.get(Json.compact(op)).flatMap { w =>
      if (w.n != d.n || w.h != d.h)
        Some(s"output differs from the warm-up pass (${d.n} rows vs ${w.n})")
      else None
    }

  protected def str(op: JValue, k: String): String = (op \ k).extract[String]
  protected def int(op: JValue, k: String): Int = (op \ k).extract[Int]
  protected def binding(b: JValue): Map[String, Long] = b.extract[Map[String, Long]]

  /** The session's KG, loaded (edges view derived and cached) on first use. */
  protected def loadKg(): GraftKG = Workload.kgs.getOrElseUpdate(spark,
    t.span("model", "call") {
      val kg = Graft.fromTestdata(spark, data)
      kg.edges.count()
      kg
    })

  protected def planMs(df: DataFrame): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum

  /** Block-manager MB before and after `body`, recorded on the layer's last
    * span when tracing (the reading costs a block-manager round trip). */
  protected def cachedDelta[T](layer: String)(body: => T): T =
    if (!t.enabled) body
    else {
      val before = Storage.mb(spark)
      val r = body
      t.annotate(layer, "cached_mb_delta" -> (Storage.mb(spark) - before))
      r
    }
}

object Workload {
  private val kgs = mutable.Map.empty[SparkSession, GraftKG]

  def apply(name: String, spark: SparkSession, t: Tracer,
            data: String): Workload = name match {
    case "efo1_exact" => new ExactWorkload(spark, t, data)
    case "ranked_iterative_ingest" =>
      val ranked = new RankedWorkload(spark, t, data)
      val iterative = new IterativeWorkload(spark, t, data)
      val corpus = new CorpusWorkload(spark, t, data)
      new MixedWorkload(spark, t, data, Seq(ranked, iterative, corpus), {
        case "rank" | "batch" | "lmpnn" => ranked
        case "train" | "eval" | "bfs" | "pagerank" | "components" => iterative
        case "clean" | "tiers" | "redact" | "decode" => corpus
      })
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def inUnit(name: String, xs: Iterable[Double]): Option[String] =
    xs.find(x => x.isNaN || x < 0.0 || x > 1.0)
      .map(x => s"$name $x outside [0, 1]")
}

/** Several workloads' ops in one stream, over one session and one KG; each
  * op goes to the part that owns its kind. */
final class MixedWorkload(s: SparkSession, t: Tracer, d: String,
                          parts: Seq[Workload], route: String => Workload)
    extends Workload(s, t, d) {
  def load(): Unit = parts.foreach(_.load())
  override def prepare(warm: List[JValue]): Unit = parts.foreach(_.prepare(warm))
  def run(op: JValue): Digest = route(str(op, "kind")).run(op)
}

/** EFO-1 queries answered exactly by `GraftKG.answer` (parse, then HardExec
  * over the cached edges view); answer sets are checked in `run.py` against
  * the SQL oracle that `OracleSql` emits for the same formula. */
final class ExactWorkload(s: SparkSession, t: Tracer, d: String)
    extends Workload(s, t, d) {
  private var kg: GraftKG = _
  private val sql = mutable.LinkedHashMap.empty[String, String]

  def load(): Unit = kg = loadKg()

  def run(op: JValue): Digest = {
    val df = t.span("exec.hard", "call")(
      kg.answer(str(op, "lstr"), binding(op \ "binding")))
    val ids = t.span("exec.hard", "action")(df.collect().map(_.getLong(0)))
    t.annotate("exec.hard", "answers" -> ids.length, "plan_ms" -> planMs(df))
    Digest(ids.length, Hash.ofLongs(ids))
  }

  /** The parse `GraftKG.answer` makes inside the op, repeated on its own. */
  override def traceAside(op: JValue): Unit =
    t.span("lang", "call")(Parser.parse(str(op, "lstr")))

  override def oracleKey(op: JValue): String = {
    val b = binding(op \ "binding")
    val key = str(op, "shape") + "|" +
      b.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
    sql.getOrElseUpdate(key, OracleSql.formulaSqlOver(str(op, "lstr"), b, "edges"))
    key
  }
  override def compare(op: JValue, d: Digest): Option[String] = None
  override def oracle: Map[String, Any] =
    Map("edges_cte" -> KG.edgesCte, "sql" -> sql.toMap)
}

/** EFO-1 queries answered by scoring every entity under a KGE model: CQD
  * beam search one instance at a time and batched, and LMPNN; every op ends
  * in the filtered MRR/Hits of `GraftKG.metrics` against answer sets
  * computed during preparation. */
final class RankedWorkload(s: SparkSession, t: Tracer, d: String)
    extends Workload(s, t, d) {
  import s.implicits._
  private val dim = 32
  private var kg: GraftKG = _
  private var ents: DataFrame = _
  private var rels: DataFrame = _
  private var relsHalf: DataFrame = _
  private val answers = mutable.Map.empty[String, DataFrame]
  private val answerCount = mutable.Map.empty[String, Long]
  private val answeredQueries = mutable.Map.empty[String, Int]
  private var entVec: Map[Long, Array[Double]] = _
  private var relVec: Map[Long, Array[Double]] = _
  private var relHalfVec: Map[Long, Array[Double]] = _

  def load(): Unit = {
    kg = loadKg()
    t.span("score.embeddings", "call") {
      def table(ids: DataFrame, d: Int, seed: Double) = {
        val e = Embeddings.deterministic(ids, "id", d, seed)
          .persist(StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      // `kg.entities` plus the ids only the edges use (the segments, which
      // the segment-anchored shapes need a vector for; every endpoint is a
      // `src`, since the edges view holds both directions). The extra ids go
      // in one partition of their own: the table's partitions set the task
      // count of every scoring stage, and a union with a shuffled or local
      // frame would add four and slow each ranked op by a third.
      val known = kg.entities.select("id")
      val extra = kg.edges.select(col("src").as("id")).distinct()
        .join(known, Seq("id"), "left_anti").collect().map(_.getLong(0)).toSeq
      ents = table(known.union(extra.toDF("id").coalesce(1)), dim, 0.3)
      rels = table(spark.range(64).toDF("id"), dim, 1.7)
      // RotatE rotates the re/im halves of an entity by one phase each.
      relsHalf = table(spark.range(64).toDF("id"), dim / 2, 1.7)
    }
  }

  private def model(name: String): KGEModel = name match {
    case "transe" => TransE(2)
    case "distmult" => DistMult
    case "complex" => ComplEx
    case "rotate" => RotatE
  }
  private def relsFor(m: String) = if (m == "rotate") relsHalf else rels

  private def instances(op: JValue): Seq[(String, Map[String, Long])] =
    str(op, "kind") match {
      case "batch" =>
        (op \ "bindings").extract[List[JValue]].map(b => (str(op, "lstr"), binding(b)))
      case "lmpnn" =>
        (op \ "instances").extract[List[JValue]].map(i => (str(i, "lstr"), binding(i \ "binding")))
      case _ => Seq((str(op, "lstr"), binding(op \ "binding")))
    }

  override def prepare(warm: List[JValue]): Unit = {
    val ranked = warm.filter(op => Set("rank", "batch", "lmpnn")(str(op, "kind")))
    // Every instance's answer set in one union plan: one round of jobs
    // instead of one per instance.
    val distinct = ranked.flatMap(instances).distinct
    val sets = distinct.zipWithIndex.map { case ((lstr, b), k) =>
      kg.answer(lstr, b).withColumn("k", lit(k))
    }.reduce(_ unionAll _).collect()
      .groupBy(_.getInt(1)).map { case (k, rs) => distinct(k) -> rs.map(_.getLong(0)) }
    ranked.foreach { op =>
      val rows = instances(op).zipWithIndex.flatMap { case (inst, qid) =>
        sets.getOrElse(inst, Array.empty[Long]).map(e => (qid.toLong, e, true))
      }
      val key = Json.compact(op)
      answers(key) = rows.toDF("qid", "entity", "is_hard")
      answerCount(key) = rows.size.toLong
      answeredQueries(key) = rows.map(_._1).distinct.size
    }
    def vecs(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    entVec = vecs(ents)
    relVec = vecs(rels)
    relHalfVec = vecs(relsHalf)
  }

  def run(op: JValue): Digest = {
    val m = str(op, "model")
    val key = Json.compact(op)
    val (layer, scores) = str(op, "kind") match {
      case "rank" =>
        val beam = if (int(op, "beam") < 0) Int.MaxValue else int(op, "beam")
        ("exec.cqd", t.span("exec.cqd", "call")(kg.rank(str(op, "lstr"),
          binding(op \ "binding"), model(m), beam, dim, Some(ents),
          Some(relsFor(m)))).withColumn("qid", lit(0L)))
      case "batch" =>
        ("exec.cqd", t.span("exec.cqd", "call")(kg.rankBatch(str(op, "lstr"),
          instances(op).map(_._2), model(m), int(op, "beam"), dim,
          Some(ents), Some(relsFor(m)))))
      case "lmpnn" =>
        ("exec.lmpnn", t.span("exec.lmpnn", "call")(kg.rankLMPNN(
          instances(op), model(m), 0, dim, Some(ents), Some(relsFor(m)))))
    }
    val metrics = t.span("metric", "call")(kg.metrics(scores, answers(key)))
    val rows = t.span(layer, "action")(metrics.collect())
    t.annotate(layer, "answers" -> answerCount(key).toDouble,
               "plan_ms" -> planMs(metrics))
    val values = rows.toSeq.flatMap(r => (1 to 4).map(r.getDouble))
    val expectRows = answeredQueries(key)
    Digest(rows.length, Hash.ofLongs(values.map(java.lang.Double.doubleToLongBits)),
      () => Workload.inUnit("metric", values).orElse {
        if (rows.length != expectRows)
          Some(s"${rows.length} metric rows for $expectRows answered queries")
        else if (str(op, "kind") == "rank" && int(op, "beam") < 0)
          bruteForce(op, scores)
        else None
      })
  }

  /** An unbounded beam scores every entity from the anchors alone, so the
    * score of each entity can be recomputed directly from the embedding
    * tables: seed 1.0 plus the model's triple score per anchored atom, summed
    * over a conjunct's atoms and maxed over the conjuncts of a union. */
  private def bruteForce(op: JValue, scores: DataFrame): Option[String] = {
    val m = str(op, "model")
    val b = binding(op \ "binding")
    val rv = if (m == "rotate") relHalfVec else relVec
    def atom(r: String, s: String)(e: Array[Double]) =
      1.0 + BruteScore(m, entVec(b(s)), rv(b(r)), e)
    val perEntity: Array[Double] => Double = str(op, "shape") match {
      case "1p" => atom("r1", "s1")
      case "2i" => e => atom("r1", "s1")(e) + atom("r2", "s2")(e)
      case "2u" => e => math.max(atom("r1", "s1")(e), atom("r2", "s2")(e))
    }
    val got = scores.select("entity", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    if (got.size != entVec.size)
      Some(s"${got.size} entities scored, ${entVec.size} expected")
    else entVec.collectFirst {
      case (id, e) if {
        val want = perEntity(e)
        val have = got.getOrElse(id, Double.NaN)
        !(math.abs(want - have) <= 1e-9 * math.max(1.0, math.abs(want)))
      } => s"entity $id scored ${got.get(id)}, brute force ${perEntity(e)}"
    }
  }
}

/** Triple scores of the four KGE models over plain arrays, written from the
  * models' definitions (score.KGE) for the brute-force check. */
object BruteScore {
  def apply(model: String, h: Array[Double], r: Array[Double],
            t: Array[Double]): Double = {
    val d = h.length / 2
    def complexEst(c: Array[Double], s: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => h(i) * c(i) - h(d + i) * s(i)) ++
        Array.tabulate(d)(i => h(i) * s(i) + h(d + i) * c(i))
    model match {
      case "transe" =>
        -math.sqrt(h.indices.map { i => val x = h(i) + r(i) - t(i); x * x }.sum)
      case "distmult" => -h.indices.map(i => h(i) * r(i) * t(i)).sum
      case "complex" =>
        val est = complexEst(r.take(d), r.drop(d))
        est.indices.map(i => est(i) * t(i)).sum
      case "rotate" =>
        val est = complexEst(r.map(math.cos), r.map(math.sin))
        math.sqrt(est.indices.map { i => val x = est(i) - t(i); x * x }.sum)
    }
  }
}

/** The write path: KGE training steps, each followed by the in-training
  * evaluation of the parameters it wrote, interleaved with BFS, PageRank and
  * connected components. Outputs must equal the warm-up pass. */
final class IterativeWorkload(s: SparkSession, t: Tracer, d: String)
    extends Workload(s, t, d) {
  private var kg: GraftKG = _
  private val params = mutable.Map.empty[String, DataFrame]

  def load(): Unit = kg = loadKg()

  private def rowsHash(rows: Array[Row]): Long = Hash.ofLongs(rows.map { r =>
    Hash.tuple((0 until r.length).map(i => r.get(i) match {
      case x: Long => x
      case x: Int => x.toLong
      case x: Double => java.lang.Double.doubleToLongBits(x)
      case x: String => x.hashCode.toLong
      case null => 0L
      case x => x.hashCode.toLong
    }): _*)
  })

  def run(op: JValue): Digest = str(op, "kind") match {
    case "train" =>
      val m = str(op, "model")
      cachedDelta("score.training") {
        val p = t.span("score.training", "call")(kg.train(m, steps = 2))
        val rows = t.span("score.training", "action")(p.collect())
        t.annotate("score.training", "steps" -> 2.0, "plan_ms" -> planMs(p))
        params(m) = p
        Digest(rows.length, rowsHash(rows))
      }
    case "eval" =>
      val m = str(op, "model")
      val r = t.span("metric", "call")(kg.trainEvalRanks(params(m), 1, m))
      val rows = t.span("metric", "action")(r.collect())
      t.annotate("metric", "plan_ms" -> planMs(r))
      val rank = r.schema.fieldIndex("rank")
      val mrr = rows.map(x => 1.0 / x.getAs[Number](rank).doubleValue).sum /
        math.max(1, rows.length)
      Digest(rows.length, rowsHash(rows), () =>
        if (rows.isEmpty || !(mrr > 0.0 && mrr <= 1.0)) Some(s"eval MRR $mrr outside (0, 1]")
        else None)
    case kind =>
      cachedDelta("exec.graph") {
        val df = t.span("exec.graph", "call")(kind match {
          case "bfs" => kg.bfs((op \ "seeds").extract[List[Long]])
          case "pagerank" => kg.pageRank(tol = 0.1)
          case "components" => kg.components()
        })
        val rows = t.span("exec.graph", "action")(df.collect())
        val supersteps =
          if (kind == "bfs") rows.map(_.getAs[Number]("level").intValue).max + 1.0
          else 0.0
        t.annotate("exec.graph", "supersteps" -> supersteps, "plan_ms" -> planMs(df))
        if (kind == "pagerank") {
          // Ranks are float sums: ids exactly, ranks to 1e-9 of the warm-up.
          val ranks = rows.map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1)
          Digest(rows.length, Hash.ofLongs(ranks.map(_._1)),
            () => PageRankRef.check(op, ranks))
        } else Digest(rows.length, rowsHash(rows))
      }
  }

  private object PageRankRef {
    private var ref: Array[(Long, Double)] = _
    def check(op: JValue, ranks: Array[(Long, Double)]): Option[String] =
      if (ref == null) { ref = ranks; None }
      else if (ref.length != ranks.length) Some("pagerank vertex count changed")
      else ref.zip(ranks).collectFirst {
        case ((a, x), (b, y)) if a != b || math.abs(x - y) > 1e-9 =>
          s"pagerank of $b is $y, warm-up $x"
      }
  }
}

/** The corpus/media pipeline: batches of documents through GraftCorpus
  * (exact + near-dup clean, CCNet-style quality tiers, duplicated-span
  * redaction) and shards of MP3 (Layer III), AAC and FLAC files decoded by
  * AudioDispatch inside a Spark map. */
final class CorpusWorkload(s: SparkSession, t: Tracer, d: String)
    extends Workload(s, t, d) {
  import s.implicits._
  private var docs: DataFrame = _
  private val shards = mutable.Map.empty[String, (DataFrame, Map[Long, (String, Int, Int, Long)], Long)]

  def load(): Unit = {
    docs = spark.read.parquet(s"$data/documents.parquet")
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
  }

  /** Encodes each shard's files with the program's own generators. */
  override def prepare(warm: List[JValue]): Unit = warm
    .filter(op => str(op, "kind") == "decode")
    .foreach { op =>
      val files = (op \ "files").extract[List[JValue]].zipWithIndex.map {
        case (f, i) =>
          val (id, n) = ((f \ "id").extract[Long], int(f, "frames"))
          val (bytes, expect) = str(f, "codec") match {
            case "mp3" => (Multimodal.layer3Bytes(id, n), ("mp3", 48000, 1, n.toLong))
            case "aac" => (Aac.aacLcBytes(id, n, "long"), ("aac", 48000, 1, n.toLong))
            case "flac" => (flac(id, n), ("flac", 44100, 1, n.toLong))
          }
          (i.toLong, bytes, expect)
      }
      shards(Json.compact(op)) = (
        files.map(f => (f._1, f._2)).toDF("id", "bytes"),
        files.map(f => f._1 -> f._3).toMap,
        files.map(_._2.length.toLong).sum)
    }

  private def flac(id: Long, n: Int): Array[Byte] = {
    import Flac._
    val bs = 48
    val frames = (0 until n).map { f =>
      Flac.frameBytes(
        Array(Array.tabulate(bs)(t => (id * 37 + f * 59 + t * 13 + (t * t) % 251) % 200 - 100)),
        0, 16, 44100, FrameHeaderPlan(6, 9, 4, 0, f.toLong),
        Array(ChannelPlan(PlanFixed(2), 0, ResidualPlan(0, 0))))
    }
    Flac.streamBytes(44100, 1, 16, n.toLong * bs, frames)
  }

  def run(op: JValue): Digest = {
    lazy val corpus = GraftPipeline.corpus(
      docs.filter($"doc_id" >= int(op, "lo") && $"doc_id" < int(op, "hi")))
    str(op, "kind") match {
      case "clean" =>
        val df = t.span("pipeline.dedup", "call")(corpus.cleanIds())
        val ids = t.span("pipeline.dedup", "action")(df.collect().map(_.getLong(0))).toSet
        t.annotate("pipeline.dedup", "plan_ms" -> planMs(df))
        val drop = (op \ "must_drop").extract[List[Long]]
        val keep = (op \ "must_keep").extract[List[Long]]
        Digest(ids.size, Hash.ofLongs(ids), () =>
          drop.find(ids.contains).map(i => s"exact duplicate $i survived")
            .orElse(keep.find(i => !ids.contains(i)).map(i => s"original $i dropped")))
      case "tiers" =>
        val df = t.span("pipeline.text", "call")(corpus.qualityTiers())
        val rows = t.span("pipeline.text", "action")(df.collect())
        t.annotate("pipeline.text", "plan_ms" -> planMs(df))
        Digest(rows.length, Hash.ofLongs(rows.map(r =>
          Hash.tuple(r.getAs[Number]("id").longValue,
                     String.valueOf(r.getAs[Any]("bucket")).hashCode.toLong))))
      case "redact" =>
        val df = t.span("pipeline.dedup", "call")(corpus.redactSpans(8))
        val rows = t.span("pipeline.dedup", "action")(df.collect())
        t.annotate("pipeline.dedup", "plan_ms" -> planMs(df))
        val dropped = rows.map(_.getAs[Number]("n_dropped").longValue).sum
        Digest(rows.length, Hash.ofLongs(rows.map(r => Hash.tuple(
          r.getAs[Number]("id").longValue, r.getAs[String]("redacted").hashCode.toLong,
          r.getAs[Number]("n_dropped").longValue))), () =>
          if (dropped == 0 && (op \ "spans").extract[Int] > 1)
            Some("no duplicated span redacted") else None)
      case "decode" =>
        val (df, expect, bytes) = shards(Json.compact(op))
        val out = t.span("pipeline.codec", "call")(
          df.as[(Long, Array[Byte])].map { case (id, b) =>
            AudioDispatch.dispatch(b, allowSyntheticAac = true) match {
              case Right((f, rate, ch, n)) => (id, f, rate, ch, n)
              case Left(e) => (id, "refused:" + e, -1, -1, -1L)
            }
          })
        val rows = t.span("pipeline.codec", "action")(out.collect())
        t.annotate("pipeline.codec", "bytes" -> bytes.toDouble,
                   "plan_ms" -> planMs(out.toDF()))
        Digest(rows.length, Hash.ofLongs(rows.map { case (id, f, r, c, n) =>
          Hash.tuple(id, f.hashCode.toLong, r.toLong, c.toLong, n) }), () =>
          rows.collectFirst { case (id, f, r, c, n) if expect(id) != ((f, r, c, n)) =>
            s"file $id decoded as ($f, $r, $c, $n), expected ${expect(id)}" })
    }
  }
}
