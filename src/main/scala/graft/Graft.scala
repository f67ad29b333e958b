package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{CQDBeam, GraphOps, GraphXOps, HardExec, LMPNN}
import graft.lang.Binding.Binding
import graft.lang.{Normalize, Parser, QueryGraph}
import graft.metric.Ranking
import graft.model.{KG, KGIndex}
import graft.score.{Embeddings, KGEModel, TransE}

/** The user-facing library surface: everything a user of the reference
  * engine does — load a KG, parse and answer EFO-1 queries (exact or
  * scored), rank, evaluate metrics, run graph analytics — behind one
  * object. The methods return DataFrames; `Graft.fromTestdata` derives,
  * stores and caches the edges table before it returns (see `KG.edges`).
  *
  * {{{
  * val kg = Graft.fromTestdata(spark, "/root/testdata/sf0.01")
  * kg.answer("r1(s1,f)&r2(s2,f)", Map("r1" -> 9L, "r2" -> 9L,
  *                                    "s1" -> ..., "s2" -> ...)).show()
  * kg.registerViews()   // then: spark.sql("SELECT * FROM graft_edges ...")
  * }}}
  */
final class GraftKG(val spark: SparkSession, val edges: DataFrame,
                    val entities: DataFrame) {

  /** Exact (hard-logic) EFO-1 answering: distinct entities for the free
    * variable. */
  def answer(lstr: String, binding: Binding): DataFrame =
    HardExec.evalFormula(edges, Parser.parse(lstr), binding)

  /** Default embedding tables: the deterministic synthetic space (entity
    * seed 0.3, relation seed 1.7 over a 64-relation universe) unless real
    * trained tables are supplied. */
  private def embeddingsOrDefault(entEmb: Option[DataFrame],
                                  relEmb: Option[DataFrame],
                                  dim: Int): (DataFrame, DataFrame) = (
    entEmb.getOrElse(
      Embeddings.deterministic(entities.select("id"), "id", dim, 0.3)),
    relEmb.getOrElse(Embeddings.deterministic(
      spark.range(64).toDF("id"), "id", dim, 1.7)))

  /** Scored answering: rank every entity by the CQD beam-search score under
    * a pluggable KGE model. Embeddings default to the deterministic
    * synthetic space; pass real tables for trained models. */
  def rank(lstr: String, binding: Binding, model: KGEModel = TransE(2),
           beam: Int = 128, dim: Int = 32,
           entEmb: Option[DataFrame] = None,
           relEmb: Option[DataFrame] = None): DataFrame = {
    val (ents, rels) = embeddingsOrDefault(entEmb, relEmb, dim)
    CQDBeam.answer(lstr, binding, ents, rels, model, beam)
  }

  /** Batched scored answering: N instances of one conjunctive shape in a
    * single plan (the qid column is the batch dimension — SURVEY §1.1).
    * The lstr must normalize to a single conjunct. */
  def rankBatch(lstr: String, bindings: Seq[Binding],
                model: KGEModel = TransE(2), beam: Int = 128, dim: Int = 32,
                entEmb: Option[DataFrame] = None,
                relEmb: Option[DataFrame] = None): DataFrame = {
    val cqs = Normalize.toDnf(Parser.parse(lstr))
    require(cqs.size == 1, "rankBatch requires a single-conjunct formula")
    val (ents, rels) = embeddingsOrDefault(entEmb, relEmb, dim)
    graft.exec.CQDBeamBatched.answerBatch(spark, cqs.head,
      bindings.zipWithIndex.map { case (b, i) => (i.toLong, b) },
      ents, rels, model, beam)
  }

  /** Neural answering via LMPNN message passing over the batched query
    * graphs; one row per (instance, entity) with a cosine score. */
  def rankLMPNN(instances: Seq[(String, Binding)],
                model: KGEModel = TransE(2), rounds: Int = 0, dim: Int = 32,
                entEmb: Option[DataFrame] = None,
                relEmb: Option[DataFrame] = None): DataFrame = {
    require(instances.nonEmpty, "rankLMPNN needs at least one query instance")
    val compiled = instances.flatMap { case (lstr, b) =>
      Normalize.toDnf(Parser.parse(lstr)).map(cq => (cq, b))
    }
    val (qn, qe) = QueryGraph.compile(spark, compiled)
    val (ents, rels) = embeddingsOrDefault(entEmb, relEmb, dim)
    val r = if (rounds > 0) rounds
            else compiled.map { case (cq, _) => cq.vars.size }.max
    LMPNN.answer(qn, qe, ents, rels, model, r)
  }

  /** Filtered-setting retrieval metrics for scored results
    * (answers: (qid, entity, is_hard)). */
  def metrics(scores: DataFrame, answers: DataFrame): DataFrame =
    Ranking.mrrHits(Ranking.filteredRanks(Ranking.rankAll(scores), answers))

  /** End-to-end workload evaluation: train/held-out split + filtered
    * MRR/Hits per query type over this KG's testdata dir. */
  def evaluate(dir: String, types: Seq[(String, String, Binding)]): DataFrame =
    graft.eval.Workload.evaluate(spark, dir, types)

  // Graph analytics.
  /** Relational SGD training entry — the reference trainer's surface
    * (lmpnn.py:218-288's per-model loop) over this KG's edges. `model` ∈
    * transe | distmult | complex | rotate; `steps` > 1 iterates the
    * quantized-state loop for every model; `hashNeg` swaps the cyclic
    * corruption for the portable md5 draw (TransE, single step);
    * `momentum` > 0 runs TransE with heavy-ball momentum. `hashNeg` and
    * `momentum` are TransE-only and exclusive of each other: any other
    * model with either, `hashNeg` with `momentum` > 0, or a negative
    * `momentum` throws `IllegalArgumentException`. Returns the
    * long-form updated parameter frame (kind, id, pos, x). */
  def train(model: String, dim: Int = 8,
            entSeed: Double = 0.3, relSeed: Double = 1.7,
            steps: Int = 1, gamma: Double = 1.0, lr: Double = 0.03125,
            hashNeg: Boolean = false, momentum: Double = 0.0): DataFrame = {
    import graft.score.Training
    import graft.score.Training.Optimizer
    val family = Training.Model.named(model)
    require(momentum >= 0, s"momentum must be non-negative, got $momentum")
    require(family == Training.Model.TransE || (!hashNeg && momentum == 0),
      s"hashNeg and momentum are TransE-only, got model $model")
    require(!(hashNeg && momentum > 0), "hashNeg runs plain SGD, no momentum")
    val ents = entities.select("id")
    family match {
      case Training.Model.TransE =>
        Training.transeSgd(ents, edges, dim, entSeed, relSeed, steps, gamma,
          lr, if (momentum > 0) Optimizer.Momentum(momentum) else Optimizer.Sgd,
          hashNeg)
      case m =>
        Training.sgd(m, ents, edges, dim, entSeed, relSeed, steps, gamma, lr)
    }
  }

  /** In-training eval checkpoint: the link-prediction tail rank of every
    * edge of this KG, (src, rel, dst, rank), under a long-form parameter
    * frame of `model` (as returned by [[train]]). `candMod` > 1 samples
    * the candidate pool (TransE only) — see
    * [[graft.score.Training.ranks]]. */
  def trainEvalRanks(params: DataFrame, candMod: Int = 1,
                     model: String = "transe"): DataFrame =
    graft.score.Training.ranks(graft.score.Training.Model.named(model),
                               params, edges, candMod)

  def bfs(seedIds: Seq[Long], maxLevels: Int = 20): DataFrame = {
    import spark.implicits._
    GraphOps.bfsLevels(edges, seedIds.toDF("id"), maxLevels)
  }
  def pageRank(tol: Double = 0.001): DataFrame = GraphXOps.pageRank(edges, tol)
  def components(): DataFrame = GraphXOps.connectedComponents(edges)

  /** Register SQL temp views: `<prefix>edges`, `<prefix>entities`. */
  def registerViews(prefix: String = "graft_"): Unit = {
    edges.createOrReplaceTempView(s"${prefix}edges")
    entities.createOrReplaceTempView(s"${prefix}entities")
  }

  /** Validate edge endpoints against the entity dictionary (S5). */
  def validate(relations: DataFrame): DataFrame =
    KGIndex.validate(edges, entities, relations)
}

object Graft {

  /** KG derived from the driver's TPC-H-ish testdata (FIXTURES.md §7). */
  def fromTestdata(spark: SparkSession, dir: String): GraftKG =
    new GraftKG(spark, KG.edges(spark, dir),
                KGIndex.derivedEntityDict(spark, dir))

  /** KG from an explicit set of directed base triples; inverse edges are
    * added with `rel ^ 1` per the reference convention (S11). */
  def fromTriples(spark: SparkSession, baseEdges: DataFrame): GraftKG = {
    val edges = KGIndex.addInverse(
      baseEdges.select(col("src").cast("long"), col("rel").cast("long"),
                       col("dst").cast("long")))
    val ents = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
      .withColumn("name", concat(lit("e"), col("id")))
    new GraftKG(spark, edges, ents)
  }

  /** KG from whitespace-separated triple TSV files (S1). */
  def fromTsv(spark: SparkSession, paths: String*): GraftKG =
    fromTriples(spark, KGIndex.readTsv(spark, paths: _*))
}
