package graft.exec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.lang._
import graft.lang.Binding.Binding
import graft.score._

/** CQD symbolic beam search (SURVEY §3.2; knovex/reasoner/cqd.py:111-431),
  * re-expressed as forward variable elimination over DataFrames.
  *
  * Per variable, in the BFS schedule from constants toward the free variable
  * (QueryGraph.schedule):
  *   - each incoming atom scores the candidate entity set against the solved
  *     source frontier: `score(head, rel, tail)` from the pluggable KGE model
  *     (R1 scored; abstract_kge.py:100-164 tail=None mode),
  *     negation flips the score (R4/F13, abstract_kge.py:160-163);
  *   - ∃-projection = max over source assignments per candidate
  *     (R5/A2, cqd.py:327-338);
  *   - conjunction = sum of per-edge scores (log-space product t-norm,
  *     R2/A3, cqd.py:344-355; tnorm.py:31-33);
  *   - beam top-k prune unless the variable is free
  *     (R7/O2, cqd.py:374-409).
  *
  * Scale design: the frontier is broadcast ONLY when provably small — a
  * constant source (1 row) or a beam-pruned frontier with
  * beam ≤ [[broadcastFrontierMaxRows]]. An unbounded frontier (leaf-∃
  * expansion, or beam = Int.MaxValue as the unpruned `cqd_1p_*`/`cqd_2p_*`
  * calls pass) is corpus-sized at cluster scale: an unconditional
  * `broadcast()` hint there ships the whole entity universe to every
  * executor — driver/executor OOM. Without the hint Catalyst still
  * broadcasts when its size ESTIMATE is under
  * `spark.sql.autoBroadcastJoinThreshold`, and falls back to a
  * shuffled/cartesian join otherwise. The entity table is the big side and
  * is scanned once per edge; the per-edge aggregation shuffles at most |E|
  * rows keyed by candidate id. Leaf-∃ variables (R8, cqd.py:148-164)
  * expand to all entities with score 1, matching the reference's seed that
  * is summed into downstream edge scores — full-crossing cost is inherent
  * to the reference semantics; keep entity universes scoped per query.
  *
  * MEASURED (a beam-scale probe, round 16, 10⁶ synthetic entities,
  * 2p TransE, dim 8, local[16]): with beam 16 the 10⁵ → 10⁶ decade runs
  * 1.07 s → 1.86 s (exponent 0.24 — linear-at-most in |E|, as the
  * beam·|E| bound predicts); beam 16 → 64 at 10⁶ costs 2.0×, confirming
  * the frontier size is what enters the crossing; and the UNPRUNED
  * control (beam = MaxValue, the |E|² frontier) takes 368 s at 10⁵
  * alone — 344× the pruned run, which is the measured justification for
  * both the beam prune and PlanGuard's whitelist of the bounded
  * frontier×universe crossings.
  */
object CQDBeam {

  /** Frontiers provably at or under this many rows get an explicit
    * `broadcast()` hint; anything larger (or unbounded) is left to
    * Catalyst's size-estimate-driven strategy choice. 32k rows ×
    * (id + score + ≤256-float vec) ≈ 35 MB — comfortably broadcastable. */
  val broadcastFrontierMaxRows: Int = 32 * 1024

  /** Answer one conjunct: returns `(entity, score)` for every entity as a
    * candidate binding of the free variable (R6 free-variable ranking).
    *
    * @param godel use the Gödel t-norm (conjunction = min over edges) in
    *              place of the reference's default log-space product
    *              (sum; tnorm.py:31-33 vs cqd.py:344-355). ∃-projection is
    *              max either way. */
  def answerCQ(cq: CQ, b: Binding, ents: DataFrame, rels: DataFrame,
               model: KGEModel, beam: Int, godel: Boolean = false): DataFrame = {
    val cand = ents.select(col("id").as("_cand"), col("vec").as("_cvec"))
    val frontiers = scala.collection.mutable.Map.empty[String, DataFrame]
    // Whether a frontier is PROVABLY ≤ broadcastFrontierMaxRows rows
    // (beam-pruned with a small finite beam). Leaf-∃ frontiers are
    // universe-sized and never small.
    val smallFrontier = scala.collection.mutable.Map.empty[String, Boolean]

    def frontierOf(t: Term): (DataFrame, Boolean) =
      if (t.isConst)
        // Seed score 1.0 — the reference's additive convention
        // (cqd.py:160-162,184-188 sums the seed into edge scores); matters
        // for the cross-conjunct max in answer() when conjuncts differ in
        // their number of constant/leaf sources.
        (ents.filter(col("id") === b(t.name))
          .select(col("id").as("_src"), lit(1.0).as("_sscore"),
                  col("vec").as("_svec")),
         true)
      else
        (frontiers(t.name).as("fr")
          .join(ents, col("fr._ent") === ents("id"))
          .select(col("fr._ent").as("_src"), col("fr._score").as("_sscore"),
                  col("vec").as("_svec")),
         smallFrontier(t.name))

    QueryGraph.schedule(cq).foreach { case (v, incoming) =>
      if (incoming.isEmpty) {
        // Leaf existential: all entities, score 1 (cqd.py:160-162) — R8.
        frontiers(v) = ents.select(col("id").as("_ent"), lit(1.0).as("_score"))
        smallFrontier(v) = false
      } else {
        val edgeFrames = incoming.map { case QueryGraph.Incoming(a, neg, srcTerm, srcIsHead) =>
          val (src, srcSmall) = frontierOf(srcTerm)
          val rvec = rels.filter(col("id") === b(a.rel))
            .select(col("vec").as("_rvec"))
          val srcR = src.crossJoin(broadcast(rvec))
          // Estimate-heavy scorers (scoreOnFrontier): materialize the
          // predicted-tail embedding ONCE per frontier row and pair-score
          // it against candidates — the forward pass runs |frontier|
          // times, not |frontier| × |entities| times. Only valid for
          // head-to-candidate edges (the estimate depends on the solved
          // side); candidate-as-head edges keep the 3-arg score.
          val (scored, edgeScore) =
            if (model.scoreOnFrontier && srcIsHead) {
              val srcEst = srcR.withColumn("_est",
                model.estimateTail(col("_svec"), col("_rvec")))
              // A non-broadcast estimate frontier is the STREAM side of the
              // |frontier| × |entities| crossing, and the frontier is tiny
              // in BYTES (id + score + vec) while the crossing amplifies
              // every row |entities|-fold — so AQE's byte-based coalescing
              // collapses it to one partition and the whole scoring stage
              // runs in ONE task (measured: cqd_2p_conve's 10⁶-row ConvE
              // stage single-core). Spread it explicitly across the
              // session's shuffle parallelism (conf-derived, not a local
              // constant); row set unchanged, so scores are identical.
              // Round-robin, not hash-by-_src: the frontier arrives already
              // hash-partitioned by _src from its own aggregate, so a hash
              // repartition is elided as redundant by EnsureRequirements
              // and AQE then coalesces the upstream exchange to one
              // partition anyway. Round-robin partitioning never matches
              // an existing distribution, so the spread survives planning.
              val spread =
                if (srcSmall) broadcast(srcEst)
                else srcEst.repartition(
                  srcEst.sparkSession.sessionState.conf.numShufflePartitions)
              (cand.crossJoin(spread),
               model.pairScore(col("_est"), col("_cvec")))
            } else {
              (cand.crossJoin(if (srcSmall) broadcast(srcR) else srcR),
               if (srcIsHead)
                 model.score(col("_svec"), col("_rvec"), col("_cvec"))
               else model.score(col("_cvec"), col("_rvec"), col("_svec")))
            }
          val flipped = KGE.negFlip(edgeScore, lit(neg))
          scored
            .withColumn("_total",
              if (godel) least(col("_sscore"), flipped)
              else col("_sscore") + flipped)
            .groupBy(col("_cand")).agg(max(col("_total")).as("_escore"))
        }
        val combined = edgeFrames.reduce { (l, r) =>
          l.join(r.withColumnRenamed("_escore", "_escore2"), "_cand")
            .withColumn("_escore",
              if (godel) least(col("_escore"), col("_escore2"))
              else col("_escore") + col("_escore2"))
            .drop("_escore2")
        }.select(col("_cand").as("_ent"), col("_escore").as("_score"))
        frontiers(v) =
          if (v == cq.freeVar.name) combined
          else if (beam == Int.MaxValue)
            // Prune disabled (the unpruned cqd_1p/2p/3p rows): a
            // sort+limit here keeps every row anyway, but planned as
            // rangepartition-sort + SinglePartition GlobalLimit it
            // FUNNELS the frontier — and every downstream edge crossing,
            // i.e. the expensive |frontier|×|entities| scoring stage —
            // through ONE task (measured on cqd_2p_conve: the whole 10⁶
            // ConvE-dot crossing ran single-core). Skip the no-op limit
            // and keep the frontier's natural partitioning; result rows
            // are identical (order feeds a join/aggregate, never output).
            combined
          else
            // Global top-k: planned as TakeOrderedAndProject (no full sort,
            // no single-partition window). Deterministic tie-break on id.
            combined.orderBy(col("_score").desc, col("_ent").asc).limit(beam)
        smallFrontier(v) =
          v != cq.freeVar.name && beam <= broadcastFrontierMaxRows
      }
    }
    frontiers(cq.freeVar.name)
      .select(col("_ent").as("entity"), col("_score").as("score"))
  }

  /** Full formula: DNF, one beam search per conjunct, disjunction combined
    * with max (Gödel t-conorm on log-space scores; R3, tnorm.py:22-28). */
  def answer(lstr: String, b: Binding, ents: DataFrame, rels: DataFrame,
             model: KGEModel, beam: Int, godel: Boolean = false): DataFrame = {
    val cqs = Normalize.toDnf(Parser.parse(lstr))
    cqs.map(answerCQ(_, b, ents, rels, model, beam, godel))
      .reduce(_ unionAll _)
      .groupBy("entity").agg(max("score").as("score"))
  }
}
