package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.lang._
import graft.lang.Binding.Binding
import graft.score._

/** Batched CQD beam search: N query *instances* of one conjunct shape
  * answered in a single DataFrame plan, discriminated by a `qid` column —
  * the Spark-native analog of the reference's PyG batching
  * (dataloader.py:64-102; one batch per DNF conjunct, many instances each).
  *
  * Identical per-instance semantics to [[CQDBeam]] (spec-checked); the
  * schedule is shared because all instances have the same query graph, only
  * constants/relations differ. Beam pruning becomes a per-qid
  * WindowGroupLimit instead of a global TakeOrdered.
  *
  * At scale this is the shape that matters: answering 10⁵ query instances
  * means 10⁵ × |E| scoring rows flowing through ONE set of stages, not 10⁵
  * separate Spark jobs.
  */
object CQDBeamBatched {

  /** @param instances (qid, binding) pairs; every binding must bind all
    *                  relations/constants of `cq`.
    * @return (qid, entity, score) for every entity per instance. */
  def answerBatch(spark: SparkSession, cq: CQ, instances: Seq[(Long, Binding)],
                  ents: DataFrame, rels: DataFrame, model: KGEModel,
                  beam: Int): DataFrame = {
    import spark.implicits._
    val candWithVec = ents.select(col("id").as("_cand"),
                                  col("vec").as("_cvec"))

    // Per-atom instance tables: (qid, rel id [, const entity id]).
    def atomInstances(a: Atomic): DataFrame =
      instances.map { case (qid, b) =>
        val constId = Seq(a.head, a.tail).find(_.isConst).map(t => b(t.name))
        (qid, b(a.rel), constId.getOrElse(-1L))
      }.toDF("qid", "_rel", "_const")

    val frontiers = scala.collection.mutable.Map.empty[String, DataFrame]
    // Frontier provably ≤ CQDBeam.broadcastFrontierMaxRows rows across ALL
    // instances (constant sources: |instances| rows; beam-pruned:
    // |instances| × beam). Leaf-∃ frontiers (qids × universe) never are.
    // Unproven-small frontiers get no broadcast() hint — Catalyst's size
    // estimate then decides, avoiding a corpus-sized broadcast at scale
    // (see CQDBeam scale notes).
    val smallFrontier = scala.collection.mutable.Map.empty[String, Boolean]
    val nInst = math.max(1, instances.size)
    val prunedSmall =
      beam <= CQDBeam.broadcastFrontierMaxRows / nInst
    val qids = instances.map(_._1).toDF("qid")

    def constFrontier(a: Atomic): DataFrame =
      // Seed 1.0: reference convention, summed into edge scores
      // (cqd.py:160-162,184-188); keeps CQDBeam and this executor aligned.
      atomInstances(a).join(ents, col("_const") === ents("id"))
        .select(col("qid"), col("id").as("_src"), lit(1.0).as("_sscore"),
                col("vec").as("_svec"), col("_rel"))

    def varFrontier(a: Atomic, name: String): DataFrame =
      frontiers(name).as("fr")
        .join(ents, col("fr._ent") === ents("id"))
        .join(atomInstances(a).as("ai"), col("fr.qid") === col("ai.qid"))
        .select(col("fr.qid").as("qid"), col("fr._ent").as("_src"),
                col("fr._score").as("_sscore"), col("vec").as("_svec"),
                col("_rel"))

    QueryGraph.schedule(cq).foreach { case (v, incoming) =>
      if (incoming.isEmpty) {
        frontiers(v) = qids.crossJoin(
          ents.select(col("id").as("_ent"), lit(1.0).as("_score")))
        smallFrontier(v) = false
      } else {
        val edgeFrames = incoming.map { case QueryGraph.Incoming(a, neg, srcTerm, srcIsHead) =>
          val (src, srcSmall) =
            if (srcTerm.isConst)
              (constFrontier(a), nInst <= CQDBeam.broadcastFrontierMaxRows)
            else (varFrontier(a, srcTerm.name), smallFrontier(srcTerm.name))
          val srcR = src
            .join(broadcast(rels.select(col("id").as("_rid"),
                                        col("vec").as("_rvec"))),
                  col("_rel") === col("_rid"))
            .select(col("qid"), col("_src"), col("_sscore"), col("_svec"),
                    col("_rvec"))
          val scored = candWithVec.crossJoin(if (srcSmall) broadcast(srcR) else srcR)
          val edgeScore =
            if (srcIsHead) model.score(col("_svec"), col("_rvec"), col("_cvec"))
            else model.score(col("_cvec"), col("_rvec"), col("_svec"))
          val flipped = KGE.negFlip(edgeScore, lit(neg))
          scored
            .withColumn("_total", col("_sscore") + flipped)
            .groupBy(col("qid"), col("_cand"))
            .agg(max(col("_total")).as("_escore"))
        }
        val combined = edgeFrames.reduce { (l, r) =>
          l.join(r.withColumnRenamed("_escore", "_escore2"), Seq("qid", "_cand"))
            .withColumn("_escore", col("_escore") + col("_escore2"))
            .drop("_escore2")
        }.select(col("qid"), col("_cand").as("_ent"), col("_escore").as("_score"))
        frontiers(v) =
          if (v == cq.freeVar.name) combined
          else {
            // Per-instance beam: rank-limit pushes down (WindowGroupLimit).
            val w = Window.partitionBy("qid")
              .orderBy(col("_score").desc, col("_ent").asc)
            combined.withColumn("_rn", row_number().over(w))
              .filter(col("_rn") <= beam).drop("_rn")
          }
        smallFrontier(v) = v != cq.freeVar.name && prunedSmall
      }
    }
    frontiers(cq.freeVar.name)
      .select(col("qid"), col("_ent").as("entity"), col("_score").as("score"))
  }
}
