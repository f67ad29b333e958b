package graft.lang

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.lang.Binding.Binding

/** Query-as-graph compilation (L11, efo_lang.py:660-747) into the two small
  * DataFrames of SURVEY §1.1:
  *
  *   qnodes(qid, node, entity, kind)   kind: 0 const / 1 exist / 2 free
  *   qedges(qid, src, dst, rel, neg)
  *
  * A single pair of DataFrames holds a whole *batch* of query instances via
  * the `qid` column — the Spark-native replacement for PyG's
  * `Batch.from_data_list` (dataloader.py:97-100).
  */
object QueryGraph {

  final case class QNode(qid: Long, node: Int, entity: Long, kind: Int)
  final case class QEdge(qid: Long, src: Int, dst: Int, rel: Long, neg: Boolean)

  /** Compile one conjunct + binding into node/edge rows. Terms are numbered
    * in first-appearance order (constants get their bound entity id;
    * variables get entity = -1, matching the reference's convention of
    * carrying ids only for constants, efo_lang.py:700-720). */
  def rows(cq: CQ, b: Binding, qid: Long): (Seq[QNode], Seq[QEdge]) = {
    val order = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def idx(t: Term): Int = order.getOrElseUpdate(t.name, order.size)
    val edges = (cq.pos.map(a => (a, false)) ++ cq.neg.map(a => (a, true)))
      .map { case (a, neg) =>
        QEdge(qid, idx(a.head), idx(a.tail), b(a.rel), neg)
      }
    val nodes = order.map { case (name, i) =>
      val t = Term(name)
      QNode(qid, i, if (t.isConst) b(name) else -1L, t.kind)
    }.toSeq
    (nodes, edges)
  }

  /** Batch-compile many (conjunct, binding) instances. */
  def compile(spark: SparkSession,
              instances: Seq[(CQ, Binding)]): (DataFrame, DataFrame) = {
    import spark.implicits._
    val all = instances.zipWithIndex.map { case ((cq, b), qid) =>
      rows(cq, b, qid.toLong)
    }
    (all.flatMap(_._1).toDF(), all.flatMap(_._2).toDF())
  }

  /** Inverse-edge augmentation for message passing (S11,
    * dataloader.py:16-61): every edge doubled with `rel ^ 1`, same neg. */
  def addInverseEdges(qedges: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    qedges.unionAll(
      qedges.select(col("qid"), col("dst").as("src"), col("src").as("dst"),
                    col("rel").bitwiseXOR(lit(1L)).as("rel"), col("neg")))
  }

  /** BFS variable schedule from the constants toward the free variable
    * (L12, efo_lang.py:749-776; G3 topological order,
    * pyg_graph_functionals.py:85-117). Driver-side: query graphs are tiny.
    * Variables unreachable from any constant come first (leaf-∃, R8);
    * the free variable is forced last (CQD solves it outermost).
    * Cycles are handled by the visited-set exactly like the reference's
    * visited-edge masking (cqd.py:134-145). */
  def varOrder(cq: CQ): Seq[String] = {
    val adj = cq.allAtoms.flatMap { a =>
      Seq(a.head -> a.tail, a.tail -> a.head)
    }.groupBy(_._1.name).view.mapValues(_.map(_._2)).toMap

    val allVars = cq.vars.map(_.name)
    val free = cq.freeVar.name
    val visited = scala.collection.mutable.LinkedHashSet.empty[String]
    var frontier = cq.allAtoms.flatMap(a => Seq(a.head, a.tail))
      .filter(_.isConst).map(_.name).distinct
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Nil))
        .filter(t => t.isVar && !visited.contains(t.name)).map(_.name).distinct
      visited ++= next
      frontier = next
    }
    val unreachable = allVars.filterNot(visited.contains)
    val ordered = unreachable ++ visited.toSeq.filterNot(_ == free) :+ free
    ordered.distinct
  }

  /** An atom as CQD scores it when its variable is solved: against the
    * solved frontier of `src`, onto that variable's candidates, which are
    * the atom's tail when `srcIsHead`. */
  private[graft] final case class Incoming(atom: Atomic, neg: Boolean, src: Term, srcIsHead: Boolean)

  /** CQD's variable schedule: each variable in [[varOrder]] with its
    * incoming atoms. An atom is processed when its later-scheduled variable
    * endpoint is solved (cycle back-edges thereby become ordinary incoming
    * edges; cqd.py:134-145); a variable with no incoming atom is a leaf
    * existential. Refuses an atom with no variable. */
  private[graft] def schedule(cq: CQ): Seq[(String, Seq[Incoming])] = {
    val order = varOrder(cq)
    val rank = order.zipWithIndex.toMap
    val solved = (cq.pos.map((_, false)) ++ cq.neg.map((_, true))).map { case (a, neg) =>
      val vs = Seq(a.head, a.tail).filter(_.isVar).map(_.name)
      require(vs.nonEmpty, s"atom ${a.lstr} has no variable")
      val v = vs.maxBy(rank)
      v -> (if (a.tail.isVar && a.tail.name == v) Incoming(a, neg, a.head, srcIsHead = true)
            else Incoming(a, neg, a.tail, srcIsHead = false))
    }
    order.map(v => v -> solved.collect { case (`v`, in) => in })
  }
}
