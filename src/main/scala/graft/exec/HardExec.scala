package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lang._
import graft.lang.Binding.Binding
import graft.model.KG

/** Hard-logic (0/1-score) EFO-1 evaluator.
  *
  * With hard scores the reference's soft semantics reduce to relational
  * algebra (SURVEY §2.3): atom = indexed scan (R1), conjunction on a shared
  * variable = equi-join (R2), disjunction = union (R3), negated atom =
  * anti-join (R4), existential elimination = project+distinct (R5).
  * This evaluator compiles a DNF'd formula into exactly that DataFrame plan,
  * and [[OracleSql]] emits the equivalent ANSI SQL from the same structure so
  * the two can never drift.
  *
  * One conjunct planner serves two modes. Plain mode answers over one edge
  * relation. Tagged mode answers over edges carrying a train flag `_tr`
  * and reports, per answer, membership in the full-KG and the train-KG
  * answer sets in one pass (the split evaluation of `eval.Workload`).
  * The modes share the atom frames and the join order; they differ only in
  * the negation step and the final projection.
  *
  * Scale design: every atom is a filter on `rel` (+ constant endpoint) over
  * the edges table — Catalyst pushes both into the parquet/cached scan.
  * Joins are equi-joins on entity-id columns; the accumulated binding
  * relation stays narrow (one BIGINT column per variable). Join order is
  * chosen greedily most-constants-first so the most selective atoms anchor
  * the plan, and AQE re-plans broadcast/skew at runtime.
  */
object HardExec {

  /** DataFrame of an atom's variable bindings: one column per distinct
    * variable in the atom (R1: atom lookup). In tagged mode (`tr` set) the
    * edge's train flag rides along as column `tr`.
    *
    * No per-atom `distinct()`: the edges relation is a *set* (KG.edges is
    * duplicate-free by construction), so each projection here is already
    * duplicate-free — and even with a duplicated input, the final
    * free-variable projection dedups, so results are unchanged; only join
    * multiplicity (perf) would suffer. Dropping it removes one shuffle per
    * atom. Being duplicate-free also makes the train flag well-defined per
    * assignment. */
  private def atomFrame(edges: DataFrame, a: Atomic, b: Binding,
                        tr: Option[String]): DataFrame = {
    val relId = b.getOrElse(a.rel,
      throw new IllegalArgumentException(s"unbound relation ${a.rel}"))
    val df = edges.filter(col("rel") === relId)
    val flag = tr.map(col("_tr").as(_)).toSeq
    (a.head.isConst, a.tail.isConst) match {
      case (true, true) =>
        val hits = df.filter(col("src") === b(a.head.name) && col("dst") === b(a.tail.name))
        tr match {
          case None => hits.select(lit(1L).as("_const_hit")).limit(1)
          // Zero-or-one row: groupBy over the matches (empty input ⇒ empty
          // frame ⇒ the conjunct fails, like the untagged limit(1)).
          case Some(c) => hits.groupBy(lit(1L).as("_const_hit")).agg(max(col("_tr")).as(c))
        }
      case (true, false) =>
        df.filter(col("src") === b(a.head.name))
          .select(col("dst").as(a.tail.name) +: flag: _*)
      case (false, true) =>
        df.filter(col("dst") === b(a.tail.name))
          .select(col("src").as(a.head.name) +: flag: _*)
      case (false, false) =>
        if (a.head.name == a.tail.name)
          df.filter(col("src") === col("dst"))
            .select(col("src").as(a.head.name) +: flag: _*)
        else
          df.select(Seq(col("src").as(a.head.name), col("dst").as(a.tail.name)) ++ flag: _*)
    }
  }

  /** An atom's distinct variable names, in its frame's column order. */
  private def atomVars(a: Atomic): Seq[String] =
    Seq(a.head, a.tail).filter(_.isVar).map(_.name).distinct

  /** Join order of a conjunct's positive atoms (the driver-side planner of
    * SURVEY §4 — semantic DAG order is ours to pick, Catalyst only reorders
    * by stats it can see): constant-anchored atoms first; then, among atoms
    * sharing a variable with those already placed, any atom whose variables
    * are ALL already bound (a pure filter — it can only shrink the
    * frontier) before atoms that introduce a new variable (joins that can
    * grow it); ties by smallest relation cardinality `card`. With no
    * connected atom left, the next in constants-first order. Cyclic shapes
    * (3c/3cm/3pcp) benefit most: the cycle-closing edge lands right after
    * its endpoints bind instead of after another expansion. Result sets are
    * order-independent; only intermediate sizes change. */
  private def joinOrder(pos: Seq[Atomic], card: Atomic => Long): Seq[Atomic] = {
    val remaining = scala.collection.mutable.ListBuffer(
      pos.sortBy(a => (-Seq(a.head, a.tail).count(_.isConst), card(a))): _*)
    val bound = scala.collection.mutable.Set.empty[String]
    Seq.fill(pos.size) {
      val connected = remaining.filter(a => atomVars(a).exists(bound))
      val fullyBound = connected.filter(a => atomVars(a).forall(bound))
      val next =
        if (fullyBound.nonEmpty) fullyBound.minBy(card)
        else if (connected.nonEmpty) connected.minBy(card)
        else remaining.head
      remaining -= next
      bound ++= atomVars(next)
      next
    }
  }

  /** Plan one conjunct. Plain mode returns its answers as column `f` (one
    * row per satisfying assignment). Tagged mode returns
    * `(f, _in_full ∈ {0,1}, _in_easy ∈ {0,1})` per satisfying assignment:
    * an assignment is train-derivable iff every positive atom's edge is a
    * train edge AND no negated atom matches a train edge; it is a full
    * answer iff no negated atom matches any edge. (Train answers are NOT a
    * subset of full answers under negation: removing train edges can admit
    * new answers — both memberships are computed independently.) */
  private def evalCQ(edges: DataFrame, cq: CQ, b: Binding,
                     relStats: Map[Long, Long], tagged: Boolean): DataFrame = {
    require(cq.pos.nonEmpty, "conjunct needs at least one positive atom")
    val free = col(cq.freeVar.name).cast("long").as("f")
    // Tagged mode: the n-th atom framed (the positive ones in join order,
    // then the negated ones) carries its train flag as `_tr<n>`.
    var n = 0
    def frame(a: Atomic): DataFrame = {
      n += 1
      atomFrame(edges, a, b, if (tagged) Some(s"_tr$n") else None)
    }
    val order = joinOrder(cq.pos, a => relStats.getOrElse(b(a.rel), Long.MaxValue))
    var acc = order.tail.foldLeft(frame(order.head)) { (joined, a) =>
      val next = frame(a)
      val shared = next.columns.filter(joined.columns.contains).toSeq
      if (shared.nonEmpty) joined.join(next, shared)
      else {
        // Disconnected atom: broadcast it rather than let a
        // CartesianProduct re-scan both sides per partition pair — but
        // only when it is constant-anchored (one entity's adjacency list,
        // bounded by max degree; the case in every declared query type).
        // An unanchored disconnected atom is a full relation: broadcasting
        // that would blow the driver at scale, so it stays a plain cross
        // join and AQE picks the physical strategy.
        val anchored = Seq(a.head, a.tail).exists(_.isConst)
        joined.crossJoin(if (anchored) broadcast(next) else next)
      }
    }
    // Negated atoms (R4), joined on the atom's variables: plain mode
    // anti-joins; tagged mode left-joins the per-key (exists, any-train)
    // aggregate. A variable-free negated atom joins on no key: it filters
    // the whole conjunct (its frame already has at most one row).
    val negTr = cq.neg.map { a =>
      val keys = atomVars(a)
      require(keys.forall(acc.columns.contains),
        s"negated atom ${a.lstr} has variables unbound by positive atoms")
      val neg = frame(a)
      val tr = s"_tr$n"
      acc =
        if (!tagged) acc.join(neg, keys, "left_anti")
        else acc.join((if (keys.isEmpty) neg.drop("_const_hit")
                       else neg.groupBy(keys.map(col): _*).agg(max(col(tr)).as(tr)))
                        .withColumn(tr + "_ex", lit(1)), keys, "left")
      tr
    }
    if (!tagged) acc.select(free)
    else acc.select(free,
      negTr.map(t => col(t + "_ex").isNull).foldLeft(lit(true))(_ && _)
        .cast("int").as("_in_full"),
      negTr.map(t => coalesce(col(t), lit(0)) === 0)
        .foldLeft(cq.pos.indices.map(i => col(s"_tr${i + 1}") === 1).reduce(_ && _))(_ && _)
        .cast("int").as("_in_easy"))
  }

  /** DNF → per-conjunct plan → union (R3). */
  private def evalDnf(edges: DataFrame, f: Formula, b: Binding,
                      relStats: Map[Long, Long], tagged: Boolean): DataFrame =
    Normalize.toDnf(f).map(evalCQ(edges, _, b, relStats, tagged)).reduce(_ unionAll _)

  /** Evaluate a full formula: the union's distinct answers, output column
    * `f` (R5). */
  def evalFormula(edges: DataFrame, f: Formula, b: Binding,
                  relStats: Map[Long, Long] = Map.empty): DataFrame =
    evalDnf(edges, f, b, relStats, tagged = false).distinct()

  /** End-to-end: derive the KG edges from `dir` and answer the lstr query,
    * with cached relation-cardinality stats driving the atom order. */
  def run(spark: SparkSession, dir: String, lstr: String, b: Binding): DataFrame =
    evalFormula(KG.edges(spark, dir), Parser.parse(lstr), b,
                KG.relStats(spark, dir))

  /** Full-formula tagged evaluation over edges `(src, rel, dst, _tr)`: the
    * union's per-answer max of both memberships. Returns
    * `(f, in_full ∈ {0,1}, in_easy ∈ {0,1})`, one row per entity that is
    * an answer in EITHER KG. */
  def evalFormulaTagged(edgesT: DataFrame, f: Formula, b: Binding,
                        relStats: Map[Long, Long] = Map.empty): DataFrame =
    evalDnf(edgesT, f, b, relStats, tagged = true)
      .groupBy("f")
      .agg(max(col("_in_full")).as("in_full"),
           max(col("_in_easy")).as("in_easy"))
      .filter(col("in_full") === 1 || col("in_easy") === 1)
}

/** ANSI-SQL generator mirroring [[HardExec]] for the DuckDB oracle. */
object OracleSql {

  /** SQL for one conjunct: positive atoms as a self-join of `relName`,
    * negated atoms as correlated NOT EXISTS. */
  def cqSql(cq: CQ, b: Binding, relName: String = "edges"): String = {
    val varCol = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val conds = scala.collection.mutable.ListBuffer.empty[String]
    cq.pos.zipWithIndex.foreach { case (a, i) =>
      val al = s"a$i"
      conds += s"$al.rel = ${b(a.rel)}"
      def endpoint(t: Term, c: String): Unit =
        if (t.isConst) conds += s"$al.$c = ${b(t.name)}"
        else varCol.get(t.name) match {
          case Some(prev) => conds += s"$al.$c = $prev"
          case None       => varCol(t.name) = s"$al.$c"
        }
      endpoint(a.head, "src")
      endpoint(a.tail, "dst")
    }
    cq.neg.foreach { a =>
      def ep(t: Term, c: String): String =
        if (t.isConst) s"n.$c = ${b(t.name)}" else s"n.$c = ${varCol(t.name)}"
      conds += s"NOT EXISTS (SELECT 1 FROM $relName n WHERE n.rel = ${b(a.rel)} " +
        s"AND ${ep(a.head, "src")} AND ${ep(a.tail, "dst")})"
    }
    val free = cq.freeVar.name
    val from = cq.pos.indices.map(i => s"$relName a$i").mkString(", ")
    s"SELECT DISTINCT CAST(${varCol(free)} AS BIGINT) AS f FROM $from WHERE ${conds.mkString(" AND ")}"
  }

  /** Full-formula SQL (UNION dedups across conjuncts), with the KG CTE. */
  def formulaSql(lstr: String, b: Binding): String = {
    val cqs = Normalize.toDnf(Parser.parse(lstr))
    KG.edgesCte + cqs.map(cqSql(_, b)).mkString(" UNION ")
  }

  /** Formula SQL over an arbitrary edges-shaped relation, no CTE prefix —
    * building block for composed oracles (e.g. train/full workload eval). */
  def formulaSqlOver(lstr: String, b: Binding, relName: String): String =
    Normalize.toDnf(Parser.parse(lstr))
      .map(cqSql(_, b, relName)).mkString(" UNION ")
}
