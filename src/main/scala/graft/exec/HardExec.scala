package graft.exec

import org.apache.spark.sql.{DataFrame, GraftPlan, SparkSession}
import org.apache.spark.sql.catalyst.analysis.DeduplicateRelations
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast,
  Coalesce, EqualTo, Expression, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.Max
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, Distinct,
  Filter, HintInfo, Join, JoinHint, Limit, LogicalPlan, Project, Repartition, Union}
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.lang.{Atomic, CQ, Formula, Normalize, Parser, Term}
import graft.lang.Binding.Binding
import graft.model.KG

/** Hard-logic (0/1-score) EFO-1 evaluator.
  *
  * With hard scores the reference's soft semantics reduce to relational
  * algebra (SURVEY §2.3): atom = indexed scan (R1), conjunction on a shared
  * variable = equi-join (R2), disjunction = union (R3), negated atom =
  * anti-join (R4), existential elimination = project+distinct (R5).
  * This evaluator compiles a DNF'd formula into exactly that Catalyst plan,
  * and [[OracleSql]] emits the equivalent ANSI SQL from the same structure so
  * the two can never drift.
  *
  * One conjunct planner serves two modes. Plain mode answers over one edge
  * relation. Tagged mode answers over edges carrying a train flag `_tr`
  * and reports, per answer, membership in the full-KG and the train-KG
  * answer sets in one pass (the split evaluation of `eval.Workload`).
  * The modes share the atom plans and the join order; they differ only in
  * the negation step and the final projection.
  *
  * Scale design: the whole formula is built as one logical plan and
  * wrapped into a DataFrame once, so it is analyzed once per query, not
  * once per Dataset operator. Every atom is a filter on `rel` (+ constant
  * endpoint) over its own copy of the edges plan; Catalyst pushes both
  * into the parquet/cached scan. Joins are equi-joins on entity-id
  * columns, and the accumulated binding relation stays narrow (one BIGINT
  * column per variable). Join order is chosen greedily most-constants-first
  * so the most selective atoms anchor the plan. The physical strategy is
  * gated on the edges frame's own size estimate: when it is at most
  * `spark.sql.autoBroadcastJoinThreshold`, every atom after the first is
  * broadcast and every atom reads a one-partition coalesce of the edges, so
  * the query runs with no exchange but its broadcasts. Above the gate (or
  * with the threshold at -1) only anchored disconnected atoms are
  * broadcast, and AQE re-plans broadcast/skew at runtime.
  */
object HardExec {

  /** A plan under construction: the attribute of each variable it binds
    * and, in tagged mode, the train flag of each positive atom it joins. */
  private final case class Frame(plan: LogicalPlan, vars: Map[String, Attribute],
                                 flags: Seq[Attribute])

  /** `plan` with new ids for the attributes it produces (the idiom of
    * Spark's InlineCTE), so that each atom reads its own instance of the
    * edges and the self-joins are well formed whatever the edges plan's
    * root is. The cache manager matches plans canonically, so a copy of
    * a cached frame still reads its cached scan. */
  private def fresh(plan: LogicalPlan): LogicalPlan =
    DeduplicateRelations(Join(plan, plan, Inner, None, JoinHint.NONE)).children(1)

  /** Plan of an atom's variable bindings: one column per distinct
    * variable in the atom (R1: atom lookup). In tagged mode the edge's
    * train flag rides along.
    *
    * No per-atom `distinct()`: the edges relation is a *set* (KG.edges is
    * duplicate-free by construction), so each projection here is already
    * duplicate-free — and even with a duplicated input, the final
    * free-variable projection dedups, so results are unchanged; only join
    * multiplicity (perf) would suffer. Being duplicate-free also makes the
    * train flag well-defined per assignment. */
  private def atomFrame(edges: LogicalPlan, a: Atomic, b: Binding,
                        tagged: Boolean): Frame = {
    val e = fresh(edges)
    def c(name: String): Attribute = e.output.find(_.name == name).get
    val ends = Seq(a.head -> c("src"), a.tail -> c("dst"))
    val loop =
      if (a.head.isVar && a.head == a.tail) Seq(EqualTo(c("src"), c("dst"))) else Nil
    val matches = Filter((EqualTo(c("rel"), Literal(b(a.rel))) +: loop ++:
      ends.collect { case (t, at) if t.isConst => EqualTo(at, Literal(b(t.name))) })
      .reduce(And), e)
    val vars = ends.collect { case (t, at) if t.isVar => Alias(at, t.name)() }
      .distinctBy(_.name)
    val flag = if (tagged) Seq(c("_tr")) else Nil
    if (vars.nonEmpty)
      Frame(Project(vars ++ flag, matches), vars.map(v => v.name -> v.toAttribute).toMap,
            flag)
    else if (!tagged)
      // Constant–constant atom: zero or one row, so the conjunct holds or
      // fails as a whole.
      Frame(Limit(Literal(1), Project(Seq(Alias(Literal(1L), "_const_hit")()), matches)),
            Map.empty, Nil)
    else {
      // Zero-or-one row: grouped on a constant (empty input ⇒ no row ⇒ the
      // conjunct fails, like the untagged limit), with the match's flag.
      val tr = Alias(Max(c("_tr")).toAggregateExpression(), "_tr")()
      Frame(Aggregate(Seq(Literal(1L)), Seq(tr), matches), Map.empty, Seq(tr.toAttribute))
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

  /** Plan one conjunct over `edges`. Plain mode returns its answers as
    * column `f` (one row per satisfying assignment). Tagged mode returns
    * `(f, _in_full ∈ {0,1}, _in_easy ∈ {0,1})` per satisfying assignment:
    * an assignment is train-derivable iff every positive atom's edge is a
    * train edge AND no negated atom matches a train edge; it is a full
    * answer iff no negated atom matches any edge. (Train answers are NOT a
    * subset of full answers under negation: removing train edges can admit
    * new answers — both memberships are computed independently.) With
    * `small`, every atom after the first in join order is broadcast. */
  private def evalCQ(edges: LogicalPlan, cq: CQ, b: Binding, relStats: Map[Long, Long],
                     tagged: Boolean, small: Boolean): LogicalPlan = {
    require(cq.pos.nonEmpty, "conjunct needs at least one positive atom")
    val free = cq.freeVar.name
    cq.allAtoms.foreach(a => require(b.contains(a.rel), s"unbound relation ${a.rel}"))
    def frame(a: Atomic): Frame = atomFrame(edges, a, b, tagged)
    def join(l: Frame, r: Frame, keys: Seq[String], kind: JoinType, bcast: Boolean) =
      Join(l.plan, r.plan, kind,
           keys.map(v => EqualTo(l.vars(v), r.vars(v))).reduceOption(And),
           if (bcast) JoinHint(None, Some(HintInfo(Some(BROADCAST)))) else JoinHint.NONE)
    val order = joinOrder(cq.pos, a => relStats.getOrElse(b(a.rel), Long.MaxValue))
    var acc = order.tail.foldLeft(frame(order.head)) { (joined, a) =>
      val next = frame(a)
      val shared = atomVars(a).filter(joined.vars.contains)
      // A disconnected atom is broadcast rather than left to a
      // CartesianProduct that re-scans both sides per partition pair — but
      // above the gate only when it is constant-anchored (one entity's
      // adjacency list, bounded by max degree; the case in every declared
      // query type). An unanchored disconnected atom is a full relation:
      // broadcasting that at scale would blow the driver, so it stays a
      // plain cross join and AQE picks the physical strategy.
      val bcast = small || (shared.isEmpty && Seq(a.head, a.tail).exists(_.isConst))
      Frame(join(joined, next, shared, if (shared.isEmpty) Cross else Inner, bcast),
            next.vars ++ joined.vars, joined.flags ++ next.flags)
    }
    // Negated atoms (R4), joined on the atom's variables: plain mode
    // anti-joins; tagged mode left-joins the per-key (exists, any-train)
    // aggregate. A variable-free negated atom joins on no key: it filters
    // the whole conjunct (its plan already has at most one row).
    val negFlags = cq.neg.flatMap { a =>
      val keys = atomVars(a)
      require(keys.forall(acc.vars.contains),
        s"negated atom ${a.lstr} has variables unbound by positive atoms")
      val neg = frame(a)
      if (!tagged) {
        acc = acc.copy(plan = join(acc, neg, keys, LeftAnti, small))
        None
      } else {
        val (perKey, tr) =
          if (keys.isEmpty) (neg.plan, neg.flags.head)
          else {
            val anyTr = Alias(Max(neg.flags.head).toAggregateExpression(), "_tr")()
            (Aggregate(keys.map(neg.vars), keys.map(neg.vars) :+ anyTr, neg.plan),
             anyTr.toAttribute)
          }
        val ex = Alias(Literal(1), "_tr_ex")()
        val exists = neg.copy(plan = Project(perKey.output :+ ex, perKey))
        acc = acc.copy(plan = join(acc, exists, keys, LeftOuter, small))
        Some(tr -> ex.toAttribute)
      }
    }
    val f = Alias(Cast(acc.vars(free), LongType), "f")()
    def flag(conds: Seq[Expression], name: String) =
      Alias(Cast(conds.foldLeft(Literal(true): Expression)(And), IntegerType), name)()
    Project(
      if (!tagged) Seq(f)
      else Seq(f,
        flag(negFlags.map { case (_, ex) => IsNull(ex) }, "_in_full"),
        flag(acc.flags.map(EqualTo(_, Literal(1))) ++ negFlags.map {
               case (tr, _) => EqualTo(Coalesce(Seq(tr, Literal(0))), Literal(0))
             }, "_in_easy")),
      acc.plan)
  }

  /** Whether `edges` is broadcast-sized: its plan's own size estimate is
    * at most `spark.sql.autoBroadcastJoinThreshold` (no job runs for it;
    * the threshold -1 turns the gate off). */
  private def broadcastSized(edges: DataFrame): Boolean =
    edges.queryExecution.optimizedPlan.stats.sizeInBytes <=
      edges.sparkSession.sessionState.conf.autoBroadcastJoinThreshold

  /** DNF → per-conjunct plan → union (R3) → the mode's final step, built
    * as one plan and analyzed once. Below the gate the union is coalesced
    * to one partition, so the final distinct (or `groupBy(f)`) plans with
    * no exchange. */
  private def evalDnf(edges: DataFrame, f: Formula, b: Binding,
                      relStats: Map[Long, Long], tagged: Boolean): DataFrame = {
    val small = broadcastSized(edges)
    def oneTask(p: LogicalPlan) = if (small) Repartition(1, shuffle = false, p) else p
    val source = oneTask(edges.queryExecution.analyzed)
    val union = oneTask(
      Normalize.toDnf(f).map(evalCQ(source, _, b, relStats, tagged, small)) match {
        case Seq(one) => one
        case many => Union(many)
      })
    GraftPlan.frame(edges.sparkSession,
      if (!tagged) Distinct(union)
      else {
        // The union's per-answer max of both memberships.
        val Seq(fa, full, easy) = union.output
        val Seq(inFull, inEasy) = Seq(full -> "in_full", easy -> "in_easy").map {
          case (m, name) => Alias(Max(m).toAggregateExpression(), name)()
        }
        Filter(Or(EqualTo(inFull.toAttribute, Literal(1)),
                  EqualTo(inEasy.toAttribute, Literal(1))),
               Aggregate(Seq(fa), Seq(fa, inFull, inEasy), union))
      })
  }

  /** Evaluate a full formula: the union's distinct answers, output column
    * `f` (R5). */
  def evalFormula(edges: DataFrame, f: Formula, b: Binding,
                  relStats: Map[Long, Long] = Map.empty): DataFrame =
    evalDnf(edges, f, b, relStats, tagged = false)

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
