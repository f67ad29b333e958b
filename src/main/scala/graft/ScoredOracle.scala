package graft

import graft.score.{ConvE, Embeddings, KGEModel, NativeComplEx, NativeDistMult,
  NativeRescal, NativeRotatE, NativeSWTransE, NativeTransE, TransE}

/** DuckDB oracle SQL for the scored executor rows: the 20 `cqd_*` rows, the
  * 4 `lmpnn_*` rows and `eval_cqd_mrr`. Every row ranks the suppliers by a
  * KGE scorer over the seeded vectors of [[Embeddings.vecElem]], rendered
  * only through [[Embeddings.sqlVecElem]] and [[Embeddings.sqlVec]].
  *
  * Each statement is built from the same fragments:
  *  - `ev (id, v)`: every supplier entity with its seeded vector at the
  *    scorer's width;
  *  - per scorer, the score of a head h and a tail t (rows of `ev`) under a
  *    relation with vector r: an expression for TransE, DistMult, ComplEx,
  *    RotatE and RESCAL, a subquery for SWTransE (the sorted particle slices
  *    of each dimension) and ConvE (the seeded forward pass once per head);
  *  - the hop chain: `s0 (qid, e, sc)` holds each query's anchor at score 1;
  *    hop k scores every (head of s(k−1), entity) pair into `w_s$k` and
  *    keeps the existential max `s$k` = MAX(s(k−1).sc + w_s$k.sc) per
  *    query and entity, so one hop is 1p and three are 3p;
  *  - the tails: the top 10 (or top 3 per query) by score rounded to 5
  *    decimals, LMPNN's cosine against every entity, and the filtered
  *    MRR/Hits.
  *
  * The generator matches on the scorer value only to pick a fragment; each
  * fragment is the scorer's formula written out in SQL, not read from
  * `score/KGE` or the executors, so the oracle stays independent of the
  * code it checks. ConvE's seeded weight constants are the one thing the
  * two share: they are the model's parameters, not its arithmetic. */
private[graft] final class ScoredOracle(dim: Int, entSeed: Double,
                                        relSeed: Double) {
  import ScoredOracle._

  /** Top 10 of the chain anchor →r1 e1 →r2 … →rk f. */
  def chain(m: KGEModel, anchor: Long, rels: Long*): String =
    query(entWidth(m), hops(m, Seq(anchor), rels),
      top(10, s"SELECT e AS entity, sc AS score FROM s${rels.size}"))

  /** The same chain from each of `anchors` (query q from anchors(q)): the
    * top 3 of each query. */
  def chainTop3(m: KGEModel, anchors: Seq[Long], rels: Long*): String =
    query(entWidth(m), hops(m, anchors, rels),
      top(3, s"SELECT qid, e AS entity, sc AS score FROM s${rels.size}",
          perQuery = true))

  /** Filtered MRR and Hits@1/3/10 of each query's chain ranking. Query q's
    * answers are the entities ≡ q (mod 7), hard when ≡ 0 (mod 3); a hard
    * answer's filtered rank skips every answer ranked above it. */
  def chainMrr(m: KGEModel, anchors: Seq[Long], rels: Long*): String =
    query(entWidth(m), hops(m, anchors, rels) ++ Seq(
      s"""rk AS (SELECT qid, e AS entity,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sc DESC, e) - 1 AS rnk
         |  FROM s${rels.size})""".stripMargin,
      """ans AS (SELECT qid, entity, rnk, (entity % 3 = 0) AS is_hard FROM rk
        |  WHERE entity % 7 = qid % 7)""".stripMargin,
      """marked AS (SELECT qid, entity, rnk, is_hard,
        |    COALESCE(SUM(CASE WHEN NOT is_hard THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY qid ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ne,
        |    COALESCE(SUM(CASE WHEN is_hard THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY qid ORDER BY rnk ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nh
        |  FROM ans)""".stripMargin,
      "fr AS (SELECT qid, rnk - ne - nh AS f FROM marked WHERE is_hard)"),
      """SELECT CAST(qid AS BIGINT) AS qid,
        |       ROUND(AVG(1.0 / (1 + f)), 6) AS mrr,
        |       ROUND(AVG(CASE WHEN f < 1 THEN 1.0 ELSE 0.0 END), 6) AS hits1,
        |       ROUND(AVG(CASE WHEN f < 3 THEN 1.0 ELSE 0.0 END), 6) AS hits3,
        |       ROUND(AVG(CASE WHEN f < 10 THEN 1.0 ELSE 0.0 END), 6) AS hits10
        |FROM fr GROUP BY qid""".stripMargin)

  /** Top 10 of a1 →r1 f ∧ ¬(a2 →r2 f): the negated atom's score enters
    * with its sign flipped, 1 + s1 + (1 − s2). */
  def negated(m: KGEModel, pos: (Long, Long), neg: (Long, Long)): String =
    star(m, Seq(pos, neg)) { case Seq(p, n) => s"2 + $p - ($n)" }

  /** Top 10 of the disjunction of the atoms (anchor, relation) on f: the
    * max of their 1p scores. */
  def union(m: KGEModel, atoms: (Long, Long)*): String =
    star(m, atoms)(_.map("1 + " + _).mkString("GREATEST(", ", ", ")"))

  /** Top 10 of the conjunction of the atoms under the Gödel t-norm: the
    * min of their scores, each capped at 1. */
  def godel(m: KGEModel, atoms: (Long, Long)*): String =
    star(m, atoms)(_.map(w => s"LEAST(1.0, $w)").mkString("LEAST(", ", ", ")"))

  /** Top 10 of the cyclic query r1(a1,e1) ∧ r2(e1,f) ∧ r3(a2,e2) ∧ r4(e2,f)
    * ∧ r5(e1,e2) under the beam search's elimination order e1, e2, f: e1
    * keeps its best `beam` from a1; e2 adds its a2 hop to the cycle edge
    * from the e1 beam and keeps its best `beam`; f sums its two path hops. */
  def cycle(m: KGEModel, beam: Int, anchors: (Long, Long), rels: Long*): String = {
    val Seq(r1, r2, r3, r4, r5) = rels
    def keep(name: String, from: String) =
      s"""$name AS (SELECT qid, e, sc FROM (
         |  SELECT *, ROW_NUMBER() OVER (ORDER BY sc DESC, e) AS rn FROM $from) b
         |  WHERE rn <= $beam)""".stripMargin
    query(entWidth(m),
      Seq(start("a1", Seq(anchors._1)), start("a2", Seq(anchors._2))) ++
        hop(m, "x1", "a1", r1) ++ Seq(keep("b1", "x1")) ++
        hop(m, "x2", "a2", r3) ++ hop(m, "y2", "b1", r5) ++
        Seq(keep("b2", "(SELECT qid, e, x2.sc + y2.sc AS sc FROM x2 JOIN y2 USING (qid, e))")) ++
        hop(m, "fa", "b1", r2) ++ hop(m, "fb", "b2", r4),
      top(10, "SELECT e AS entity, fa.sc + fb.sc AS score FROM fa JOIN fb USING (qid, e)"))
  }

  /** LMPNN's answer: each query's free-node state in closed form (query q
    * is `states(q)`), through the update net, scored by its cosine with
    * every entity. */
  def lmpnn(net: Net, states: String*): String = {
    val x = states.zipWithIndex.map { case (v, q) =>
      s"SELECT CAST($q AS BIGINT) AS qid, $v AS v"
    }.mkString("x AS (", "\n  UNION ALL ", ")")
    val m = net match {
      case Net.Plain => Seq("m AS (SELECT qid, v FROM x)")
      // The ReLU MLP with weights w(i, j) = sin((i·dim + j + 1)·0.013 + 2.2).
      case Net.Mlp => Seq(
        s"""m AS (SELECT qid, list_transform(generate_series(0, ${dim - 1}), j -> greatest(0.0,
           |    list_sum(list_transform(generate_series(0, ${dim - 1}), i ->
           |      v[i + 1] * SIN((i * $dim + j + 1) * 0.013 + 2.2))))) AS v FROM x)""".stripMargin)
      // The bias-only entity projection Σ_e relu(0.05·⟨x, v_e⟩ + 0.01)·v_e.
      case Net.Bias => Seq(
        """sc AS (SELECT x.qid, ev.id,
          |    GREATEST(0.0, 0.05 * list_dot_product(x.v, ev.v) + 0.01) AS s
          |  FROM x CROSS JOIN ev)""".stripMargin,
        s"""mk AS (SELECT sc.qid, ks.k, SUM(sc.s * ev.v[ks.k]) AS mv
           |  FROM sc JOIN ev ON sc.id = ev.id,
           |    (SELECT UNNEST(generate_series(1, $dim)) AS k) ks
           |  GROUP BY sc.qid, ks.k)""".stripMargin,
        "m AS (SELECT qid, LIST(mv ORDER BY k) AS v FROM mk GROUP BY qid)")
    }
    query(dim, x +: m,
      s"""SELECT m.qid, ev.id AS entity,
         |  ROUND(list_dot_product(m.v, ev.v) /
         |        (SQRT(list_dot_product(m.v, m.v)) * SQRT(list_dot_product(ev.v, ev.v))), 5) AS score
         |FROM m CROSS JOIN ev""".stripMargin)
  }

  /** An LMPNN free-node state in closed form: `vv` times the variable init
    * sin(0.5), then each term's signed multiple (written "+ 2 *") of a
    * seeded vector ([[ent]], [[rel]]). */
  def state(vv: Double, terms: (String, String)*): String =
    s"list_transform(generate_series(1, $dim), j -> $vv * SIN(0.5)" +
      terms.map { case (c, v) => s"\n    $c ($v)[j]" }.mkString + ")"

  def ent(id: Long): String = Embeddings.sqlVec(id.toString, dim, entSeed)
  def rel(id: Long): String = Embeddings.sqlVec(id.toString, dim, relSeed)

  private def entWidth(m: KGEModel): Int = widths(m, dim)._1

  /** `ev` and `ctes`, then `body`. */
  private def query(width: Int, ctes: Seq[String], body: String): String =
    (s"""ev AS (SELECT id, ${Embeddings.sqlVec("id", width, entSeed)} AS v
        |  FROM (SELECT CAST(400000000 + s_suppkey AS BIGINT) AS id FROM supplier) s)""".stripMargin
      +: ctes).mkString("WITH ", ",\n", "\n") + body

  /** `name (qid, e, sc)`: query q's anchor at score 1. */
  private def start(name: String, anchors: Seq[Long]): String =
    s"$name AS (SELECT * FROM (VALUES " + anchors.zipWithIndex.map {
      case (a, q) => s"($q, $a, 1)"
    }.mkString(", ") + ") v(qid, e, sc))"

  /** `w_$name`, the score under `rel` of every (head of `prev`, entity)
    * pair, and `name`, each query's existential max per entity. */
  private def hop(m: KGEModel, name: String, prev: String, rel: Long): Seq[String] = Seq(
    s"w_$name AS (${pairs(m, rel, s"(SELECT DISTINCT e FROM $prev)")})",
    s"""$name AS (SELECT p.qid, w.e, MAX(p.sc + w.sc) AS sc
       |  FROM $prev p JOIN w_$name w ON w.e1 = p.e GROUP BY p.qid, w.e)""".stripMargin)

  private def hops(m: KGEModel, anchors: Seq[Long], rels: Seq[Long]): Seq[String] =
    start("s0", anchors) +: rels.zipWithIndex.flatMap { case (r, k) =>
      hop(m, s"s${k + 1}", s"s$k", r)
    }

  /** Top 10 of `combine` over the atoms' scores `w$j.sc`; atom j is
    * (anchor, relation) on f. */
  private def star(m: KGEModel, atoms: Seq[(Long, Long)])(
      combine: Seq[String] => String): String =
    query(entWidth(m),
      atoms.zipWithIndex.map { case ((a, r), j) =>
        s"w$j AS (${pairs(m, r, s"(SELECT $a AS e)")})"
      },
      top(10, s"SELECT e AS entity, ${combine(atoms.indices.map(j => s"w$j.sc"))} AS score " +
        "FROM w0" + atoms.indices.tail.map(j => s" JOIN w$j USING (e)").mkString))

  /** The top `k` (per query) by score rounded to 5 decimals, ties by entity. */
  private def top(k: Int, scores: String, perQuery: Boolean = false): String = {
    val (q, by) = if (perQuery) ("qid, ", "PARTITION BY qid ") else ("", "")
    s"""SELECT ${q}entity, score FROM (
       |  SELECT ${q}entity, ROUND(score, 5) AS score,
       |         ROW_NUMBER() OVER (${by}ORDER BY ROUND(score, 5) DESC, entity) AS rn
       |  FROM ($scores) sc) t
       |WHERE rn <= $k""".stripMargin
  }

  /** `(e1, e, sc)`: the score under `rel` of each head `e1` of `heads (e)`
    * against every entity `e`; h and t are their `ev` rows, r.v the
    * relation's vector. */
  private def pairs(m: KGEModel, rel: Long, heads: String): String = {
    val from = s"$heads p JOIN ev h ON h.id = p.e\n    CROSS JOIN (SELECT " +
      s"${Embeddings.sqlVec(rel.toString, widths(m, dim)._2, relSeed)} AS v) r"
    m match {
      case sw: NativeSWTransE => sliced(sw.particles, from)
      case _: ConvE           => conve(from)
      case _ =>
        s"SELECT h.id AS e1, t.id AS e, ${expr(m, rel)} AS sc\n  FROM $from CROSS JOIN ev t"
    }
  }

  /** The expression scorers: elementwise on the seeded vectors of the ids
    * h.id, rel and t.id; RESCAL's contraction on the lists h.v, r.v, t.v. */
  private def expr(m: KGEModel, rel: Long): String = {
    def h(i: Int) = Embeddings.sqlVecElem("h.id", i, entSeed)
    def t(i: Int) = Embeddings.sqlVecElem("t.id", i, entSeed)
    def r(i: Int) = Embeddings.sqlVecElem(rel.toString, i, relSeed)
    val d = dim / 2 // complex vectors: re in [0, d), im in [d, dim)
    m match {
      case NativeTransE | TransE(2.0) => // −‖h + r − t‖₂
        (0 until dim).map(i => s"POWER(${h(i)} + ${r(i)} - ${t(i)}, 2)")
          .mkString("-SQRT(", " + ", ")")
      case NativeDistMult => // −Σ h·r·t
        (0 until dim).map(i => s"${h(i)} * ${r(i)} * ${t(i)}").mkString("-(", " + ", ")")
      case NativeComplEx => // Re⟨h ∘ r, conj t⟩
        (0 until d).map { i =>
          s"(${h(i)} * ${r(i)} - ${h(i + d)} * ${r(i + d)}) * ${t(i)} + " +
            s"(${h(i)} * ${r(i + d)} + ${h(i + d)} * ${r(i)}) * ${t(i + d)}"
        }.mkString(" + ")
      case NativeRotatE => // ‖h ∘ e^{iθ} − t‖₂, θ the d relation phases
        (0 until d).map { i =>
          val (c, s) = (s"COS(${r(i)})", s"SIN(${r(i)})")
          s"POWER((${h(i)} * $c - ${h(i + d)} * $s - ${t(i)}), 2) + " +
            s"POWER((${h(i)} * $s + ${h(i + d)} * $c - ${t(i + d)}), 2)"
        }.mkString("SQRT(", " + ", ")")
      case NativeRescal => // hᵀ W t, W the relation's dim × dim matrix
        s"list_sum(list_transform(generate_series(0, ${dim - 1}), j -> " +
          s"list_sum(list_transform(generate_series(0, ${dim - 1}), i -> " +
          s"h.v[i + 1] * r.v[i * $dim + j + 1])) * t.v[j + 1]))"
      case other => throw new IllegalArgumentException(s"no oracle for $other")
    }
  }

  /** SWTransE: per dimension i, the head's `p` particles translated by
    * r_i and the tail's, each sorted; minus the sum over dimensions of
    * their L2 distances. */
  private def sliced(p: Int, from: String): String =
    s"""SELECT e1, e, -SUM(POWER(list_sum(list_transform(generate_series(1, $p),
       |    k -> POWER(ABS(est[k] - tl[k]), 2))), 0.5)) AS sc
       |  FROM (SELECT h.id AS e1, t.id AS e,
       |      list_sort(list_transform(h.v[d.i * $p + 1 : d.i * $p + $p], x -> x + r.v[d.i + 1])) AS est,
       |      list_sort(t.v[d.i * $p + 1 : d.i * $p + $p]) AS tl
       |    FROM $from CROSS JOIN ev t
       |    CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${dim / p - 1})) AS i) d) sw
       |  GROUP BY e1, e""".stripMargin

  /** ConvE at dim 9 (2×4 planes, 32 3×3 filters, a 2×2 output each, so 128
    * flat features): stack h over r, convolve, ReLU, project to 8, ReLU,
    * prepend the bias dimension 1; the score is ⟨est, t⟩. Flat index fi:
    * filter fi // 4, output cell ((fi % 4) // 2, fi % 2); kernel index kk:
    * cell (kk // 3, kk % 3); input row y < 2 reads h, else r (1-based lists
    * past the bias element). The forward pass runs once per head. */
  private def conve(from: String): String = {
    import ConvE._
    val y = "((fi % 4) // 2 + kk // 3)"
    val x = "(fi % 2 + kk % 3)"
    s"""SELECT e1, t.id AS e, list_dot_product(est, t.v) AS sc
       |  FROM (SELECT e1, list_concat([CAST(1 AS DOUBLE)],
       |      list_transform(generate_series(0, 7), j ->
       |        GREATEST(SIN((j + 1) * 0.013 + $ProjBSeed) * $ProjBScale +
       |          list_sum(list_transform(generate_series(0, 127), i ->
       |            SIN((j * 128 + i + 1) * 0.013 + $ProjWSeed) * $ProjWScale * f[i + 1])),
       |          0))) AS est
       |    FROM (SELECT h.id AS e1, list_transform(generate_series(0, 127), fi ->
       |        GREATEST(SIN((fi // 4 + 1) * 0.013 + $ConvBSeed) * $ConvBScale +
       |          list_sum(list_transform(generate_series(0, 8), kk ->
       |            SIN(((fi // 4) * 9 + kk + 1) * 0.013 + $ConvWSeed) * $ConvWScale *
       |            (CASE WHEN $y < 2 THEN h.v[2 + $y * 4 + $x]
       |                  ELSE r.v[2 + ($y - 2) * 4 + $x] END))),
       |          0)) AS f
       |      FROM $from) fl) es
       |  CROSS JOIN ev t""".stripMargin
  }
}

private[graft] object ScoredOracle {

  /** The entity and relation vector widths the rows give scorer `m` when
    * entities are `dim` wide: ConvE is 9 wide throughout; RotatE's
    * relations are dim/2 phases, SWTransE's dim/particles translations
    * and RESCAL's a dim × dim matrix. */
  def widths(m: KGEModel, dim: Int): (Int, Int) = m match {
    case c: ConvE           => (c.dim, c.dim)
    case NativeRotatE       => (dim, dim / 2)
    case sw: NativeSWTransE => (dim, dim / sw.particles)
    case NativeRescal       => (dim, dim * dim)
    case _                  => (dim, dim)
  }

  /** LMPNN's update net after the last superstep: none, the ReLU MLP, or
    * the bias-only entity projection. */
  sealed trait Net
  object Net {
    case object Plain extends Net
    case object Mlp extends Net
    case object Bias extends Net
  }
}
