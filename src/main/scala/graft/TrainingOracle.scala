package graft

import graft.functions.PortableHash
import graft.model.KG
import graft.score.Embeddings
import graft.score.Training.{Model, Optimizer}

/** DuckDB oracle SQL for the KGE training and eval rows: one CTE chain
  * that every model, optimizer, step count, negative draw and eval
  * variant shares.
  *
  * The chain writes the trainer's plan out in SQL:
  *  - the prologue: `te` (the training edges), `en` (their entities), `ix`
  *    (the entities' 1-based index in id order);
  *  - the negative draw into `ed` (src, rel, dst, neg[, mb]): the cyclic
  *    next entity, or the md5₆₀("src|rel|dst") draw; `mb` is the epoch's
  *    mini-batch, md5₆₀("src|rel|dst") mod batches;
  *  - the initial state `e0` (kind, id, i, x), x = sin((id mod 9973 + 1)·
  *    i·0.017 + seed);
  *  - per step k: the state joins (`dm$k`), the hinge sums (`sc$k`), the
  *    active-hinge rows (`vd$k`), the gradient contributions (`ct$k`) and
  *    their scatter-add (`gs$k`), the optimizer's state (`st$k`) and the
  *    updated state `e$k`;
  *  - the eval tail: micro-int vectors per kind (`v_<kind>`), the per-edge
  *    estimate (`hx`), candidate scores (`dd`), the true tail's score
  *    (`tr2`), ranks (`rk`) and the per-relation summary.
  *
  * Each model's fragments come from the model's math, not from
  * `score/Training.scala`: the generator reads the `Model` and `Optimizer`
  * values only to pick a fragment, so the oracle stays independent of the
  * code it checks. Plain SGD is the float update for TransE and the
  * integer-micro update for the multiplicative models, as in the trainer's
  * contract. Every state and score sits on a grid both engines replay
  * exactly (each row's comment in [[PipelineQueries]] says how). */
private[graft] final class TrainingOracle(dim: Int, entSeed: Double,
                                          relSeed: Double) {
  import TrainingOracle._

  /** The oracle SQL of `steps` steps of `model` under `optimizer`;
    * `batches` > 0 runs step k over mini-batch k−1 (then `batches` must
    * equal `steps`). Without `eval` the result is the trained state
    * (kind, id, pos, x); with it, the per-relation rank summary. */
  def sql(model: Model, optimizer: Optimizer = Optimizer.Sgd, steps: Int = 1,
          hashNeg: Boolean = false, batches: Int = 0,
          eval: Option[Eval] = None): String = {
    require(steps > 0 && (batches == 0 || batches == steps),
            s"steps $steps, batches $batches")
    val f = fragments(model)
    val ctes = prologue(hashNeg, batches) ++ Seq(initial(f.kinds)) ++
      (1 to steps).flatMap { k =>
        step(f, k, batches > 0) ++ update(model, optimizer, k)
      }
    val (tail, result) = eval match {
      case None =>
        (Nil, s"SELECT kind, id, CAST(i - 1 AS BIGINT) AS pos, x FROM e$steps")
      case Some(ev) => ranked(f, s"e$steps", ev)
    }
    KG.edgesCte.trim + ",\n" + (ctes ++ tail).mkString(",\n") + "\n" + result
  }

  private def seed(kind: String): Double =
    (if (kind.startsWith("rel")) relSeed else entSeed) +
      (if (kind.endsWith("_im")) ImOffset else 0.0)

  private def prologue(hashNeg: Boolean, batches: Int): Seq[String] = {
    val mb = if (batches > 0) s",\n    ${tripleHash} % $batches AS mb" else ""
    val draw =
      if (hashNeg) Seq(
        "cnt AS (SELECT COUNT(*) AS n FROM en)",
        s"hn AS (SELECT src, rel, dst, ${tripleHash} % n AS h FROM te CROSS JOIN cnt)",
        s"""ed AS MATERIALIZED (SELECT hn.src, hn.rel, hn.dst,
           |    CASE WHEN b1.id <> hn.dst THEN b1.id ELSE b2.id END AS neg$mb
           |  FROM hn CROSS JOIN cnt
           |  JOIN ix b1 ON b1.i - 1 = hn.h
           |  JOIN ix b2 ON b2.i - 1 = (hn.h + 1) % cnt.n)""".stripMargin)
      else Seq(
        """neg AS (SELECT a.id AS dst, b.id AS neg FROM ix a JOIN ix b
          |  ON a.i % (SELECT COUNT(*) FROM en) + 1 = b.i)""".stripMargin,
        s"ed AS MATERIALIZED (SELECT src, rel, dst, neg$mb FROM te JOIN neg USING (dst))")
    Seq(
      s"""te AS (SELECT src, rel, dst FROM edges
         |  WHERE rel IN (${KG.REL_SUPP_NATION}, ${KG.REL_NATION_REGION}))""".stripMargin,
      "en AS (SELECT DISTINCT id FROM (SELECT src AS id FROM te UNION SELECT dst FROM te) u)",
      "ix AS (SELECT id, ROW_NUMBER() OVER (ORDER BY id) AS i FROM en)") ++ draw
  }

  private def initial(kinds: Seq[String]): String =
    "e0 AS MATERIALIZED (" + kinds.map { k =>
      val ids = if (k.startsWith("rel")) "(SELECT DISTINCT rel AS id FROM te) tr"
                else "en"
      s"""SELECT '$k' AS kind, id, i,
         |    ${Embeddings.sqlElem("id", "i", seed(k))} AS x
         |  FROM $ids CROSS JOIN generate_series(1, $dim) g(i)""".stripMargin
    }.mkString("\n  UNION ALL ") + ")"

  /** Step k's gradient chain, `dm$k` to `gs$k`, from state e(k−1). */
  private def step(f: Fragments, k: Int, batched: Boolean): Seq[String] = {
    val p = s"e${k - 1}"
    val first = f.roles.head._1
    val joins = f.roles.map { case (a, kind, key) =>
      s"JOIN $p $a ON $a.kind = '$kind' AND $a.id = ed.$key" +
        (if (a == first) "" else s" AND $a.i = $first.i")
    }
    val where = if (batched) s"\n    WHERE ed.mb = ${k - 1}" else ""
    Seq(
      s"""dm$k AS MATERIALIZED (SELECT *${f.derived.map(",\n    " + _).mkString}
         |  FROM (SELECT ed.src, ed.rel, ed.dst, ed.neg, $first.i,
         |      ${f.cols.mkString(",\n      ")}
         |    FROM ed
         |    ${joins.mkString("\n    ")}$where) j)""".stripMargin,
      s"sc$k AS (SELECT src, rel, dst, neg, ${f.sums} FROM dm$k GROUP BY 1, 2, 3, 4)",
      s"""vd$k AS (SELECT dm$k.*${f.signs.map(", " + _).mkString} FROM dm$k JOIN
         |  (SELECT src, rel, dst, neg FROM sc$k WHERE ${f.margin}) vi$k
         |  USING (src, rel, dst, neg))""".stripMargin,
      s"ct$k AS (" + f.grads.map { case (kind, id, g) =>
        s"SELECT '$kind' AS kind, $id AS id, i, $g AS g FROM vd$k"
      }.mkString("\n  UNION ALL ") + ")",
      s"gs$k AS (SELECT kind, id, i, SUM(g) AS g FROM ct$k GROUP BY 1, 2, 3)")
  }

  /** Step k's optimizer state `st$k` (if it keeps one) and state `e$k`. */
  private def update(model: Model, optimizer: Optimizer, k: Int): Seq[String] = {
    val p = s"e${k - 1}"
    // The state after step k: from gs1 alone at k = 1, else the full outer
    // join of st(k−1) and gs$k (either side may miss a parameter).
    def state(first: String, next: String) =
      if (k == 1) s"st1 AS MATERIALIZED (SELECT kind, id, i, $first FROM gs1)"
      else s"""st$k AS MATERIALIZED (SELECT kind, id, i, $next
              |  FROM st${k - 1} FULL JOIN gs$k USING (kind, id, i))""".stripMargin
    // The floor-quantized micro step: untouched cells pinned to the micro grid.
    def microStep(by: String, delta: String) =
      s"""CASE WHEN COALESCE($by, 0) = 0 THEN CAST($MicroX AS DOUBLE) / 1000000
         |      ELSE CAST($MicroX - $delta AS DOUBLE) / 1000000 END""".stripMargin
    val (st, x, from) = optimizer match {
      case Optimizer.Sgd if model == Model.TransE =>
        (None, s"ROUND(x - $Lr * COALESCE(g, 0), 6)", Seq(s"gs$k"))
      case Optimizer.Sgd =>
        // micro(x) − lr·g/10⁶ (g in micro² units) rounded half away from
        // zero, in exact integers scaled by 10¹¹ (lr·10¹¹ = 3125).
        val num = s"($MicroX * 100000000000 - COALESCE(g, 0) * 3125)"
        (None, s"CAST(CAST(SIGN($num) AS BIGINT) * ((ABS($num) + 50000000000)" +
          " // 100000000000) AS DOUBLE) / 1000000", Seq(s"gs$k"))
      case Optimizer.Momentum(mu) =>
        (Some(state("CAST(g AS DOUBLE) AS v",
                    s"COALESCE(v, 0) * $mu + COALESCE(g, 0) AS v")),
         s"ROUND(x - $Lr * COALESCE(v, 0), 6)", Seq(s"st$k"))
      case Optimizer.Adagrad =>
        (Some(state("g * g AS a",
                    "COALESCE(a, 0) + COALESCE(g, 0) * COALESCE(g, 0) AS a")),
         microStep("g", s"CAST(g AS BIGINT) * CAST(FLOOR($LrMicro / SQRT(a)) AS BIGINT)"),
         Seq(s"gs$k", s"st$k"))
      case Optimizer.Adam =>
        val bc = 1.0 - math.pow(0.5, k) // bias correction 1 − 2⁻ᵏ
        (Some(state("0.5 * g AS m, 0.5 * g * g AS w",
                    """COALESCE(m, 0) * 0.5 + COALESCE(g, 0) * 0.5 AS m,
                      |    COALESCE(w, 0) * 0.5 + COALESCE(g, 0) * COALESCE(g, 0) * 0.5 AS w"""
                      .stripMargin)),
         microStep("m", s"CAST(SIGN(m) AS BIGINT) * " +
           s"CAST(FLOOR($LrMicro * ABS(m) / $bc / SQRT(w / $bc)) AS BIGINT)"),
         Seq(s"st$k"))
      case other => throw new IllegalArgumentException(s"no oracle for $other")
    }
    st.toSeq :+
      s"""e$k AS MATERIALIZED (SELECT kind, id, i,
         |    $x AS x
         |  FROM $p ${from.map(t => s"LEFT JOIN $t USING (kind, id, i)").mkString(" ")})"""
        .stripMargin
  }

  /** Tail ranks of every training edge under state `e`, and their summary. */
  private def ranked(f: Fragments, e: String, ev: Eval): (Seq[String], String) = {
    val (ents, rels) = f.kinds.partition(!_.startsWith("rel"))
    val vecs = f.kinds.map(k =>
      s"v_$k AS (SELECT id, i, $MicroX AS xi FROM $e WHERE kind = '$k')")
    val heads = ents.zipWithIndex.map { case (k, j) =>
      s"JOIN v_$k h$j ON h$j.id = te.src" + (if (j > 0) s" AND h$j.i = h0.i" else "")
    } ++ rels.zipWithIndex.map { case (k, j) =>
      s"JOIN v_$k r$j ON r$j.id = te.rel AND r$j.i = h0.i"
    }
    // Candidate vectors joined onto hx; `on` pins the first to one id.
    def cands(on: String) = ents.zipWithIndex.map { case (k, j) =>
      if (j == 0) s"JOIN v_$k c0 ON ${on}c0.i = hx.i"
      else s"JOIN v_$k c$j ON c$j.id = c0.id AND c$j.i = hx.i"
    }.mkString(" ")
    val sample =
      if (ev.candMod == 1) ""
      else s"\n  WHERE ${PortableHash.md5Prefix60Sql("CAST(c0.id AS VARCHAR)")}" +
        s" % ${ev.candMod} = 0"
    val known =
      if (!ev.filtered) ""
      else """
             |      AND NOT EXISTS (SELECT 1 FROM te WHERE te.src = q.src
             |        AND te.rel = q.rel AND te.dst = q.cand)""".stripMargin
    val ctes = vecs ++ Seq(
      s"""hx AS MATERIALIZED (SELECT te.src, te.rel, te.dst, h0.i,
         |    ${f.est.zip(Seq("re", "im")).map { case (x, n) => s"$x AS $n" }.mkString(",\n    ")}
         |  FROM te ${heads.mkString("\n    ")})""".stripMargin,
      s"""dd AS MATERIALIZED (SELECT hx.src, hx.rel, hx.dst, c0.id AS cand,
         |    SUM(${f.score}) AS s
         |  FROM hx ${cands("")}$sample
         |  GROUP BY 1, 2, 3, 4)""".stripMargin,
      s"""tr2 AS (SELECT hx.src, hx.rel, hx.dst, SUM(${f.score}) AS st
         |  FROM hx ${cands("c0.id = hx.dst AND ")} GROUP BY 1, 2, 3)""".stripMargin,
      s"""rk AS (SELECT q.src, q.rel, q.dst,
         |    1 + SUM(CASE WHEN (q.s ${if (f.lowerWins) "<" else ">"} tr2.st
         |                       OR (q.s = tr2.st AND q.cand < q.dst))$known
         |                 THEN 1 ELSE 0 END) AS rank
         |  FROM dd q JOIN tr2 USING (src, rel, dst)
         |  WHERE q.cand <> q.dst GROUP BY 1, 2, 3)""".stripMargin)
    val hits = ev.hits.map(h => s",\n       ROUND(SUM(CASE WHEN rank <= $h " +
      s"THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS hits$h").mkString
    (ctes, s"""SELECT rel, COUNT(*) AS n,
              |       ROUND(SUM(ROUND(1000000.0 / rank, 0)) / 1e6 / COUNT(*), 6) AS mrr$hits
              |FROM rk GROUP BY rel""".stripMargin)
  }
}

private[graft] object TrainingOracle {

  /** An eval variant: the hits@k columns, the filtered protocol (a known
    * true tail leaves the candidate pool) and the sampled candidate share
    * (md5₆₀(id) mod `candMod` = 0). */
  final case class Eval(hits: Seq[Int], filtered: Boolean = false,
                        candMod: Int = 1)

  /** The im part of an id's vector under seed s is its vector under
    * s + ImOffset. */
  private val ImOffset = 2.0
  private val Lr = "0.03125"           // 2⁻⁵
  private val LrMicro = "31250.0"      // Lr · 10⁶
  private val MicroX = micro("x")
  private def micro(x: String) = s"CAST(ROUND($x * 1000000, 0) AS BIGINT)"
  private def cosMicro(th: String) =
    s"CAST(ROUND(COS($th / 1000000.0) * 1000000, 0) AS BIGINT)"
  private def sinMicro(th: String) =
    s"CAST(ROUND(SIN($th / 1000000.0) * 1000000, 0) AS BIGINT)"
  private val tripleHash = PortableHash.md5Prefix60Sql(
    "CAST(src AS VARCHAR) || '|' || CAST(rel AS VARCHAR) || '|' || CAST(dst AS VARCHAR)")

  /** One model's SQL fragments.
    *  - `kinds`: its state kinds, entity kinds before relation kinds;
    *  - `roles`: (alias, kind, `ed` column) of each state join in `dm$k`,
    *    and `cols`, the values `dm$k` reads from them; `derived`, columns
    *    computed from those values;
    *  - `sums` and `margin`: the hinge sums and the active-hinge test;
    *  - `signs`: extra `vd$k` columns; `grads`: (kind, id, gradient) rows
    *    of the scatter-add;
    *  - eval: `est`, the per-edge estimate (re[, im]) over head vectors
    *    h0/h1 and relation vectors r0/r1; `score`, a candidate c0/c1's
    *    score against it; `lowerWins`, the ranking direction. */
  private final case class Fragments(
      kinds: Seq[String], roles: Seq[(String, String, String)],
      cols: Seq[String], derived: Seq[String], sums: String, margin: String,
      signs: Seq[String], grads: Seq[(String, String, String)],
      est: Seq[String], score: String, lowerWins: Boolean)

  // Head, tail and negative-tail roles of a complex state (re, im each).
  private val complexRoles = Seq(
    ("a", "ent_re", "src"), ("b", "ent_im", "src"),
    ("e", "ent_re", "dst"), ("f", "ent_im", "dst"),
    ("ep", "ent_re", "neg"), ("fp", "ent_im", "neg"))
  private def microCols(as: Seq[String]) = as.map(a => s"${micro(s"$a.x")} AS $a")
  // Margin on micro³ (ComplEx, DistMult) score sums: γ = 1 in micro³ units.
  private val microMargin = "1000000000000000000 - sp + sn > 0"

  private def fragments(model: Model): Fragments = model match {
    case Model.TransE => Fragments(
      Seq("ent", "rel"),
      Seq(("h", "ent", "src"), ("r", "rel", "rel"), ("t", "ent", "dst"),
          ("tn", "ent", "neg")),
      Seq("h.x AS h", "r.x AS r", "t.x AS t", "tn.x AS tn"), Nil,
      "SUM(ABS(h + r - t)) AS dp, SUM(ABS(h + r - tn)) AS dn",
      "1.0 + dp - dn > 0",
      Seq("SIGN(h + r - t) AS s", "SIGN(h + r - tn) AS sp"),
      Seq(("ent", "src", "s - sp"), ("ent", "dst", "-s"), ("ent", "neg", "sp"),
          ("rel", "rel", "s - sp")),
      Seq("h0.xi + r0.xi"), "ABS(hx.re - c0.xi)", lowerWins = true)
    case Model.DistMult => Fragments(
      Seq("ent", "rel"),
      Seq(("hi", "ent", "src"), ("ri", "rel", "rel"), ("ti", "ent", "dst"),
          ("tni", "ent", "neg")),
      microCols(Seq("hi", "ri", "ti", "tni")), Nil,
      "SUM(CAST(hi * ri AS HUGEINT) * ti) AS sp, " +
        "SUM(CAST(hi * ri AS HUGEINT) * tni) AS sn",
      microMargin, Nil,
      Seq(("ent", "src", "ri * (tni - ti)"), ("rel", "rel", "hi * (tni - ti)"),
          ("ent", "dst", "-hi * ri"), ("ent", "neg", "hi * ri")),
      Seq("h0.xi * r0.xi"), "CAST(hx.re AS HUGEINT) * c0.xi", lowerWins = false)
    case Model.ComplEx =>
      val (re, im) = ("a * c - b * d", "a * d + b * c")
      Fragments(
        Seq("ent_re", "ent_im", "rel_re", "rel_im"),
        complexRoles.take(2) ++ Seq(("c", "rel_re", "rel"), ("d", "rel_im", "rel")) ++
          complexRoles.drop(2),
        microCols(Seq("a", "b", "c", "d", "e", "f", "ep", "fp")), Nil,
        s"SUM(CAST($re AS HUGEINT) * e + CAST($im AS HUGEINT) * f) AS sp, " +
          s"SUM(CAST($re AS HUGEINT) * ep + CAST($im AS HUGEINT) * fp) AS sn",
        microMargin, Seq("ep - e AS de", "fp - f AS dfv"),
        Seq(("ent_re", "src", "c * de + d * dfv"), ("ent_im", "src", "-d * de + c * dfv"),
            ("rel_re", "rel", "a * de + b * dfv"), ("rel_im", "rel", "-b * de + a * dfv"),
            ("ent_re", "dst", s"-($re)"), ("ent_im", "dst", s"-($im)"),
            ("ent_re", "neg", re), ("ent_im", "neg", im)),
        Seq("h0.xi * r0.xi - h1.xi * r1.xi", "h0.xi * r1.xi + h1.xi * r0.xi"),
        "CAST(hx.re AS HUGEINT) * c0.xi + CAST(hx.im AS HUGEINT) * c1.xi",
        lowerWins = false)
    case Model.RotatE =>
      // Phase θ on the micro grid; its cos/sin re-quantized to micro ints,
      // so the residuals u, v (estimate − tail, micro²) are exact longs.
      val (re, im) = ("a * c - b * sn", "a * sn + b * c")
      val th = micro("th.x")
      Fragments(
        Seq("ent_re", "ent_im", "rel_ph"),
        complexRoles.take(2) ++ Seq(("th", "rel_ph", "rel")) ++ complexRoles.drop(2),
        microCols(Seq("a", "b")) ++ Seq(s"${cosMicro(th)} AS c", s"${sinMicro(th)} AS sn") ++
          microCols(Seq("e", "f", "ep", "fp")),
        Seq(s"$re - e * 1000000 AS u", s"$im - f * 1000000 AS v",
            s"$re - ep * 1000000 AS up", s"$im - fp * 1000000 AS vp"),
        "SUM(CAST(ABS(u) + ABS(v) AS HUGEINT)) AS dp, " +
          "SUM(CAST(ABS(up) + ABS(vp) AS HUGEINT)) AS dn",
        "1000000000000 + dp - dn > 0",
        Seq("CAST(SIGN(u) AS BIGINT) AS su", "CAST(SIGN(v) AS BIGINT) AS sv",
            "CAST(SIGN(up) AS BIGINT) AS sup", "CAST(SIGN(vp) AS BIGINT) AS svp"),
        Seq(("ent_re", "src", "((su - sup) * c + (sv - svp) * sn) * 1000000"),
            ("ent_im", "src", "(-(su - sup) * sn + (sv - svp) * c) * 1000000"),
            ("ent_re", "dst", "-su * 1000000000000"), ("ent_im", "dst", "-sv * 1000000000000"),
            ("ent_re", "neg", "sup * 1000000000000"), ("ent_im", "neg", "svp * 1000000000000"),
            ("rel_ph", "rel", s"(sv - svp) * ($re) - (su - sup) * ($im)")),
        Seq(s"h0.xi * ${cosMicro("r0.xi")} - h1.xi * ${sinMicro("r0.xi")}",
            s"h0.xi * ${sinMicro("r0.xi")} + h1.xi * ${cosMicro("r0.xi")}"),
        "ABS(hx.re - c0.xi * 1000000) + ABS(hx.im - c1.xi * 1000000)",
        lowerWins = true)
  }
}
