package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.score.{Embeddings, Training}
import graft.score.Training.{Model, Optimizer}

/** Relational TransE SGD step: hinge activation, gradient flow, and the
  * exactness contract (every update an integer multiple of lr). */
class TrainingSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val ents = Seq(10L, 20L, 30L).toDF("id")
  val edges = Seq((10L, 5L, 20L), (20L, 5L, 30L)).toDF("src", "rel", "dst")

  def step(gamma: Double) =
    Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = gamma)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap

  def base(kind: String, id: Long, pos: Int, seed: Double): Double = {
    val v = math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed)
    math.rint(v * 1e6) / 1e6
  }

  test("inactive hinge (gamma << 0) leaves every parameter at its init") {
    val out = step(gamma = -1000.0)
    assert(out.size == (3 + 1) * 4) // 3 entities + 1 relation, dim 4
    out.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      assert(x == base(kind, id, pos.toInt, seed), s"$kind $id $pos moved")
    }
  }

  test("active hinge (gamma >> 0) moves parameters by exact multiples of lr") {
    val out = step(gamma = 1000.0)
    val moved = out.count { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      x != base(kind, id, pos.toInt, seed)
    }
    assert(moved > 0, "no gradient flowed with a forced-active hinge")
    // Every delta is g * 2^-5 with integer g: 32 * delta is an integer
    // (up to the 6-dp output rounding).
    out.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val k = (base(kind, id, pos.toInt, seed) - x) * 32.0
      assert(math.abs(k - math.rint(k)) < 1e-3,
             s"delta not a multiple of lr at $kind $id $pos: $k")
    }
  }

  test("two steps progress beyond one and shrink the mean margin loss") {
    def loss(e: Map[(String, Long, Long), Double]): Double = {
      // mean hinge over the two edges with cyclic negatives (10->20->30->10)
      def vec(kind: String, id: Long) = (0 until 4).map(p => e((kind, id, p.toLong)))
      def d(h: Seq[Double], r: Seq[Double], t: Seq[Double]) =
        h.indices.map(i => math.abs(h(i) + r(i) - t(i))).sum
      val r = vec("rel", 5L)
      Seq((10L, 20L, 30L), (20L, 30L, 10L)).map { case (s, t, n) =>
        math.max(0.0, 1.0 + d(vec("ent", s), r, vec("ent", t))
                          - d(vec("ent", s), r, vec("ent", n)))
      }.sum / 2
    }
    val e1 = step(gamma = 1.0)
    val e2 = Training.transeSgd(ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, steps = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val e0 = step(gamma = -1000.0) // = the untouched init
    assert(e2 != e1, "second step changed nothing")
    assert(loss(e1) <= loss(e0) && loss(e2) <= loss(e1),
           s"loss must be non-increasing: ${loss(e0)} -> ${loss(e1)} -> ${loss(e2)}")
  }

  test("adagrad: integer accumulator, floor-quantized rate, threads across steps") {
    // Forced-active hinge: every parameter that moves must move by an
    // exact integer number of micro-units equal to g * floor(31250/sqrt(a)).
    val one = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 1, gamma = 1000.0,
      optimizer = Optimizer.Adagrad)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    var moved = 0
    one.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val x0 = math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed)
      // round 15: UNTOUCHED cells come back pinned to the 1e-6 micro
      // grid (half away from zero, the engine's round semantics), so
      // the moved/kept baseline is the quantized init, not raw sin
      val micro0 = {
        val y = x0 * 1e6
        (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
      }
      if (x != micro0.toDouble / 1e6) {
        moved += 1
        // one step: update = g*floor(31250/|g|) micro; for every integer g,
        // the micro delta divided by floor(31250/|g|) must be ±g exactly.
        val micro1 = math.rint(x * 1e6).toLong
        val d = micro0 - micro1
        val gCands = (1 to 8).filter { g =>
          math.abs(d) == g.toLong * math.floor(31250.0 / g).toLong
        }
        assert(gCands.nonEmpty, s"$kind $id $pos delta $d not adagrad-shaped")
      }
    }
    assert(moved > 0)
    // Two steps differ from one (the accumulator shrinks step 2's rate, so
    // a param hit twice moves LESS the second time than a fresh SGD step
    // would move it) and stay deterministic across partitionings.
    val two = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1000.0,
      optimizer = Optimizer.Adagrad)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(two != one)
    val twoAgain = Training.transeSgd(
      ents.repartition(3), edges.repartition(2), dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1000.0,
      optimizer = Optimizer.Adagrad)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(twoAgain == two, "adagrad trajectory is partition-dependent")
  }

  test("adam: step 1 is a fixed ±lr move; step 2 adapts; partition-deterministic") {
    // With beta1 = beta2 = 1/2, step 1 has m-hat = g, v-hat = g² →
    // update = sign(g)·floor(lr·1e6) = ±31250 micro exactly.
    val one = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 1, gamma = 1000.0,
      optimizer = Optimizer.Adam)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    var moved = 0
    one.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val x0 = math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed)
      // round 15: untouched cells are micro-grid-pinned (see adagrad)
      val micro0 = {
        val y = x0 * 1e6
        (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
      }
      if (x != micro0.toDouble / 1e6) {
        moved += 1
        val d = math.abs(micro0 - math.rint(x * 1e6).toLong)
        assert(d == 31250L, s"$kind $id $pos step-1 delta $d != lr")
      }
    }
    assert(moved > 0)
    // Step 2 differs from both one-step Adam and plain 2-step SGD (the
    // moments actually thread), and the trajectory is partition-invariant.
    val two = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1000.0,
      optimizer = Optimizer.Adam)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val sgd2 = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1000.0)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(two != one)
    // With β₁ = β₂ = ½ and a CONSTANT sign gradient (γ = 1000 keeps
    // every hinge active and no sign can flip at ±0.03 moves), the
    // bias corrections cancel exactly in every step (m̂ = g, v̂ = g²),
    // so step 2 moves by ±lr again — two-step Adam on this fixture
    // coincides with two-step SGD BY DESIGN, and the exact coincidence
    // IS the bias-correction check: dropping the 1 − βᵏ corrections
    // would give step 2 = floor(31250·(3/4)|g| / √((3/4)g²)) =
    // floor(31250·√3/2) = 27062 ≠ 31250. (Before round 15 this compared
    // two != sgd2, which held only through the untouched cells' raw-sin
    // vs rounded representations — a representational accident, not the
    // adaptive-state property.)
    var movedTwice = 0
    two.foreach { case (k3, x2) =>
      val x1 = one(k3)
      if (x2 != x1) {
        movedTwice += 1
        val d = math.abs(math.rint((x1 - x2) * 1e6)).toLong
        assert(d == 31250L,
          s"$k3 step-2 delta $d != lr (bias correction broken)")
      }
    }
    assert(movedTwice > 0)
    assert(two == sgd2,
      "constant-gradient β=½ Adam must equal SGD exactly (the " +
      "bias-correction fixed point)")
    val twoAgain = Training.transeSgd(
      ents.repartition(3), edges.repartition(2), dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1000.0,
      optimizer = Optimizer.Adam)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(twoAgain == two, "adam trajectory is partition-dependent")
  }

  test("cyclic-next map: no no-partition window, no forced broadcast hint") {
    val nm = Training.cyclicNextMap(graft.metric.Ranking.globalIndexPacked(
      ents.select(col("id").cast("long").as("id")), "id"))
    // the scale-safe shape: zipWithIndex (invisible LogicalRDD) + equi-join —
    // a Window node here would be the old single-partition funnel
    assert(!nm.queryExecution.optimizedPlan.toString.contains("Window"),
           "cyclicNextMap must not use a window")
    // The successor self-join must stay un-hinted (the idx sides are
    // entity-sized: forcing a broadcast there would OOM at a 1e9-entity
    // KG). The only allowed hint is on the wraparound min-id row — a
    // 1-row aggregate, safe to broadcast at any scale.
    val hinted = nm.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hinted.forall(_.child.collectFirst {
             case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
               if a.groupingExpressions.isEmpty => a
           }.nonEmpty),
           "cyclicNextMap may hint only the 1-row wraparound aggregate")
    // and it is still the correct cyclic successor 10->20->30->10
    val m = nm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(10L -> 20L, 20L -> 30L, 30L -> 10L))
  }

  test("epoch with one batch == one full-set step; two batches walk a different path") {
    val one = Training.transeSgdEpoch(ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, batches = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(one == step(gamma = 1.0), "batches=1 must equal the single full step")
    val two = Training.transeSgdEpoch(ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, batches = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    // Same grid exactness contract per mini-step.
    two.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val k = (base(kind, id, pos.toInt, seed) - x) * 32.0
      assert(math.abs(k - math.rint(k)) < 1e-3, s"epoch delta off-grid at $kind $id $pos")
    }
    // And deterministic across partitionings.
    val two2 = Training.transeSgdEpoch(ents.repartition(3), edges.repartition(2),
        dim = 4, entSeed = 0.3, relSeed = 1.7, batches = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(two == two2)
  }

  test("distmultSgdStep: inactive hinge keeps init; active matches integer-exact reference") {
    def dstep(gamma: Double) =
      Training.sgd(Model.DistMult, ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, gamma = gamma)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
    val frozen = dstep(gamma = -1e6)
    frozen.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      assert(x == base(kind, id, pos.toInt, seed), s"$kind $id $pos moved")
    }
    // Scala reference in the same integer micro-units, edges with cyclic
    // negatives 10->20->30->10: (10,5,20,n=30), (20,5,30,n=10).
    def mi(kind: String, id: Long, pos: Int): Long = {
      val seed = if (kind == "ent") 0.3 else 1.7
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed) * 1e6)
    }
    val g = scala.collection.mutable.Map.empty[(String, Long, Int), Long]
      .withDefaultValue(0L)
    Seq((10L, 5L, 20L, 30L), (20L, 5L, 30L, 10L)).foreach { case (s_, r_, t_, n_) =>
      // gamma = +1e6 forces every hinge active in this tiny graph
      (0 until 4).foreach { p =>
        val (hi, ri, ti, tni) = (mi("ent", s_, p), mi("rel", r_, p),
                                 mi("ent", t_, p), mi("ent", n_, p))
        g(("ent", s_, p)) += ri * (tni - ti)
        g(("rel", r_, p)) += hi * (tni - ti)
        g(("ent", t_, p)) += -hi * ri
        g(("ent", n_, p)) += hi * ri
      }
    }
    val active = dstep(gamma = 1e6)
    active.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val x0 = math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed)
      val want = math.rint((x0 - g((kind, id, pos.toInt)) * 0.03125 / 1e12) * 1e6) / 1e6
      assert(math.abs(x - want) < 2e-6, s"$kind $id $pos: got $x want $want")
    }
    assert(active.exists { case (k, x) => x != frozen(k) }, "no gradient flowed")
  }

  test("distmultSgd: two steps move beyond one, stay on the 6-dp grid, partition-deterministic") {
    def run(steps: Int, parts: Int = 1) = {
      val (en, ed) = if (parts == 1) (ents, edges)
        else (ents.repartition(parts), edges.repartition(parts))
      Training.sgd(Model.DistMult, en, ed, dim = 4,
          entSeed = 0.3, relSeed = 1.7, steps = steps)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
    }
    val one = run(1)
    val two = run(2)
    assert(one == Training.sgd(Model.DistMult, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap, "steps=1 must equal the single step")
    assert(two != one, "second step changed nothing")
    two.foreach { case ((_, _, _), x) =>
      assert(x == math.rint(x * 1e6) / 1e6, "state off the 6-dp grid")
    }
    assert(two == run(2, parts = 3), "trajectory must be partition-independent")
  }

  test("complexSgdStep: inactive hinge keeps init; active matches product-rule reference") {
    def cstep(gamma: Double) =
      Training.sgd(Model.ComplEx, ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, gamma = gamma)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
    def seedOf(kind: String): Double = kind match {
      case "ent_re" => 0.3
      case "ent_im" => 0.3 + Training.IM_SEED_OFFSET
      case "rel_re" => 1.7
      case "rel_im" => 1.7 + Training.IM_SEED_OFFSET
    }
    val frozen = cstep(gamma = -1e6)
    assert(frozen.size == 4 * 4 + 2 * 4 * 2) // 3 ents + 1 rel, re+im, dim 4
    frozen.foreach { case ((kind, id, pos), x) =>
      assert(x == base(kind, id, pos.toInt, seedOf(kind)), s"$kind $id $pos moved")
    }
    // Product-rule reference in integer micro-units over the cyclic
    // negatives 10->20->30->10.
    def mi(kind: String, id: Long, pos: Int): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seedOf(kind)) * 1e6)
    val g = scala.collection.mutable.Map.empty[(String, Long, Int), Long]
      .withDefaultValue(0L)
    Seq((10L, 5L, 20L, 30L), (20L, 5L, 30L, 10L)).foreach { case (s_, r_, t_, n_) =>
      (0 until 4).foreach { p =>
        val (a, b) = (mi("ent_re", s_, p), mi("ent_im", s_, p))
        val (c, d) = (mi("rel_re", r_, p), mi("rel_im", r_, p))
        val (e, f) = (mi("ent_re", t_, p), mi("ent_im", t_, p))
        val (ep, fp) = (mi("ent_re", n_, p), mi("ent_im", n_, p))
        val (de, df) = (ep - e, fp - f)
        g(("ent_re", s_, p)) += c * de + d * df
        g(("ent_im", s_, p)) += -d * de + c * df
        g(("rel_re", r_, p)) += a * de + b * df
        g(("rel_im", r_, p)) += -b * de + a * df
        g(("ent_re", t_, p)) += -(a * c - b * d)
        g(("ent_im", t_, p)) += -(a * d + b * c)
        g(("ent_re", n_, p)) += a * c - b * d
        g(("ent_im", n_, p)) += a * d + b * c
      }
    }
    val active = cstep(gamma = 1e6)
    active.foreach { case ((kind, id, pos), x) =>
      val x0 = math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seedOf(kind))
      val want = math.rint((x0 - g((kind, id, pos.toInt)) * 0.03125 / 1e12) * 1e6) / 1e6
      assert(math.abs(x - want) < 2e-6, s"$kind $id $pos: got $x want $want")
    }
    assert(active.exists { case (k, x) => x != frozen(k) }, "no gradient flowed")
    // Deterministic across partitionings (scatter-add sums integers).
    val b2 = Training.sgd(Model.ComplEx, ents.repartition(3),
        edges.repartition(2), dim = 4, entSeed = 0.3, relSeed = 1.7)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val b1 = cstep(gamma = 1.0)
    assert(b1 == b2)
  }

  test("rotateSgdStep: inactive hinge keeps init; active matches rotation-derivative reference") {
    def rstep(gamma: Double) =
      Training.sgd(Model.RotatE, ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, gamma = gamma)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
        .toMap
    def seedOf(kind: String): Double = kind match {
      case "ent_re" => 0.3
      case "ent_im" => 0.3 + Training.IM_SEED_OFFSET
      case "rel_ph" => 1.7
    }
    val frozen = rstep(gamma = -1e6)
    assert(frozen.size == 3 * 4 * 2 + 1 * 4) // 3 ents re+im, 1 rel phase, dim 4
    frozen.foreach { case ((kind, id, pos), x) =>
      assert(x == base(kind, id, pos.toInt, seedOf(kind)), s"$kind $id $pos moved")
    }
    // Reference in integer micro-units over the cyclic negatives
    // 10->20->30->10: quantized phase, re-quantized cos/sin, component-L1
    // signs, rotation-derivative phase gradient.
    def mi(kind: String, id: Long, pos: Int): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seedOf(kind)) * 1e6)
    val g = scala.collection.mutable.Map.empty[(String, Long, Int), Long]
      .withDefaultValue(0L)
    Seq((10L, 5L, 20L, 30L), (20L, 5L, 30L, 10L)).foreach { case (s_, r_, t_, n_) =>
      (0 until 4).foreach { p =>
        val (a, b) = (mi("ent_re", s_, p), mi("ent_im", s_, p))
        val th = mi("rel_ph", r_, p)
        val c = math.round(math.cos(th / 1e6) * 1e6)
        val sn = math.round(math.sin(th / 1e6) * 1e6)
        val (e, f) = (mi("ent_re", t_, p), mi("ent_im", t_, p))
        val (ep, fp) = (mi("ent_re", n_, p), mi("ent_im", n_, p))
        val u = a * c - b * sn - e * 1000000L
        val v = a * sn + b * c - f * 1000000L
        val up = a * c - b * sn - ep * 1000000L
        val vp = a * sn + b * c - fp * 1000000L
        val (su, sv) = (u.sign, v.sign)
        val (sup, svp) = (up.sign, vp.sign)
        g(("ent_re", s_, p)) += ((su - sup) * c + (sv - svp) * sn) * 1000000L
        g(("ent_im", s_, p)) += (-(su - sup) * sn + (sv - svp) * c) * 1000000L
        g(("ent_re", t_, p)) += -su * 1000000000000L
        g(("ent_im", t_, p)) += -sv * 1000000000000L
        g(("ent_re", n_, p)) += sup * 1000000000000L
        g(("ent_im", n_, p)) += svp * 1000000000000L
        g(("rel_ph", r_, p)) += (sv - svp) * (a * c - b * sn) -
          (su - sup) * (a * sn + b * c)
      }
    }
    val active = rstep(gamma = 1e6)
    active.foreach { case ((kind, id, pos), x) =>
      val x0 = math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seedOf(kind))
      val want = math.rint((x0 - g((kind, id, pos.toInt)) * 0.03125 / 1e12) * 1e6) / 1e6
      assert(math.abs(x - want) < 2e-6, s"$kind $id $pos: got $x want $want")
    }
    assert(active.exists { case (k, x) => x != frozen(k) }, "no gradient flowed")
    // Deterministic across partitionings (scatter-add sums integers).
    val b2 = Training.sgd(Model.RotatE, ents.repartition(3),
        edges.repartition(2), dim = 4, entSeed = 0.3, relSeed = 1.7)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(rstep(gamma = 1.0) == b2)
  }

  test("complex/rotate multi-step loops progress and stay partition-deterministic") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // forced-active hinge so both steps move parameters
    val c1 = m(Training.sgd(Model.ComplEx, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 1, gamma = 1e6))
    val c2 = m(Training.sgd(Model.ComplEx, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1e6))
    assert(c2 != c1, "complex second step changed nothing")
    assert(c2 == m(Training.sgd(Model.ComplEx, ents.repartition(3),
      edges.repartition(2), dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1e6)))
    val r1 = m(Training.sgd(Model.RotatE, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 1, gamma = 1e6))
    val r2 = m(Training.sgd(Model.RotatE, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1e6))
    assert(r2 != r1, "rotate second step changed nothing")
    assert(r2 == m(Training.sgd(Model.RotatE, ents.repartition(3),
      edges.repartition(2), dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2, gamma = 1e6)))
  }

  test("momentum SGD: step 1 equals plain SGD; velocity threads into step 2 exactly") {
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    // v1 = g1, so one momentum step IS one plain step.
    assert(m(Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 1,
      optimizer = Optimizer.Momentum())) == step(gamma = 1.0))
    val p2 = m(Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2))
    val m2 = m(Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2,
      optimizer = Optimizer.Momentum()))
    assert(m2 != p2, "momentum trajectory must diverge from plain SGD")
    // Every momentum update is an integer multiple of lr/2 (v is a
    // multiple of 1/2 after two steps: exact dyadic velocities).
    m2.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val k = (base(kind, id, pos.toInt, seed) - x) * 64.0
      assert(math.abs(k - math.rint(k)) < 1e-3,
             s"momentum delta off the lr/2 grid at $kind $id $pos: $k")
    }
    assert(m2 == m(Training.transeSgd(ents.repartition(3),
      edges.repartition(2), dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = 2,
      optimizer = Optimizer.Momentum())))
  }

  test("hashNegEdges draws the md5-indexed entity, dodging the true tail") {
    def md5p60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val sorted = IndexedSeq(10L, 20L, 30L)
    val want = Seq((10L, 5L, 20L), (20L, 5L, 30L)).map { case (h, r, t) =>
      val i = (md5p60(s"$h|$r|$t") % 3).toInt
      val cand = sorted(i)
      (h, r, t) -> (if (cand != t) cand else sorted((i + 1) % 3))
    }.toMap
    val got = Training.hashNegEdges(graft.metric.Ranking.globalIndexPacked(
        ents.select(col("id").cast("long").as("id")), "id"),
        edges.select(col("src").cast("long").as("src"),
                     col("rel").cast("long").as("rel"),
                     col("dst").cast("long").as("dst")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got == want, s"got $got want $want")
    assert(got.forall { case ((_, _, t), n) => n != t && sorted.contains(n) })
    // And the hash-neg step keeps the lr-grid exactness contract.
    val out = Training.transeSgd(ents, edges, dim = 4,
        entSeed = 0.3, relSeed = 1.7, gamma = 1000.0, hashNeg = true)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    out.foreach { case ((kind, id, pos), x) =>
      val seed = if (kind == "ent") 0.3 else 1.7
      val k = (base(kind, id, pos.toInt, seed) - x) * 32.0
      assert(math.abs(k - math.rint(k)) < 1e-3, s"off-grid at $kind $id $pos")
    }
  }

  test("transeRanks matches a brute-force ranking of the same parameter frame") {
    // Freeze the step (gamma << 0) so params are the known init state,
    // then rank each edge's true tail against a Scala brute-force model
    // in the same micro-int units.
    val params = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = -1000.0)
    val got = Training.ranks(Model.TransE, params, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    def mi(id: Long, pos: Int, seed: Double): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed) * 1e6)
    def dist(h: Long, r: Long, t: Long): Long =
      (0 until 4).map(p => math.abs(mi(h, p, 0.3) + mi(r, p, 1.7) - mi(t, p, 0.3))).sum
    val entIds = Seq(10L, 20L, 30L)
    val want = Seq((10L, 5L, 20L), (20L, 5L, 30L)).map { case (h, r, t) =>
      val dt = dist(h, r, t)
      val better = entIds.filter(c => c != t).count(c =>
        dist(h, r, c) < dt || (dist(h, r, c) == dt && c < t))
      (h, r, t) -> (1L + better)
    }.toMap
    assert(got == want, s"got $got want $want")
  }

  test("transeRanksSampled: candMod=1 is exhaustive; sampled pool mirrors the md5 draw") {
    val params = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = -1000.0)
    def ranks(m: Int) = Training.ranks(Model.TransE, params, edges, candMod = m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(ranks(1) == Training.ranks(Model.TransE, params, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap)
    // Brute-force the md5-drawn half-pool in the same micro-int units.
    def md5p60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    }
    def mi(id: Long, pos: Int, seed: Double): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed) * 1e6)
    def dist(h: Long, r: Long, t: Long): Long =
      (0 until 4).map(p => math.abs(mi(h, p, 0.3) + mi(r, p, 1.7) - mi(t, p, 0.3))).sum
    val pool = Seq(10L, 20L, 30L).filter(c => md5p60(c.toString) % 2 == 0)
    val want = Seq((10L, 5L, 20L), (20L, 5L, 30L)).flatMap { case (h, r, t) =>
      val cs = pool.filter(_ != t)
      if (cs.isEmpty) None else {
        val dt = dist(h, r, t)
        val better = cs.count(c =>
          dist(h, r, c) < dt || (dist(h, r, c) == dt && c < t))
        Some((h, r, t) -> (1L + better))
      }
    }.toMap
    assert(ranks(2) == want, s"got ${ranks(2)} want $want")
  }

  test("transeRanksFiltered: known true tails leave the pool, others stay") {
    val params = Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = -1000.0)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    // Brute-force in micro-int units.
    def mi(id: Long, pos: Int, seed: Double): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed) * 1e6)
    def dist(h: Long, r: Long, t: Long): Long =
      (0 until 4).map(p => math.abs(mi(h, p, 0.3) + mi(r, p, 1.7) - mi(t, p, 0.3))).sum
    val ents3 = Seq(10L, 20L, 30L)
    val known = Set((10L, 5L, 20L), (20L, 5L, 30L))
    val want = known.toSeq.map { case (h, r, t) =>
      val dt = dist(h, r, t)
      val pool = ents3.filter(c => c != t && !known((h, r, c)))
      (h, r, t) -> (1L + pool.count(c =>
        dist(h, r, c) < dt || (dist(h, r, c) == dt && c < t)))
    }.toMap
    assert(m(Training.ranks(Model.TransE, params, edges,
        filter = Some(edges))) == want)
    // An empty filter set reduces to the unfiltered ranks.
    assert(m(Training.ranks(Model.TransE, params, edges,
        filter = Some(edges.filter(col("rel") < 0))))
      == m(Training.ranks(Model.TransE, params, edges)))
  }

  test("distmultRanks: descending bilinear score against a brute-force model") {
    val params = Training.sgd(Model.DistMult, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = -1000.0)
    val got = Training.ranks(Model.DistMult, params, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    def mi(id: Long, pos: Int, seed: Double): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed) * 1e6)
    def score(h: Long, r: Long, t: Long): BigInt =
      (0 until 4).map(p => BigInt(mi(h, p, 0.3)) * mi(r, p, 1.7) * mi(t, p, 0.3)).sum
    val entIds = Seq(10L, 20L, 30L)
    val want = Seq((10L, 5L, 20L), (20L, 5L, 30L)).map { case (h, r, t) =>
      val st = score(h, r, t)
      (h, r, t) -> (1L + entIds.filter(_ != t).count(c =>
        score(h, r, c) > st || (score(h, r, c) == st && c < t)))
    }.toMap
    assert(got == want, s"got $got want $want")
  }

  test("complexRanks / rotateRanks: brute-force models agree") {
    def mi(id: Long, pos: Int, seed: Double): Long =
      math.round(math.sin((id % 9973 + 1) * (pos + 1) * 0.017 + seed) * 1e6)
    val entIds = Seq(10L, 20L, 30L)
    val testEdges = Seq((10L, 5L, 20L), (20L, 5L, 30L))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    // ComplEx: frozen step (init state), Re<h,r,conj(c)> descending.
    val cp = Training.sgd(Model.ComplEx, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = -1e6)
    val im = Training.IM_SEED_OFFSET
    def cscore(h: Long, r: Long, t: Long): BigInt =
      (0 until 4).map { p =>
        val (a, b) = (BigInt(mi(h, p, 0.3)), BigInt(mi(h, p, 0.3 + im)))
        val (c, d) = (BigInt(mi(r, p, 1.7)), BigInt(mi(r, p, 1.7 + im)))
        val (e, f) = (BigInt(mi(t, p, 0.3)), BigInt(mi(t, p, 0.3 + im)))
        (a * c - b * d) * e + (a * d + b * c) * f
      }.sum
    val cwant = testEdges.map { case (h, r, t) =>
      val st = cscore(h, r, t)
      (h, r, t) -> (1L + entIds.filter(_ != t).count(c =>
        cscore(h, r, c) > st || (cscore(h, r, c) == st && c < t)))
    }.toMap
    assert(m(Training.ranks(Model.ComplEx, cp, edges)) == cwant)
    // RotatE: frozen step, component-L1 rotation distance ascending.
    val rp = Training.sgd(Model.RotatE, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, gamma = -1e6)
    def rdist(h: Long, r: Long, t: Long): Long =
      (0 until 4).map { p =>
        val (a, b) = (mi(h, p, 0.3), mi(h, p, 0.3 + im))
        val th = mi(r, p, 1.7)
        val c = math.round(math.cos(th / 1e6) * 1e6)
        val sn = math.round(math.sin(th / 1e6) * 1e6)
        val (e, f) = (mi(t, p, 0.3), mi(t, p, 0.3 + im))
        math.abs(a * c - b * sn - e * 1000000L) +
          math.abs(a * sn + b * c - f * 1000000L)
      }.sum
    val rwant = testEdges.map { case (h, r, t) =>
      val dt = rdist(h, r, t)
      (h, r, t) -> (1L + entIds.filter(_ != t).count(c =>
        rdist(h, r, c) < dt || (rdist(h, r, c) == dt && c < t)))
    }.toMap
    assert(m(Training.ranks(Model.RotatE, rp, edges)) == rwant)
  }

  test("the loop releases its blocks: 6 steps hold no more than 2") {
    val sc = spark.sparkContext
    // (RDDs, bytes) a run made that still hold blocks once its result is
    // collected — a delta around the call; the result stays referenced.
    // Every RDD the run persists is pinned while it runs, so the
    // ContextCleaner cannot drop one that became unreachable on a GC:
    // what is gone is what the loop released itself.
    def held(run: Int => org.apache.spark.sql.DataFrame, steps: Int) = {
      val first = sc.emptyRDD[Int].id
      val pinned = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
      @volatile var running = true
      val pinner = new Thread(() => while (running) {
        sc.getPersistentRDDs.values.foreach(pinned.add)
        Thread.sleep(2)
      })
      pinner.start()
      val out = try { val df = run(steps); df.collect(); df }
        finally { running = false; pinner.join() }
      org.apache.spark.ListenerBus.drain(sc)
      val mine = sc.getRDDStorageInfo.filter(_.id > first)
      assert(out.columns.length == 4 && pinned.size > 0)
      (mine.length, mine.map(r => r.memSize + r.diskSize).sum)
    }
    val transe = (n: Int) => Training.transeSgd(ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = n)
    val rotate = (n: Int) => Training.sgd(Model.RotatE, ents, edges, dim = 4,
      entSeed = 0.3, relSeed = 1.7, steps = n)
    for ((name, run) <- Seq("transe" -> transe, "rotate" -> rotate)) {
      val (two, six) = (held(run, 2), held(run, 6))
      assert(six._1 <= two._1 && six._2 <= two._2,
        s"$name: 6 steps hold $six, 2 steps hold $two (RDDs, bytes)")
    }
  }

  test("default margin: updated frame is deterministic across partitionings") {
    val a = step(gamma = 1.0)
    val b = Training.transeSgd(ents.repartition(3),
        edges.repartition(2), dim = 4, entSeed = 0.3, relSeed = 1.7)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(a == b)
  }
}
