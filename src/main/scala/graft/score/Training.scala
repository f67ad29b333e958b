package graft.score

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Relational SGD training and link-prediction eval for the four KGE
  * models (TransE, DistMult, ComplEx, RotatE) as pure DataFrame algebra —
  * the reference's training loop (margin ranking loss over corrupted
  * triples; transe.py + the T1-T3 loss surfaces, lmpnn.py:218-288's
  * per-model loop) closing the declared scope gap relationally: an epoch
  * at 100 TB is exactly this plan — embedding-table equi-joins, a
  * per-dimension posexplode, and one map-side-combinable scatter-add (the
  * A1 shape) per parameter table.
  *
  * As in the reference, each [[Training.Model]] supplies only its own
  * math: its state kinds, its gradient frame, and for eval its estimate,
  * candidate score and ranking direction. One SGD loop ([[Training.sgd]])
  * and one tail-rank evaluator ([[Training.ranks]]) serve all four.
  *
  * Determinism contract (what makes the step ORACLE-CHECKABLE, which no
  * stochastic trainer is):
  *  - negatives are the cyclic next entity in id order, not a sample;
  *  - the norm is L1, so every gradient component is a SIGN (±1/0) and
  *    every accumulated update is an integer multiple of lr;
  *  - lr defaults to 2⁻⁵, so those multiples are exactly representable
  *    doubles: the scatter-add is order-independent and DuckDB reproduces
  *    the updated embeddings bit-for-bit (the only float-route exposure
  *    left is the 8-term hinge sum deciding margin violations).
  *
  * Margin loss per edge (h, r, t) with corrupted tail t′:
  *   L = max(0, γ + ‖h+r−t‖₁ − ‖h+r−t′‖₁)
  * Active-hinge gradients: ∂h = ∂r = s − s′, ∂t = −s, ∂t′ = +s′, where
  * s_i = sgn(h_i+r_i−t_i), s′_i = sgn(h_i+r_i−t′_i).
  *
  * The global entity index (cyclic corruption) is built with
  * [[graft.metric.Ranking.globalIndex]] — a range-partitioned sort +
  * zipWithIndex, NOT a no-partition window — and the (dst → next-id) map
  * joins the edge set as a plain shuffled equi-join, so nothing
  * entity-sized is ever broadcast or funneled through one partition: the
  * step stays executable at a 1e9-entity KG.
  *
  * Trainers return long-form updated parameters: (kind, id, pos, x), x on
  * the 6-dp grid. */
object Training {

  /** State/checkpoint discipline for the iterative trainers: a frame is
    * checkpointed only when a LATER step re-reads it — the final step's
    * outputs flow straight into the result plan (each skipped checkpoint
    * is one fewer eager job; with steps = 1 a whole loop runs as one job
    * tail). */
  private def ckIf(df: DataFrame, reread: Boolean): DataFrame =
    if (reread) df.localCheckpoint(true) else df

  /** Drops the blocks of every checkpoint under each frame's plan.
    * `Dataset.unpersist` cannot: localCheckpoint blocks belong to the RDD
    * under the frame's LogicalRDD, which the CacheManager never sees. Pass
    * only frames that read nothing but checkpoints the caller made and
    * reads no more (null is skipped). */
  private def release(dfs: DataFrame*): Unit =
    for (df <- dfs if df != null; leaf <- df.queryExecution.logical.collectLeaves())
      leaf match {
        case r: LogicalRDD => org.apache.spark.CheckpointBlocks.drop(r.rdd)
        case _ => ()
      }

  /** (dst → cyclic-successor) map over the entity index `idx` (id, uidx)
    * of [[graft.metric.Ranking.globalIndexPacked]], used as the
    * deterministic corruption: range-partitioned sort + zipWithIndex (NO
    * no-partition window), then a self-equi-join on (uidx+1) mod n.
    * Un-hinted: at test scale Spark may size-broadcast it, at a
    * 1e9-entity KG it shuffles — both correct. */
  private[graft] def cyclicNextMap(idx: DataFrame): DataFrame = {
    // The index is the sorted universe materialized once (its own eager
    // checkpoint); the successor self-join and the wrap row stay lazy —
    // no count() action and no second checkpoint (the old form spent two
    // extra jobs here per training query). Wrap: the max-uidx row is the
    // only one with no uidx+1 partner, and its cyclic successor is the
    // minimum id — identical rows to the old (uidx+1) % n join.
    val wrap = broadcast(idx.agg(min(col("id")).as("_minid")))
    idx.as("a")
      .join(idx.as("b"), (col("a.uidx") + 1) === col("b.uidx"), "left")
      .crossJoin(wrap)
      .select(col("a.id").as("dst"),
              coalesce(col("b.id"), col("_minid")).as("neg"))
  }

  /** Deterministic-HASH corruption: for each edge the corrupting tail is
    * the entity at sorted-index md5₆₀("src|rel|dst") mod n of the entity
    * index `idx` (as for [[cyclicNextMap]]) — the
    * reference's uniform negative sampling (transe.py's corrupted-triple
    * draw) made portable and replayable: any engine (and any retry of any
    * partition) draws the same negative. Falls to the next index when the
    * draw hits the true tail. Scale shape matches [[cyclicNextMap]]:
    * global zipWithIndex + two equi-joins against the index — nothing
    * entity-sized is broadcast or single-partitioned. */
  private[graft] def hashNegEdges(idx: DataFrame, edges: DataFrame): DataFrame = {
    // No count() action: n rides along as a broadcast one-row frame
    // (max uidx + 1 over the materialized index), so the whole draw stays
    // inside the consumer's job.
    val nB = broadcast(idx.agg((max(col("uidx")) + 1).as("_n")))
    edges.crossJoin(nB)
      .withColumn("_h", pmod(graft.functions.PortableHash.md5Prefix60(
        concat_ws("|", col("src"), col("rel"), col("dst"))), col("_n")))
      .join(idx.select(col("uidx").as("_h"), col("id").as("_n1")), Seq("_h"))
      .withColumn("_h2", (col("_h") + 1) % col("_n"))
      .join(idx.select(col("uidx").as("_h2"), col("id").as("_n2")), Seq("_h2"))
      .select(col("src"), col("rel"), col("dst"),
              when(col("_n1") =!= col("dst"), col("_n1")).otherwise(col("_n2"))
                .as("neg"))
  }

  /** Portable mini-batch id of an edge row: md5-60-bit of "src|rel|dst"
    * mod `batches` (0-based). */
  private def batchId(batches: Int): Column =
    pmod(graft.functions.PortableHash.md5Prefix60(
           concat_ws("|", col("src"), col("rel"), col("dst"))),
         lit(batches.toLong))

  /** The edges as (src, rel, dst) longs — the one cast every trainer,
    * evaluator and filter set reads them through. */
  private def longEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long").as("src"),
                 col("rel").cast("long").as("rel"),
                 col("dst").cast("long").as("dst"))

  /** Micro-int view of a 6-dp value: round(x·1e6) as a long. */
  private def micro(x: Column): Column = round(x * 1e6, 0).cast("long")

  /** γ as an exact decimal(38,0) in 10⁻`exp` units. */
  private def gammaNum(gamma: Double, exp: Int): Column =
    lit(BigDecimal(gamma) * BigDecimal(10).pow(exp)).cast("decimal(38,0)")

  private val stateKey = Seq("kind", "id", "pos")

  /** Exact 6-dp state update x ← round₆(x − g·lr/10¹²) for the integer-
    * micro²-gradient families (DistMult/ComplEx/RotatE), computed in
    * integer 10⁻¹⁷ units: n = micro(x)·10¹¹ − g·(lr·10⁵), then a
    * half-away-from-zero integer division by 10¹¹. The double route
    * (round(x − g·lr/1e12, 6)) breaks EXACTLY at .5·10⁻⁶ ties: Spark
    * rounds the double's shortest decimal repr, DuckDB its binary value,
    * and gradients that are multiples of 10⁶ (RotatE's entity terms) land
    * on those ties routinely — caught as a 1-ulp divergence in
    * train_rotate_2steps at sf0.1. Integers make the tie direction a
    * fact of arithmetic. The positive-quotient floor runs in decimal
    * (exact: quotient has ≤ 11 fractional digits); the result is the
    * quantized micro value over 10⁶, bit-identical in any engine. */
  private def microUpdate(x: Column, g: Column, lr: Double): Column = {
    val lrNum = (BigDecimal(lr) * 100000).toBigIntExact
      .getOrElse(throw new IllegalArgumentException(
        s"lr must be a multiple of 1e-5, got $lr")).toLong
    val n = micro(x) * lit(100000000000L) -
      coalesce(g, lit(0L)) * lit(lrNum)
    val q = floor((abs(n) + lit(50000000000L)).cast("decimal(20,0)")
        / lit(100000000000L).cast("decimal(12,0)")).cast("long")
    (signum(n).cast("long") * q).cast("double") / 1e6
  }

  /** The margin-ranking step every model shares: per-(edge, negative)
    * score sums `pos`/`neg` over the (edge × dim) frame `dm`, the
    * active-hinge test on them, and the scatter-add of each role's
    * gradient contribution (kind, id column, g) over the active rows
    * (`prep` adds the columns the contributions read). */
  private def hingeGrads(dm: DataFrame, pos: Column, neg: Column,
                         active: (Column, Column) => Column,
                         contribs: Seq[(String, String, Column)],
                         prep: DataFrame => DataFrame = identity): DataFrame = {
    val key = Seq("src", "rel", "dst", "neg")
    val vi = dm.groupBy(key.map(col): _*)
      .agg(sum(pos).as("dp"), sum(neg).as("dn"))
      .filter(active(col("dp"), col("dn")))
      .select(key.map(col): _*)
    val vd = prep(dm.join(vi, key, "left_semi"))
    contribs.map { case (kind, id, g) =>
      vd.select(lit(kind).as("kind"), col(id).as("id"), col("pos"), g.as("g"))
    }.reduce(_ unionAll _)
      .groupBy(stateKey.map(col): _*).agg(sum("g").as("g"))
  }

  /** Entity (or relation) side of a flat-state fan-out: kind `kind` keyed
    * `key`, its value `v(x)` named `as`. */
  private def side(e: DataFrame, kind: String, key: String, as: String,
                   v: Column => Column = identity): DataFrame =
    e.filter(col("kind") === kind)
      .select(col("id").as(key), col("pos"), v(col("x")).as(as))

  /** The flat state pivoted back to complex rows (id, pos, re, im). */
  private def pivot(e: DataFrame, re: String, im: String): DataFrame =
    e.filter(col("kind").isin(re, im))
      .groupBy("id", "pos")
      .agg(max(when(col("kind") === re, col("x"))).as("re"),
           max(when(col("kind") === im, col("x"))).as("im"))

  /** Micro-int complex side keyed `key`: one join per role carries both
    * parts. */
  private def cside(df: DataFrame, key: String, reAs: String,
                    imAs: String): DataFrame =
    df.select(col("id").as(key), col("pos"),
              micro(col("re")).as(reAs), micro(col("im")).as(imAs))

  /** Complex product per dimension of (a + bi)(c + di): (ac − bd, ad + bc)
    * as micro² long vectors. */
  private def cmul(a: Column, b: Column, c: Column, d: Column): Seq[Column] =
    Seq(zip_with(zip_with(a, c, _ * _), zip_with(b, d, _ * _), _ - _),
        zip_with(zip_with(a, d, _ * _), zip_with(b, c, _ * _), _ + _))

  /** A KG-embedding model's own math. Training: its state kinds (a kind
    * starting "rel" is per relation, any other per entity; an "_im" kind
    * draws its init under seed + [[IM_SEED_OFFSET]]) and its gradient
    * frame. Eval: the per-edge estimate from the head's and relation's
    * packed micro-int vectors, the candidate score against it, and
    * whether the lower score wins. */
  sealed abstract class Model(private[score] val kinds: Seq[String],
                              private[score] val lowerWins: Boolean) {
    /** Summed integer step gradients (kind, id, pos, g) of the margin loss
      * over the edges `ed` (src, rel, dst, neg) under state `e`. `own`
      * materializes a step temporary the loop releases after the step. */
    private[score] def grads(e: DataFrame, ed: DataFrame, gamma: Double,
                             own: DataFrame => DataFrame): DataFrame
    /** Relation vectors as the estimate reads them. */
    private[score] def relVecs(v: Seq[Column]): Seq[Column] = v
    private[score] def estimate(h: Seq[Column], r: Seq[Column]): Seq[Column]
    private[score] def score(est: Seq[Column], c: Seq[Column]): Column
  }

  object Model {
    /** The model named `name`, case-insensitively. */
    def named(name: String): Model =
      Seq(TransE, DistMult, ComplEx, RotatE)
        .find(_.toString.equalsIgnoreCase(name))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown model '$name' (transe|distmult|complex|rotate)"))

    /** TransE, s = ‖h + r − t‖₁ (see the object scaladoc). Eval ranks by
      * the micro-int L1 distance of h + r ascending, in the fused
      * one-pass kernel (the aggregate∘zip_with form materializes the
      * per-element |a−b| array for every (edge, candidate) row). */
    case object TransE extends Model(Seq("ent", "rel"), lowerWins = true) {
      private[score] def grads(e: DataFrame, ed: DataFrame, gamma: Double,
                               own: DataFrame => DataFrame): DataFrame = {
        // (edge × dim) rows with all four parameter scalars; the h join has
        // no pos key — it IS the dim expansion.
        val dm = own(ed
          .join(side(e, "ent", "src", "h"), Seq("src"))
          .join(side(e, "rel", "rel", "r"), Seq("rel", "pos"))
          .join(side(e, "ent", "dst", "t"), Seq("dst", "pos"))
          .join(side(e, "ent", "neg", "tn"), Seq("neg", "pos")))
        val (dPos, dNeg) = (col("h") + col("r") - col("t"),
                            col("h") + col("r") - col("tn"))
        hingeGrads(dm, abs(dPos), abs(dNeg), lit(gamma) + _ - _ > 0,
          Seq(("ent", "src", col("s") - col("sp")), ("ent", "dst", -col("s")),
              ("ent", "neg", col("sp")), ("rel", "rel", col("s") - col("sp"))),
          _.select(col("*"), signum(dPos).as("s"), signum(dNeg).as("sp")))
      }
      private[score] def estimate(h: Seq[Column], r: Seq[Column]) =
        Seq(zip_with(h.head, r.head, _ + _))
      private[score] def score(est: Seq[Column], c: Seq[Column]) =
        graft.functions.ArrayKernels.arrayL1Long(est.head, c.head)
    }

    /** DistMult (bilinear-diagonal: s = Σ_i h_i·r_i·t_i, distmult.py
      * semantics) under L = max(0, γ − s(h,r,t) + s(h,r,t′)). Active-hinge
      * gradients are MULTIPLICATIVE (∂h_i = r_i(t′_i − t_i),
      * ∂r_i = h_i(t′_i − t_i), ∂t_i = −h_i r_i, ∂t′_i = +h_i r_i), so the
      * L1 sign trick does not apply. The exactness discipline here is
      * INTEGER MICRO-UNITS: embeddings are quantized to the 1e-6 grid
      * (hᵢ = round(x·1e6)), every gradient contribution is then an exact
      * product of ≤2e6-magnitude integers (fits a long), and the
      * scatter-add sums INTEGERS — order-independent, so any engine
      * reproduces the summed gradient bit-for-bit. The hinge compares
      * exact decimal(38,0) score sums (products of three micro-ints —
      * beyond long range, inside decimal's), leaving ZERO float-route
      * exposure in the step's decisions; the update is [[microUpdate]].
      * Eval ranks by the score DESCENDING: s(hr, c) = Σ_i hr_i · c_i with
      * hr_i = h_i·r_i (≤ m²: long-safe); the outer micro³ product exceeds
      * the long lane at micro magnitude m ≈ 2.1e6 (a trained state
      * legitimately exceeds |x| > 2), so the sum runs in the fused
      * Int128Dot kernel — exact signed-128-bit accumulation. */
    case object DistMult extends Model(Seq("ent", "rel"), lowerWins = false) {
      private[score] def grads(e: DataFrame, ed: DataFrame, gamma: Double,
                               own: DataFrame => DataFrame): DataFrame = {
        val dm = own(ed
          .join(side(e, "ent", "src", "hi", micro), Seq("src"))
          .join(side(e, "rel", "rel", "ri", micro), Seq("rel", "pos"))
          .join(side(e, "ent", "dst", "ti", micro), Seq("dst", "pos"))
          .join(side(e, "ent", "neg", "tni", micro), Seq("neg", "pos")))
        // Exact score sums in decimal(38,0): hi·ri fits a long (≤ 4e12), the
        // triple product does not (≤ 8e18·dim) — decimal carries it exactly.
        // γ in micro³ (1e-18) units: hinge active iff γ·1e18 − sp + sn > 0.
        val hr = (col("hi") * col("ri")).cast("decimal(38,0)")
        hingeGrads(dm, hr * col("ti"), hr * col("tni"),
          gammaNum(gamma, 18) - _ + _ > 0,
          // Gradient numerators in micro² (1e-12) units — exact longs.
          Seq(("ent", "src", col("ri") * (col("tni") - col("ti"))),
              ("rel", "rel", col("hi") * (col("tni") - col("ti"))),
              ("ent", "dst", -col("hi") * col("ri")),
              ("ent", "neg", col("hi") * col("ri"))))
      }
      private[score] def estimate(h: Seq[Column], r: Seq[Column]) =
        Seq(zip_with(h.head, r.head, _ * _))
      private[score] def score(est: Seq[Column], c: Seq[Column]) =
        graft.functions.ArrayKernels.int128Dot(est.head, c.head)
    }

    /** ComplEx (complex.py semantics: s = Re⟨h, r, conj(t)⟩ =
      * Σ_i (a_i c_i − b_i d_i) e_i + (a_i d_i + b_i c_i) f_i for h = a+bi,
      * r = c+di, t = e+fi) under DistMult's margin loss and INTEGER
      * MICRO-UNIT discipline: score sums as exact decimal(38,0) micro³
      * (the complex cross terms (ac−bd)/(ad+bc) fit a long, the product
      * with the tail does not), gradients as exact micro² longs.
      * Active-hinge gradients follow the product rule on the real-part
      * expansion:
      *   ∂a = c·Δe + d·Δf, ∂b = −d·Δe + c·Δf,  (Δe = e′−e, Δf = f′−f)
      *   ∂c = a·Δe + b·Δf, ∂d = −b·Δe + a·Δf,
      *   ∂e = −(ac−bd), ∂f = −(ad+bc), ∂e′/∂f′ the positives.
      * State kinds ent_re|ent_im|rel_re|rel_im; each step pivots them back
      * to complex rows. Eval ranks by Re⟨h, r, conj(c)⟩ DESCENDING: the
      * per-edge product (re, im) is precomputed once (micro² longs) and
      * each dot runs in the fused Int128Dot kernel (micro³ products
      * exceed the long lane at m ≈ 1.66e6; a one-step sf0.1 state
      * already measures 1.60e6). */
    case object ComplEx extends Model(
        Seq("ent_re", "ent_im", "rel_re", "rel_im"), lowerWins = false) {
      private[score] def grads(e: DataFrame, ed: DataFrame, gamma: Double,
                               own: DataFrame => DataFrame): DataFrame = {
        val cents = own(pivot(e, "ent_re", "ent_im"))
        val crels = pivot(e, "rel_re", "rel_im")
        val dm = own(ed
          .join(cside(cents, "src", "a", "b"), Seq("src")) // pos expansion
          .join(cside(crels, "rel", "c", "d"), Seq("rel", "pos"))
          .join(cside(cents, "dst", "e", "f"), Seq("dst", "pos"))
          .join(cside(cents, "neg", "ep", "fp"), Seq("neg", "pos")))
        // Cross terms fit a long (≤ 2e12); the tail product needs decimal.
        val reHR = (col("a") * col("c") - col("b") * col("d"))
          .cast("decimal(38,0)")
        val imHR = (col("a") * col("d") + col("b") * col("c"))
          .cast("decimal(38,0)")
        hingeGrads(dm, reHR * col("e") + imHR * col("f"),
          reHR * col("ep") + imHR * col("fp"),
          gammaNum(gamma, 18) - _ + _ > 0,
          // Micro² gradient contributions — exact longs.
          Seq(("ent_re", "src", col("c") * col("de") + col("d") * col("df")),
              ("ent_im", "src", -col("d") * col("de") + col("c") * col("df")),
              ("rel_re", "rel", col("a") * col("de") + col("b") * col("df")),
              ("rel_im", "rel", -col("b") * col("de") + col("a") * col("df")),
              ("ent_re", "dst", -(col("a") * col("c") - col("b") * col("d"))),
              ("ent_im", "dst", -(col("a") * col("d") + col("b") * col("c"))),
              ("ent_re", "neg", col("a") * col("c") - col("b") * col("d")),
              ("ent_im", "neg", col("a") * col("d") + col("b") * col("c"))),
          _.withColumn("de", col("ep") - col("e"))
            .withColumn("df", col("fp") - col("f")))
      }
      private[score] def estimate(h: Seq[Column], r: Seq[Column]) =
        cmul(h(0), h(1), r(0), r(1))
      private[score] def score(est: Seq[Column], c: Seq[Column]) =
        graft.functions.ArrayKernels.int128Dot(est(0), c(0)) +
          graft.functions.ArrayKernels.int128Dot(est(1), c(1))
    }

    /** RotatE (rotate.py:51-79 estimate semantics: entity = complex re‖im,
      * relation = phase vector θ, rotated head h∘r = (a·cosθ − b·sinθ) +
      * i(a·sinθ + b·cosθ)) under the shared margin loss. The TRAINING
      * distance is component-wise L1 over the real and imaginary
      * residuals, D = Σ_i (|Re_i| + |Im_i|) — the determinism-compatible
      * member of RotatE's distance family (the paper's per-dimension
      * complex modulus carries a sqrt whose gradient divides by the
      * modulus: no exact cross-engine oracle exists for it; inference
      * keeps the true modulus via [[KGE]]'s RotatE scorer).
      *
      * Exactness discipline: the phase is quantized to the 1e-6 grid and
      * cos/sin OF THE QUANTIZED phase are re-quantized to micro ints c̃/s̃,
      * so the residuals U = a·c̃ − b·s̃ − e·10⁶ and V = a·s̃ + b·c̃ − f·10⁶
      * are exact longs and the hinge compares exact micro² sums. Component
      * L1 restores TransE's sign trick (∂|U|/∂x = sgn(U)·∂U/∂x); the phase
      * gradient uses the rotation derivative ∂Re/∂θ = −Im_est,
      * ∂Im/∂θ = +Re_est, both exact micro² ints. Every contribution is an
      * integer; the scatter-add is order-independent. State kinds
      * ent_re|ent_im|rel_ph. Eval ranks by the same component-L1 distance
      * Σ|Re_i − e_i·10⁶| + |Im_i − f_i·10⁶| ASCENDING (exact longs). */
    case object RotatE extends Model(
        Seq("ent_re", "ent_im", "rel_ph"), lowerWins = true) {
      private val M = lit(1000000L)
      private[score] def grads(e: DataFrame, ed: DataFrame, gamma: Double,
                               own: DataFrame => DataFrame): DataFrame = {
        val cents = own(pivot(e, "ent_re", "ent_im"))
        // Quantized-phase trig, itself micro-quantized: both engines evaluate
        // cos/sin of the SAME exactly-representable double th/1e6 and round to
        // the 1e-6 grid (phases are sin() values, so |θ| <= 1: well inside the
        // well-conditioned range of the vecElem determinism contract).
        val rside = side(e, "rel_ph", "rel", "th", micro)
          .select(col("rel"), col("pos"),
                  micro(cos(col("th") / lit(1e6))).as("c"),
                  micro(sin(col("th") / lit(1e6))).as("sn"))
        val dm = own(ed
          .join(cside(cents, "src", "a", "b"), Seq("src")) // pos expansion
          .join(rside, Seq("rel", "pos"))
          .join(cside(cents, "dst", "e", "f"), Seq("dst", "pos"))
          .join(cside(cents, "neg", "ep", "fp"), Seq("neg", "pos"))
          .withColumn("u", col("a") * col("c") - col("b") * col("sn") - col("e") * M)
          .withColumn("v", col("a") * col("sn") + col("b") * col("c") - col("f") * M)
          .withColumn("up", col("a") * col("c") - col("b") * col("sn") - col("ep") * M)
          .withColumn("vp", col("a") * col("sn") + col("b") * col("c") - col("fp") * M))
        // γ in micro² units: hinge active iff γ·1e12 + D_pos − D_neg > 0.
        // Micro² gradient contributions — exact longs. Entity-side partials
        // are micro (sign × c̃/s̃) scaled by 1e6; tail partials pure signs
        // scaled by 1e12; phase partials sign × Re_est/Im_est, already micro².
        hingeGrads(dm,
          (abs(col("u")) + abs(col("v"))).cast("decimal(38,0)"),
          (abs(col("up")) + abs(col("vp"))).cast("decimal(38,0)"),
          gammaNum(gamma, 12) + _ - _ > 0,
          Seq(("ent_re", "src", ((col("su") - col("sup")) * col("c")
                 + (col("sv") - col("svp")) * col("sn")) * M),
              ("ent_im", "src", (-(col("su") - col("sup")) * col("sn")
                 + (col("sv") - col("svp")) * col("c")) * M),
              ("ent_re", "dst", -col("su") * M * M),
              ("ent_im", "dst", -col("sv") * M * M),
              ("ent_re", "neg", col("sup") * M * M),
              ("ent_im", "neg", col("svp") * M * M),
              ("rel_ph", "rel", (col("sv") - col("svp"))
                 * (col("a") * col("c") - col("b") * col("sn"))
                 - (col("su") - col("sup"))
                   * (col("a") * col("sn") + col("b") * col("c")))),
          _.withColumn("su", signum(col("u")).cast("long"))
            .withColumn("sv", signum(col("v")).cast("long"))
            .withColumn("sup", signum(col("up")).cast("long"))
            .withColumn("svp", signum(col("vp")).cast("long")))
      }
      // Quantized-phase trig vectors c̃/s̃ per relation.
      override private[score] def relVecs(v: Seq[Column]) =
        Seq(transform(v.head, t => micro(cos(t / lit(1e6)))),
            transform(v.head, t => micro(sin(t / lit(1e6)))))
      private[score] def estimate(h: Seq[Column], r: Seq[Column]) =
        cmul(h(0), h(1), r(0), r(1))
      // D(re, im; e, f) = Σ |re − e·10⁶| + |im − f·10⁶| — exact longs.
      private[score] def score(est: Seq[Column], c: Seq[Column]) =
        aggregate(zip_with(zip_with(est(0), c(0), (x, y) => abs(x - y * M)),
                           zip_with(est(1), c(1), (x, y) => abs(x - y * M)),
                           _ + _),
                  lit(0L), (acc, x) => acc + x)
    }
  }

  /** How a TransE step's summed sign gradients move the state. Every rule
    * keeps the state on a grid any ANSI engine replays bit-for-bit. */
  sealed abstract class Optimizer {
    /** The optimizer state after this step's gradients, from the last
      * one (null before step 1); null for a rule that keeps none. */
    private[score] def state(prev: DataFrame, grads: DataFrame): DataFrame =
      null
    /** Step k's update of the parameters `e` (kind, id, pos, x). */
    private[score] def update(e: DataFrame, grads: DataFrame, st: DataFrame,
                              k: Int, lr: Double): DataFrame
  }

  object Optimizer {
    /** Plain SGD, x ← round₆(x − g·lr): with the L1 sign gradients and
      * lr = 2⁻⁵ every update is an exact multiple of lr. */
    case object Sgd extends Optimizer {
      private[score] def update(e: DataFrame, grads: DataFrame, st: DataFrame,
                                k: Int, lr: Double): DataFrame =
        e.join(grads, stateKey, "left")
          .select(col("kind"), col("id"), col("pos"),
                  round(col("x") - coalesce(col("g"), lit(0.0)) * lr, 6).as("x"))
    }

    /** Classical momentum (Polyak heavy ball): vₖ = μ·vₖ₋₁ + gₖ,
      * xₖ = xₖ₋₁ − lr·vₖ. With a power-of-two μ (default 1/2) every
      * velocity is an exact dyadic rational — μ·v is a pure exponent shift
      * in IEEE arithmetic — so the velocity state needs NO quantization and
      * any ANSI engine replays the trajectory bit-for-bit (the momentum
      * analogue of the L1 sign trick). The velocity lives long-form beside
      * the parameters: one extra equi-join per step, the same shuffle
      * class as the state join. */
    final case class Momentum(mu: Double = 0.5) extends Optimizer {
      require(mu > 0, s"mu must be positive, got $mu")
      // vₖ = μ·vₖ₋₁ + gₖ over the union of supports (either side may be
      // absent for a parameter this step); exact dyadic doubles, no rounding.
      override private[score] def state(prev: DataFrame, grads: DataFrame) =
        if (prev == null) grads.select(col("kind"), col("id"), col("pos"),
                                       col("g").cast("double").as("v"))
        else prev.join(grads, stateKey, "full_outer")
          .select(col("kind"), col("id"), col("pos"),
                  (coalesce(col("v"), lit(0.0)) * mu
                    + coalesce(col("g"), lit(0.0))).as("v"))
      private[score] def update(e: DataFrame, grads: DataFrame, st: DataFrame,
                                k: Int, lr: Double): DataFrame =
        e.join(st, stateKey, "left")
          .select(col("kind"), col("id"), col("pos"),
                  round(col("x") - coalesce(col("v"), lit(0.0)) * lr, 6).as("x"))
    }

    /** ADAGRAD (Duchi et al. 2011): per-parameter adaptive rate
      * lr/√(Σₖ gₖ²). Exactness contract: the L1-sign gradients are
      * INTEGERS, so the accumulator aₖ = aₖ₋₁ + gₖ² is an exact long — no
      * quantization needed — and the per-step update runs entirely in
      * micro-integer arithmetic: mₖ = floor(lr·10⁶/√aₖ) micro-units,
      * microX ← microX − g·mₖ. The only floating-point ops (√, ÷, floor)
      * are IEEE-correctly-rounded on identical inputs in any engine, and
      * no decimal rounding ever runs — the .5·10⁻⁶ tie class that bit
      * [[microUpdate]] cannot occur by construction. The floor-quantized
      * adaptive rate is the documented semantic difference from textbook
      * AdaGrad (a sub-micro rate truncates to zero once a > (lr·10⁶)²). */
    case object Adagrad extends Optimizer {
      override private[score] def state(prev: DataFrame, grads: DataFrame) =
        if (prev == null) grads.select(col("kind"), col("id"), col("pos"),
                                       (col("g") * col("g")).cast("long").as("a"))
        else prev.join(grads, stateKey, "full_outer")
          .select(col("kind"), col("id"), col("pos"),
                  (coalesce(col("a"), lit(0L)) +
                    (coalesce(col("g"), lit(0.0)) *
                      coalesce(col("g"), lit(0.0))).cast("long")).as("a"))
      // Untouched cells are pinned to the same 1e-6 micro grid the touched
      // branch starts from: a raw sin carry-through differs from DuckDB's
      // SIN at ulp level — 6dp-green but not bit-exact — and the grid
      // costs nothing since every touched cell already lives on it.
      private[score] def update(e: DataFrame, grads: DataFrame, st: DataFrame,
                                k: Int, lr: Double): DataFrame =
        e.join(grads, stateKey, "left")
          .join(st, stateKey, "left")
          .select(col("kind"), col("id"), col("pos"),
            when(coalesce(col("g"), lit(0.0)) === 0,
                 micro(col("x")).cast("double") / 1e6)
              .otherwise(
                (micro(col("x")) -
                  col("g").cast("long") *
                    floor(lit(lr * 1e6) / sqrt(col("a"))).cast("long"))
                  .cast("double") / 1e6)
              .as("x"))
    }

    /** ADAM (Kingma & Ba 2015) with β₁ = β₂ = ½ — the dyadic choice that
      * makes BOTH moment states exactly replayable: mₖ = ½mₖ₋₁ + ½gₖ and
      * vₖ = ½vₖ₋₁ + ½gₖ² are exact dyadic rationals (halving is an IEEE
      * exponent shift; the L1-sign gradients g and g² are integers), so
      * like the momentum velocity they need NO quantization. Bias
      * corrections 1 − 2⁻ᵏ are exact dyadics too; the remaining √/÷ run in
      * IEEE doubles (identical cross-engine) and the state update is the
      * same floor-quantized micro-integer step as [[Adagrad]] — no decimal
      * rounding, no tie class. */
    case object Adam extends Optimizer {
      // Decay applies to params without a gradient this step too (full
      // outer join on the supports).
      override private[score] def state(prev: DataFrame, grads: DataFrame) =
        if (prev == null) grads.select(col("kind"), col("id"), col("pos"),
                                       (col("g") * 0.5).as("m"),
                                       (col("g") * col("g") * 0.5).as("w"))
        else prev.join(grads, stateKey, "full_outer")
          .select(col("kind"), col("id"), col("pos"),
            (coalesce(col("m"), lit(0.0)) * 0.5 +
              coalesce(col("g"), lit(0.0)) * 0.5).as("m"),
            (coalesce(col("w"), lit(0.0)) * 0.5 +
              coalesce(col("g"), lit(0.0)) *
                coalesce(col("g"), lit(0.0)) * 0.5).as("w"))
      // microX ← microX − sign(m)·floor(lr·10⁶·|m|/bc / √(w/bc)): the
      // AdaGrad floor-micro step with bias-corrected moments. The
      // expression order is mirrored VERBATIM by the oracle — float
      // associativity is part of the contract. Untouched cells are
      // micro-grid-pinned as in Adagrad.
      private[score] def update(e: DataFrame, grads: DataFrame, st: DataFrame,
                                k: Int, lr: Double): DataFrame = {
        val bc = 1.0 - math.pow(0.5, k) // bias-correction 1 − βᵏ (dyadic)
        e.join(st, stateKey, "left")
          .select(col("kind"), col("id"), col("pos"),
            when(coalesce(col("m"), lit(0.0)) === 0,
                 micro(col("x")).cast("double") / 1e6)
              .otherwise(
                (micro(col("x")) -
                  signum(col("m")).cast("long") *
                    floor(lit(lr * 1e6) * abs(col("m")) / lit(bc) /
                          sqrt(col("w") / lit(bc))).cast("long"))
                  .cast("double") / 1e6)
              .as("x"))
      }
    }
  }

  /** The integer-micro update of the multiplicative families. */
  private object MicroSgd extends Optimizer {
    private[score] def update(e: DataFrame, grads: DataFrame, st: DataFrame,
                              k: Int, lr: Double): DataFrame =
      e.join(grads, stateKey, "left")
        .select(col("kind"), col("id"), col("pos"),
                microUpdate(col("x"), col("g"), lr).as("x"))
  }

  /** Imaginary-part seed offset: the im vector of id under seed s is the
    * deterministic vector under s + IM_SEED_OFFSET. */
  val IM_SEED_OFFSET = 2.0

  /** `steps` SGD steps of `model` (TransE takes plain SGD here; see
    * [[transeSgd]] for its optimizers). The parameter state lives
    * LONG-FORM between steps — (kind, id, pos, x) scalar rows, the same
    * shape the scatter-add produces — so each step is four equi-joins
    * onto the edge×dim frame, one hinge aggregate, and one scatter-add; no
    * vector ever crosses a shuffle whole. Step outputs sit on the 6-dp
    * grid before feeding the next step (the quantize-iterative-state
    * trick, as in k-means), keeping the cross-engine trajectory
    * identical; per-step localCheckpoint truncates the loop's lineage. */
  def sgd(model: Model, entities: DataFrame, edges: DataFrame, dim: Int,
          entSeed: Double, relSeed: Double, steps: Int = 1,
          gamma: Double = 1.0, lr: Double = 0.03125): DataFrame =
    loop(model, if (model == Model.TransE) Optimizer.Sgd else MicroSgd,
         entities, edges, dim, entSeed, relSeed, steps, gamma, lr)

  /** `steps` TransE steps under `optimizer`. `hashNeg` swaps the cyclic
    * corruption for the portable-hash draw ([[hashNegEdges]]) — same
    * margin loss, same L1-sign exactness — for a single plain-SGD step. */
  def transeSgd(entities: DataFrame, edges: DataFrame, dim: Int,
                entSeed: Double, relSeed: Double, steps: Int = 1,
                gamma: Double = 1.0, lr: Double = 0.03125,
                optimizer: Optimizer = Optimizer.Sgd,
                hashNeg: Boolean = false): DataFrame = {
    require(!hashNeg || (steps == 1 && optimizer == Optimizer.Sgd),
            "hashNeg currently supports a single step")
    loop(Model.TransE, optimizer, entities, edges, dim, entSeed, relSeed,
         steps, gamma, lr, hashNeg = hashNeg)
  }

  /** One mini-batched TransE EPOCH: the edge set is hash-partitioned into
    * `batches` disjoint mini-batches (portable md5 hash of "src|rel|dst" —
    * the [[graft.eval.Workload.trainKeep]] split discipline, so any ANSI
    * engine reproduces batch membership exactly), and one SGD step runs
    * per batch in batch order. This is the reference's actual training
    * schedule (shuffled mini-batches per epoch) with the shuffle replaced
    * by a deterministic hash partition — same convergence behavior,
    * oracle-checkable trajectory. */
  def transeSgdEpoch(entities: DataFrame, edges: DataFrame, dim: Int,
                     entSeed: Double, relSeed: Double, batches: Int,
                     gamma: Double = 1.0, lr: Double = 0.03125): DataFrame = {
    require(batches > 0, s"batches must be positive, got $batches")
    loop(Model.TransE, Optimizer.Sgd, entities, edges, dim, entSeed, relSeed,
         batches, gamma, lr, batches = batches)
  }

  /** The one SGD loop: `batches` = 0 runs every step over ALL edges;
    * `batches` = steps > 0 runs step k over mini-batch k−1. The loop owns
    * its blocks: once step k's state is materialized it releases step
    * k−1's state and optimizer state and step k's temporaries, and after
    * the last step the entity set, its index and the edge frame, so a run
    * leaves only the returned state's blocks behind. */
  private def loop(model: Model, rule: Optimizer, entities: DataFrame,
                   edges: DataFrame, dim: Int, entSeed: Double,
                   relSeed: Double, steps: Int, gamma: Double, lr: Double,
                   batches: Int = 0, hashNeg: Boolean = false): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(steps > 0, s"steps must be positive, got $steps")
    val ents = entities.select(col("id").cast("long").as("id")).distinct()
      .localCheckpoint(true) // index + base-embedding consumers
    val idx = graft.metric.Ranking.globalIndexPacked(ents, "id")
    val edc = longEdges(edges)
    val ed0 =
      if (hashNeg) hashNegEdges(idx, edc)
      else edc.join(cyclicNextMap(idx), "dst") // shuffled equi-join; map is entity-sized
    // consumed once per step (the step's fan-out is its checkpointed
    // point), so a 1-step loop skips the job
    val ed = ckIf(if (batches > 0) ed0.withColumn("_mb", batchId(batches))
                  else ed0, steps > 1)
    val rels = edc.select(col("rel").as("id")).distinct()
    var e = model.kinds.map { kind =>
      val (ids, seed) =
        if (kind.startsWith("rel")) (rels, relSeed) else (ents, entSeed)
      ids.select(lit(kind).as("kind"), col("id"),
        posexplode(Embeddings.deterministicVec(col("id"), dim,
          if (kind.endsWith("_im")) seed + IM_SEED_OFFSET else seed))
          .as(Seq("pos", "x")))
    }.reduce(_ unionAll _).localCheckpoint(true)
    var st: DataFrame = null // the optimizer's state, when it keeps one
    for (k <- 1 to steps) {
      val temps = ArrayBuffer.empty[DataFrame]
      val grads = model.grads(e,
        if (batches > 0) ed.filter(col("_mb") === k - 1) else ed, gamma,
        df => { val m = df.localCheckpoint(true); temps += m; m })
      val (e0, st0) = (e, st)
      st = Option(rule.state(st, grads)).map(ckIf(_, k < steps)).orNull
      e = rule.update(e, grads, st, k, lr).localCheckpoint(true)
      release(e0 +: st0 +: temps.toSeq: _*)
    }
    release(ents, idx, if (steps > 1) ed else null) // a lazy ed reads `edges`
    e.select(col("kind"), col("id"), col("pos").cast("long").as("pos"),
             col("x"))
  }

  /** Micro-int vector per id for one state kind: (id, v) with v[pos] =
    * round(x·1e6) — the packed form every eval scores over: the
    * per-candidate score is then a single codegen'd kernel over two array
    * attributes instead of a dim-way join keyed on `pos` (8 distinct
    * keys = 8-partition parallelism and an (edges×ents×dim)-row shuffle;
    * this form shuffles nothing but the final ~|edges|-group count). */
  private def kindVecs(params: DataFrame, kind: String): DataFrame =
    params.filter(col("kind") === kind)
      .select(col("id"), col("pos"), micro(col("x")).as("xi"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("xi")))),
                     s => s.getField("xi")).as("v"))

  /** Link-prediction tail ranks of each edge under `model`'s long-form
    * parameter frame ((kind,id,pos,x) as the trainers produce it) — the
    * reference's in-training eval checkpoint (lmpnn.py's
    * evaluate-every-N-steps loop) as one relational pass. Scores are
    * exact micro-int sums (the state is 6-dp quantized), so every rank is
    * engine-exact; ties break toward the smaller candidate id. The
    * candidate universe is every entity in the frame: the standard
    * exhaustive eval, the long-form A5 shape this repo uses everywhere
    * (no dense ranking matrix).
    *
    * TransE only:
    *  - `candMod` > 1 samples the candidates to the hash-drawn entity slice
    *    `md5₆₀(id) % candMod == 0` (the true tail's own score still exact;
    *    it ranks against the sampled pool only) — the standard sampled
    *    eval protocol where the exhaustive (edges × entities) pair count
    *    is unaffordable, and the scale path PLANS.md prescribes at a
    *    1e9-entity KG. The draw is the portable md5 hash, so a DuckDB
    *    oracle replays the identical slice.
    *  - `filter` gives FILTERED ranks (Bordes et al. protocol): a candidate
    *    `c ≠ t` leaves edge (s,r,t)'s pool when (s,r,c) is itself a known
    *    true triple in the filter set — the reference's own
    *    subtract-better-known-answers correction
    *    (`utils/metric.py:97-108`), computed as the unfiltered rank MINUS
    *    a correction counted over the filter set only: the correction
    *    frame is ∝ |eval edges ⋈ filter on (s,r)|, never the
    *    (edges × entities) candidate product. */
  def ranks(model: Model, params: DataFrame, edges: DataFrame,
            candMod: Int = 1, filter: Option[DataFrame] = None): DataFrame = {
    require(candMod > 0, s"candMod must be positive, got $candMod")
    require(model == Model.TransE || (candMod == 1 && filter.isEmpty),
            s"sampled and filtered eval are transe-only, got $model")
    graft.functions.ArrayKernels.register(params.sparkSession)
    // Packed vectors of `kinds`, one column per kind: (id, v0, v1, …).
    def packed(kinds: Seq[String]) = kinds.zipWithIndex
      .map { case (k, i) => kindVecs(params, k).withColumnRenamed("v", s"v$i") }
      .reduce(_.join(_, Seq("id")))
    val (entKinds, relKinds) = model.kinds.partition(!_.startsWith("rel"))
    val ev = packed(entKinds).localCheckpoint(true) // heads, tails, candidates
    val rv = packed(relKinds)
    def cols(p: String, n: Int) = (0 until n).map(i => col(s"$p$i"))
    // (key, p0, p1, …) from the packed columns `cs`.
    def role(df: DataFrame, key: String, p: String, cs: Seq[Column]) =
      df.select(col("id").as(key) +:
        cs.zipWithIndex.map { case (c, i) => c.as(s"$p$i") }: _*)
    val (ne, rvs) = (entKinds.size, model.relVecs(cols("v", relKinds.size)))
    val est0 = model.estimate(cols("h", ne), cols("r", rvs.size))
    val ests = cols("e", est0.size)
    // Per-edge estimate and true-tail score: three equi-joins on an
    // eval-batch-sized frame.
    val est = longEdges(edges)
      .join(role(ev, "src", "h", cols("v", ne)), Seq("src"))
      .join(role(rv, "rel", "r", rvs), Seq("rel"))
      .join(role(ev, "dst", "t", cols("v", ne)), Seq("dst"))
      .select(col("*") +:
        est0.zipWithIndex.map { case (c, i) => c.as(s"e$i") }: _*)
      .select(Seq(col("src"), col("rel"), col("dst")) ++ ests :+
        model.score(ests, cols("t", ne)).as("st"): _*)
      .localCheckpoint(true) // sized below, then joined against candidates
    // Candidates stream; the eval batch ships to them — broadcast when it
    // is genuinely small (the bruteTopK discipline), plain nested-loop
    // otherwise.
    val estSide = if (est.count() <= 100000L) broadcast(est) else est
    val cands0 = role(ev, "cand", "c", cols("v", ne))
    val cands = if (candMod == 1) cands0
      else cands0.filter(pmod(graft.functions.PortableHash.md5Prefix60(
        col("cand").cast("string")), lit(candMod.toLong)) === 0)
    val beats = when((if (model.lowerWins) col("s") < col("st")
                      else col("s") > col("st"))
      || (col("s") === col("st") && col("cand") < col("dst")), 1).otherwise(0)
    def scored(df: DataFrame) = df
      .select(col("src"), col("rel"), col("dst"), col("cand"), col("st"),
              model.score(ests, cols("c", ne)).as("s"))
      .groupBy("src", "rel", "dst")
    val ranks = scored(cands.join(estSide, col("cand") =!= col("dst")))
      .agg((lit(1) + sum(beats)).as("rank"))
    filter match {
      case None => ranks
      case Some(f) =>
        val fe = longEdges(f).select(col("src"), col("rel"),
                                     col("dst").as("cand")).distinct()
        val corr = scored(est.join(fe, Seq("src", "rel"))
            .filter(col("cand") =!= col("dst"))
            .join(cands0, Seq("cand")))
          .agg(sum(beats).as("corr"))
        ranks.join(corr, Seq("src", "rel", "dst"), "left")
          .select(col("src"), col("rel"), col("dst"),
                  (col("rank") - coalesce(col("corr"), lit(0L))).as("rank"))
    }
  }
}
