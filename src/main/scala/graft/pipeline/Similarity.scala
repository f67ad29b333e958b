package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.ArrayKernels
import graft.score.{Embeddings, VectorOps}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteTopK]] — exact cosine top-k; the correctness baseline. The
  *    query side is broadcast; the corpus scan stays partition-parallel, and
  *    the per-query top-k is a WindowGroupLimit (rank pushdown, no full sort).
  *  - [[lshTopK]] — random-hyperplane LSH: corpus bucketed by sign
  *    signature; queries probe their bucket only. At 100 TB the bucket join
  *    replaces the |Q|×|corpus| cross product with |Q|×(corpus/2^planes)
  *    on average; multi-probe unions p independent tables to recover recall.
  */
object Similarity {

  /** Exact cosine top-k for each query id. Output: (query_id, neighbor_id,
    * rank, cos). Self-matches excluded. Scoring runs on the fused
    * [[ArrayKernels.arrayCosine]] codegen kernel — the |Q|×|corpus| scan is
    * the hot loop, and interpreted higher-order-function lambdas cost ~100×
    * per element. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    ArrayKernels.register(corpus.sparkSession)
    val scored = corpus.select(col("id").as("nid"), col("vec").as("nvec"))
      .crossJoin(broadcast(
        queries.select(col("id").as("qid"), col("vec").as("qvec"))))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
              ArrayKernels.arrayCosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
              round(col("cos"), 6).as("cos"))
  }

  /** Sign-signature bucket from `planes` deterministic random hyperplanes:
    * bit j = sign(dot(vec, plane_j)).
    *
    * Planes are materialized driver-side as array literals (plane_j[i] =
    * sin((j·131 + i + 1)·0.7 + seed), identical values to the former
    * in-plan formulation — Spark's `sin` is java.lang.Math.sin) and dotted
    * with the fused native kernel: whole-stage codegen, no per-element
    * lambda interpretation, no index-array allocation per row. `dim` must
    * be >= the vector width — the kernel truncates to the shorter side, so
    * a narrower plane would silently bucket on a vector prefix (degraded
    * recall with no error). There is deliberately NO default: callers
    * pass the real width, or derive it from the data via [[vecDim]] as
    * [[lshTopK]] / Dedup.embeddingPairs do. Callers must have
    * [[ArrayKernels]] registered. */
  def hyperplaneBucket(vec: Column, planes: Int, seed: Double,
                       dim: Int): Column =
    (0 until planes).map { j =>
      val plane = typedLit(
        (0 until dim).map(i => math.sin((j * 131 + i + 1) * 0.7 + seed)))
      when(ArrayKernels.arrayDot(vec, plane) > 0,
           lit(1L << (planes - 1 - j))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Width of a vector column, read from the first non-null row — one tiny
    * job, run once per operator call, so wider-than-assumed embeddings can
    * never silently bucket on a prefix. Returns 0 on an empty/all-null
    * frame (all buckets collapse to 0; the join output is empty anyway).
    * Single-row sample by design: ragged widths are the caller's contract,
    * not detectable without a full scan. */
  private[graft] def vecDim(df: DataFrame, vecCol: String = "vec"): Int =
    df.select(size(col(vecCol)).as("sz")).na.drop("any")
      .head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** LSH-bucketed approximate top-k with `probes` independent hash tables.
    * Same output shape as [[bruteTopK]]; recall < 1 by construction.
    * `dim` <= 0 (the default) derives the vector width from the corpus. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              planes: Int = 8, probes: Int = 2, seed: Double = 4.2,
              dim: Int = -1): DataFrame = {
    ArrayKernels.register(corpus.sparkSession)
    val d = if (dim > 0) dim else vecDim(corpus)
    val tables = (0 until probes).map { p =>
      val s = seed + p * 17.31
      val c = corpus.select(col("id").as("nid"), col("vec").as("nvec"),
                            hyperplaneBucket(col("vec"), planes, s, d).as("bucket"))
      val q = queries.select(col("id").as("qid"), col("vec").as("qvec"),
                             hyperplaneBucket(col("vec"), planes, s, d).as("bucket"))
      c.join(broadcast(q), "bucket").filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("nid"), col("qvec"), col("nvec"))
    }
    val cands = tables.reduce(_ unionAll _).distinct()
      .select(col("qid"), col("nid"),
              ArrayKernels.arrayCosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
              round(col("cos"), 6).as("cos"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `nCentroids` deterministic centroids (sin-seeded), search only the
    * query's cell (± none — single-cell for simplicity; multi-cell probing
    * unions like lshTopK). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, dim: Int, seed: Double = 2.7): DataFrame = {
    ArrayKernels.register(corpus.sparkSession)
    def cellOf(vec: Column): Column = {
      // Centroids as driver-side literals (same sin-seeded values as
      // Embeddings.deterministicVec) + fused native dots; argmin via the
      // same (neg-dot, cell) struct min as before.
      val scored = (0 until nCentroids).map { c =>
        val cvec = typedLit(
          (1 to dim).map(i => math.sin((c % 9973 + 1) * i * 0.017 + seed)))
        struct((-ArrayKernels.arrayDot(vec, cvec)).as("negdot"),
               lit(c).as("cell"))
      }
      array_min(array(scored: _*)).getField("cell")
    }
    val c = corpus.select(col("id").as("nid"), col("vec").as("nvec"),
                          cellOf(col("vec")).as("cell"))
    val q = queries.select(col("id").as("qid"), col("vec").as("qvec"),
                           cellOf(col("vec")).as("cell"))
    val cands = c.join(broadcast(q), "cell").filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
              ArrayKernels.arrayCosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
              round(col("cos"), 6).as("cos"))
  }

  /** Product-quantization (PQ) ANN with asymmetric distance computation
    * (ADC), after Jégou et al., "Product Quantization for Nearest Neighbor
    * Search" (TPAMI 2011; public paper).
    *
    * The vector space is split into `m` subspaces of dim/m dims; each
    * subspace has a `codebookSize`-entry codebook (deterministic sin-seeded
    * centroids, same convention as the IVF tiers). The corpus is ENCODED:
    * each vector becomes m small codes (argmin squared distance per
    * subspace) — at 100 TB this is the operator that shrinks a float
    * corpus ~32× (m bytes per vector), so the candidate scan reads codes,
    * never raw vectors. Queries stay exact: each query precomputes a
    * lookup table LUT[sub][code] = ||q_sub − centroid||², and the scan
    * scores a neighbor as Σ_sub LUT[sub][code_sub] — m array lookups per
    * (query, neighbor), no vector math in the hot loop.
    *
    * Encoding argmin drops the ||q_sub||² term (constant per subspace):
    * score = ||c||² − 2·q_sub·c, with ||c||² a driver-side constant.
    * Output: (qid, nid, rank, adist) where adist is the approximate
    * squared L2 distance, ranked ascending. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             m: Int = 8, codebookSize: Int = 16,
             seed: Double = 3.9): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    ArrayKernels.register(corpus.sparkSession)
    // A wrong dim must fail loudly: the PQ kernels would otherwise either
    // rank on a vector prefix (dim too small) or read past the array
    // (dim too large) — same contract as kmeansFixed/hyperplaneBucket.
    val width = vecDim(corpus)
    require(width == 0 || width == dim,
            s"dim=$dim but corpus vectors are $width-wide")
    val sub = dim / m
    // One flattened codebook literal ([(s·k + c)·sub + i] layout) consumed
    // by the three fused PQ kernels. The first formulation inlined 128
    // per-centroid literal dot expressions into the plan; the expression
    // tree defeated whole-stage codegen and ran interpreted (~6 s on 2k
    // vectors). The kernels run the same arithmetic as tight generated
    // loops: encode/LUT are one loop nest per row, the ADC scan is m array
    // lookups per (query, neighbor) pair.
    val cbFlat = typedLit(
      (for {
        s <- 0 until m; c <- 0 until codebookSize; i <- 1 to sub
      } yield math.sin(((s * codebookSize + c) % 9973 + 1) * i * 0.013 + seed)).toSeq)
    val encoded = corpus.select(col("id").as("nid"),
      ArrayKernels.pqEncode(col("vec"), cbFlat, m, codebookSize).as("codes"))
    val q = queries.select(col("id").as("qid"),
      ArrayKernels.pqLut(col("vec"), cbFlat, m, codebookSize).as("lut"))
    val scored = encoded.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
              ArrayKernels.pqAdc(col("lut"), col("codes"), codebookSize).as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist").asc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
              round(col("adist"), 4).as("adist"))
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the top-k most-similar corpus vectors with a DIFFERENT label — the
    * highest-loss negatives an InfoNCE-style objective can be fed
    * (in-batch negatives miss exactly these). Same plan shape as
    * [[bruteTopK]] (query side broadcast, fused cosine kernel,
    * WindowGroupLimit top-k); at billion-vector scale the candidate
    * generation swaps to the LSH/IVF tiers and this stays the re-rank.
    * Output: (qid, qlabel, nid, nlabel, rank, cos). */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    ArrayKernels.register(corpus.sparkSession)
    val scored = corpus
      .select(col("id").as("nid"), col("vec").as("nvec"),
              col("label").as("nlabel"))
      .crossJoin(broadcast(queries.select(col("id").as("qid"),
        col("vec").as("qvec"), col("label").as("qlabel"))))
      .filter(col("nlabel") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
              ArrayKernels.arrayCosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
              col("rank"), round(col("cos"), 6).as("cos"))
  }

  /** k-NN majority-vote classification: predict each query's label from
    * its `k` nearest corpus vectors by cosine (self-matches excluded).
    * Vote ties break on the SMALLEST label — deterministic and
    * oracle-replayable. Two windows over the (already k-bounded) neighbor
    * frame after the same broadcast-scan as [[bruteTopK]]; the vote
    * aggregation touches |Q|·k rows only. Output: (id, label, predicted). */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int)
      : DataFrame = {
    ArrayKernels.register(corpus.sparkSession)
    val scored = corpus
      .select(col("id").as("nid"), col("vec").as("nvec"),
              col("label").as("nlabel"))
      .crossJoin(broadcast(queries.select(col("id").as("qid"),
        col("vec").as("qvec"), col("label").as("qlabel"))))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
              ArrayKernels.arrayCosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    val votes = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy("qid", "qlabel", "nlabel").agg(count(lit(1)).as("votes"))
    val vw = Window.partitionBy("qid")
      .orderBy(col("votes").desc, col("nlabel").asc)
    votes.withColumn("vr", row_number().over(vw)).filter(col("vr") === 1)
      .select(col("qid").as("id"), col("qlabel").as("label"),
              col("nlabel").as("predicted"))
  }

  /** Per-label centroid (class prototype) vectors in long form — one row
    * per (label, dimension) with the 6-dp-rounded mean. The scatter-gather
    * shape that generalizes to any per-group vector mean: posexplode to
    * (label, pos, x) rows, ONE hash aggregate keyed (label, pos) — never a
    * whole-vector groupBy, so a 100 TB corpus aggregates as scalars with
    * map-side partials. Long form by choice: downstream consumers
    * (nearest-prototype scoring, drift monitors) join on (label, pos), and
    * cross-engine comparison needs no array-ordering contract. */
  def labelCentroids(emb: DataFrame, labelCol: String = "label",
                     vecCol: String = "vec"): DataFrame =
    emb.select(col(labelCol).as("label"),
               posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(round(avg("x"), 6).as("mean"), count(lit(1)).as("n"))
      .select(col("label"), col("pos").cast("long").as("pos"),
              col("mean"), col("n"))

  /** Recall of an approximate ANN result against exact ground truth — the
    * evaluation operator behind every planes/probes/cells tuning decision
    * ("measure, don't guess": an ANN tier without a recall report is not
    * done). Both inputs are any (qid, nid, …) neighbor frames, e.g.
    * [[bruteTopK]] as truth and [[lshTopK]]/[[ivfTopK]]/[[pqTopK]] as the
    * candidate. Per-query recall = |approx ∩ truth| / |truth| — exact
    * small-integer ratios, float-safe across engines. Two tiny joins over
    * already-k-bounded frames; cost is |Q|·k rows regardless of corpus
    * size. Both projections are deduped first, so a multi-probe candidate
    * list carrying duplicate (qid, nid) rows can't double-count hits (and
    * recall can never exceed 1). Output: (qid, n_true, n_hit, recall). */
  def annRecall(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select(col("qid"), col("nid")).distinct()
    val hits = t.join(approx.select(col("qid"), col("nid")).distinct(),
                      Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    t.groupBy("qid").agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("n_true"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"),
              round(coalesce(col("n_hit"), lit(0L)) / col("n_true"), 6)
                .as("recall"))
  }

  /** Per-label embedding outliers: each vector's cosine to its OWN label's
    * centroid, lowest-k per label — the standard mislabeled-example /
    * noisy-embedding screen before contrastive training. Centroids are the
    * 6-dp-rounded [[labelCentroids]] means (the quantize-iterative-state
    * trick: both engines score against bit-identical prototypes). The
    * scoring join is LONG-FORM — (id, pos, x) rows joined to (label, pos)
    * centroid rows, one hash aggregate per id — so no vector ever crosses
    * a shuffle whole and the plan is the scatter-gather shape that holds
    * at 100 TB. Scores are rounded BEFORE ranking (float-route ties break
    * on id identically everywhere). Output: (id, label, cos, rank). */
  def labelOutliers(emb: DataFrame, k: Int = 3, labelCol: String = "label",
                    vecCol: String = "vec"): DataFrame = {
    val cents = labelCentroids(emb, labelCol, vecCol)
      .select(col("label"), col("pos"), col("mean"))
    val parts = emb.select(col("id"), col(labelCol).as("label"),
                           posexplode(col(vecCol)).as(Seq("pos", "x")))
      .join(cents, Seq("label", "pos"))
      .groupBy("id", "label")
      .agg(sum(col("x") * col("mean")).as("dot"),
           sum(col("x") * col("x")).as("vv"),
           sum(col("mean") * col("mean")).as("cc"))
    val scored = parts.select(col("id"), col("label"),
      round(col("dot") / (sqrt(col("vv")) * sqrt(col("cc"))), 6).as("cos"))
      // A zero-norm vector (or all-zero centroid) has no direction: its
      // cosine is NULL, which Spark would sort NULLS FIRST — outranking
      // genuine anti-aligned outliers. Excluded, and the oracle mirrors.
      .filter(col("cos").isNotNull)
    val w = Window.partitionBy("label").orderBy(col("cos").asc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("label"), col("cos"), col("rank"))
  }

  /** Symmetric per-vector int8 quantization error report — the
    * storage/serving compression every embedding pipeline applies before
    * shipping vectors to an ANN index, with the reconstruction-error
    * audit that decides whether int8 is safe for a given embedding
    * family. scale = max|x|/127; q_i = round(x_i/scale) ∈ [−127, 127];
    * x̂ = q·scale. Output: (id, n_dims, scale, mse, max_err). Pure
    * column expressions (higher-order functions over the array — no
    * explode, no shuffle): the linear one-pass-per-row shape that scans
    * at parquet speed on 100 TB. Zero vectors quantize to zero exactly
    * (scale 0 guard). */
  def int8QuantError(emb: DataFrame, idCol: String = "id",
                     vecCol: String = "vec"): DataFrame = {
    val v = col(vecCol)
    val scale =
      aggregate(v, lit(0.0), (a, x) => greatest(a, abs(x))) / lit(127.0)
    def err(x: Column, s: Column): Column =
      when(s === 0, lit(0.0)).otherwise(x - round(x / s) * s)
    emb.withColumn("_s", scale)
      .select(col(idCol).as("id"),
        size(v).cast("long").as("n_dims"),
        round(col("_s"), 8).as("scale"),
        round(aggregate(v, lit(0.0),
          (a, x) => a + pow(err(x, col("_s")), 2)) / size(v), 10).as("mse"),
        round(aggregate(v, lit(0.0),
          (a, x) => greatest(a, abs(err(x, col("_s"))))), 8).as("max_err"))
  }

  /** Dominant principal direction of an embedding corpus by EXACT-moment
    * power iteration — the first component of PCA / the "common
    * direction" that all-but-the-top embedding post-processing (Mu &
    * Viswanath 2018, public paper) removes. Engineered for cross-engine
    * exactness end-to-end:
    *   - vectors quantize to micro ints (6-dp grid);
    *   - the scatter matrix is integer-exact: n²·Cov_ij = n·Σxᵢxⱼ −
    *     (Σxᵢ)(Σxⱼ) in decimal(38,0) (the raw moments are exact long
    *     sums — order-independent, no float summation drift);
    *   - each power step is a RELATIONAL matvec over the d² scatter
    *     frame (data-sized work is the one moment pass; iterations are
    *     d²-sized regardless of corpus size), re-normalized by max |y|
    *     (exact decimal max, no sqrt) and re-quantized to the 6-dp grid;
    *   - the returned direction is sign-canonicalized on its first
    *     nonzero coordinate.
    * Returns (pos, w) with w ∈ [−1, 1], max |w| = 1. */
  def pcaPowerDirection(emb: DataFrame, dim: Int, iters: Int = 3,
                        idCol: String = "id",
                        vecCol: String = "vec"): DataFrame = {
    require(iters >= 1 && dim >= 1)
    // ONE corpus pass (was three: a countDistinct action, the Σxi scan,
    // and the Σxixj scan): per row, a chained generator emits the
    // upper-triangle products (i, j, xi·xj) PLUS a sentinel (i, −1, xi·1)
    // carrying the linear sums — so pair moments, linear moments, and the
    // row count all come out of a single partial-aggregated scan, with no
    // driver action at construction. Sums are identical longs (unordered
    // integer addition), so the oracle is unchanged. n is the row count
    // of the sentinel group (ids are unique for every caller — the old
    // countDistinct was the same number, one extra corpus pass dearer).
    val q = emb.select(
      transform(col(vecCol),
        xv => round(xv * 1e6, 0).cast("long")).as("q"))
    // OUTER generates: a non-outer Generate makes the optimizer infer a
    // `size(child) > 0` filter and push it below the projections,
    // SUBSTITUTING the child's whole defining expression into the
    // predicate — O(d) interpreted work per row here, and when the input
    // is itself a projection chain (embedding_pca_second feeds the ABTT
    // projection in), the entire upstream chain re-evaluates inside the
    // filter (the r17 regression class). Outer generates infer nothing;
    // rows are identical: real vectors never hit the null/empty branch,
    // and a degenerate null row dies in the j/i filters below.
    val mom = q
      .select(col("q"), posexplode_outer(col("q")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
              posexplode_outer(concat(array(lit(1L)),
                                      slice(col("q"), col("i") + 1, lit(dim))))
                .as(Seq("p", "xj")))
      .select(col("i"),
              when(col("p") === 0, lit(-1))
                .otherwise(col("i") + col("p") - 1).as("j"),
              (col("xi") * col("xj")).as("prod"))
      .groupBy("i", "j")
      .agg(sum(col("prod")).as("sij"), count(lit(1)).as("_c"))
      .localCheckpoint(true) // ≤ d(d+3)/2 rows, read every iteration
    val s = mom.filter(col("j") === -1).select(col("i"), col("sij").as("si"))
    val nB = broadcast(mom.filter(col("i") === 0 && col("j") === -1)
      .select(col("_c").as("_n")))
    val upper = mom.filter(col("j") >= 0).select("i", "j", "sij")
    val m = upper.union(upper.filter(col("i") =!= col("j"))
      .select(col("j"), col("i"), col("sij")))
    val dec = "decimal(38,0)"
    // c and the iterations derive from the checkpointed moment table by
    // d²-bounded joins — cheap to keep lazy, so the whole power chain
    // (plus flip and output) compiles into the consumer's single job.
    val c = m
      .join(s.select(col("i"), col("si").as("sa")), "i")
      .join(s.select(col("i").as("j"), col("si").as("sb")), "j")
      .crossJoin(nB)
      .select(col("i"), col("j"),
              (col("_n").cast(dec) * col("sij").cast(dec) -
               col("sa").cast(dec) * col("sb").cast(dec)).as("cij"))
    // Integer-exact varying init (identical in the SQL oracle): a
    // uniform start would be EXACTLY orthogonal to any zero-sum
    // direction and power iteration could never recover it.
    var w = emb.sparkSession.range(dim)
      .select(col("id").cast("int").as("i"),
              (lit(1000000L) - (col("id") * 613 % 1000) * 1000).as("w"))
    (1 to iters).foreach { _ =>
      val y = c.join(w.select(col("i").as("j"), col("w")), "j")
        .groupBy("i").agg(sum(col("cij") * col("w")).as("y"))
      val ma = y.agg(max(abs(col("y"))).as("ma"))
      // Per-iteration checkpoint stays: w_k references y_k TWICE (the
      // matvec rows and the max|y| broadcast), so a lazy chain doubles
      // the plan per iteration — 2^iters copies of every join, measured
      // as a 2-6× slowdown on the abtt/pca rows when tried lazily. One
      // d-row materialization per iteration is the cheaper shape.
      w = y.crossJoin(broadcast(ma))
        .select(col("i"),
                round(col("y").cast("double") / col("ma").cast("double")
                      * 1e6, 0).cast("long").as("w"))
        .localCheckpoint(true)
    }
    val flip = w.filter(col("w") =!= 0).orderBy("i").limit(1)
      .select(signum(col("w").cast("double")).as("fs"))
    w.crossJoin(broadcast(flip))
      .select(col("i").cast("long").as("pos"),
              (col("w") * col("fs") / 1e6).as("w"))
  }

  /** All-but-the-top projection (Mu & Viswanath 2018): remove the
    * [[pcaPowerDirection]] dominant direction from every vector —
    * v'_j = v_j − (⟨v,w⟩/‖w‖²)·w_j, the sqrt-free form. Every
    * intermediate is an exactly-representable integer in double (micro
    * products ≤ 5e11, sums ≤ 4e13 « 2⁵³), so the sums are
    * order-independent and the final three-operation double sequence is
    * engine-identical. Returns (id, pos, vp) — one row per coordinate,
    * no cross-position float summation anywhere. */
  def removeTopDirection(emb: DataFrame, dim: Int, iters: Int = 3,
                         idCol: String = "id",
                         vecCol: String = "vec"): DataFrame =
    // Long-form via a LITERAL position range, not posexplode(vp_vec): a
    // generator over a data-derived array makes the optimizer infer a
    // `size(child) > 0` filter and push it down SUBSTITUTING the whole
    // projection chain into the predicate (the r17 abtt regression —
    // the dot product re-evaluated per element inside the pushed
    // filter). A foldable generator child infers nothing; vp_vec stays
    // computed once per row below the Generate.
    removeTopVecs(emb, dim, iters, idCol, vecCol)
      .select(col("id"), col("vp_vec"),
              posexplode(typedLit((0 until dim).toList)).as(Seq("pos", "_p")))
      .select(col("id"), col("pos").cast("long").as("pos"),
              element_at(col("vp_vec"), col("_p") + 1).as("vp"))

  /** [[removeTopDirection]] with the projected vector kept PACKED —
    * (id, vp_vec) — and computed MAP-ONLY: the direction and its exact
    * norm ride along as one broadcast row and ⟨v,w⟩ folds over the packed
    * array in-row, so the corpus is never exploded long-form, never
    * shuffled by id, and never joined (the old form paid a corpus-sized
    * groupBy exchange to re-attach ⟨v,w⟩). Every arithmetic step is the
    * same exact-integer-in-double sequence as before — ⟨v,w⟩ and ‖w‖²
    * sums of integer-valued terms ≪ 2⁵³ — so vp is bit-identical. */
  def removeTopVecs(emb: DataFrame, dim: Int, iters: Int = 3,
                    idCol: String = "id",
                    vecCol: String = "vec"): DataFrame = {
    val w = pcaPowerDirection(emb, dim, iters, idCol, vecCol)
    // The direction is d rows — a constant-bounded result (the k-means-
    // centroid collect class), independent of corpus size. Inline it and
    // its exact norm as literals: no collect_list aggregate (PlanGuard's
    // global-object-aggregate class), no broadcast, no join — the whole
    // projection is map-only. wj and ‖w‖² are integer-valued doubles
    // ≪ 2⁵³, so the driver-side sum is the same exact value the old SQL
    // sum produced in arbitrary order.
    val wj: Array[Double] = w.select(col("pos").cast("int"),
        round(col("w") * 1e6, 0))
      .collect().sortBy(_.getInt(0)).map(_.getDouble(1))
    require(wj.length == dim, s"direction has ${wj.length} dims, expected $dim")
    val den = wj.map(x => x * x).sum
    // FIXED-WIDTH codegen expressions only (getItem + arithmetic + array),
    // NO higher-order functions: the r17 zip_with/aggregate form ran
    // interpreted AND CollapseProject inlined the ⟨v,w⟩ fold into the
    // per-element lambda — O(d²) interpreted work per row, re-evaluated
    // again by the pushed-down generate filter (confirmed 3.4×
    // regression, VERDICT r17 #1). Here _xq and _num live behind their
    // own projections (referenced d times each, so CollapseProject keeps
    // them — each is evaluated ONCE per row inside one codegen stage),
    // and every arithmetic step is the same exact-integer-in-double
    // sequence as before (terms ≪ 2⁵³, left-associated sums), so vp_vec
    // is bit-identical.
    emb
      .select(col(idCol).as("id"),
              array((0 until dim).map(j =>
                round(col(vecCol).getItem(j) * 1e6, 0).cast("long")): _*)
                .as("_xq"))
      .select(col("id"), col("_xq"),
              (0 until dim).map(j => col("_xq").getItem(j) * lit(wj(j)))
                .reduce(_ + _).as("_num"))
      .select(col("id"),
              array((0 until dim).map(j =>
                round(col("_xq").getItem(j) / lit(1e6)
                      - (col("_num") * lit(1.0) / lit(den))
                        * lit(wj(j) / 1e6), 6)): _*).as("vp_vec"))
  }

  /** Per-cell (negdot, cell) scores against the sin-seeded synthetic
    * coarse centroids — the ONE quantizer definition shared by the index
    * build and the query probe (they must agree or recall silently dies). */
  private def ivfCellScores(vec: Column, nCentroids: Int, dim: Int,
                            seed: Double): Column =
    array((0 until nCentroids).map { c =>
      val cvec = typedLit(
        (1 to dim).map(i => math.sin((c % 9973 + 1) * i * 0.017 + seed)))
      struct((-ArrayKernels.arrayDot(vec, cvec)).as("negdot"),
             lit(c).as("cell"))
    }: _*)

  /** IVF index BUILD: each corpus vector quantized to its single nearest
    * cell → `(nid, nvec, cell)`. One linear pass (n·nCentroids fused
    * dots, no shuffle); at scale this runs ONCE and persists (parquet,
    * partitioned by cell) — query batches reuse it via [[ivfProbeTopK]]
    * without re-assigning the corpus. A round-16 probe measured the
    * build/probe split across decades. */
  def ivfAssign(corpus: DataFrame, nCentroids: Int, dim: Int,
                seed: Double = 2.7): DataFrame = {
    ArrayKernels.register(corpus.sparkSession)
    corpus.select(col("id").as("nid"), col("vec").as("nvec"),
      array_min(ivfCellScores(col("vec"), nCentroids, dim, seed))
        .getField("cell").as("cell"))
  }

  /** IVF query PROBE over a built index ([[ivfAssign]] output): each
    * query expands to its `probes` nearest cells, candidates come from a
    * broadcast hash join on `cell`, and per-query cost is
    * probes·occupancy — independent of corpus size at fixed occupancy
    * (grow nCentroids with the corpus to hold occupancy constant). */
  def ivfProbeTopK(assigned: DataFrame, queries: DataFrame, k: Int,
                   nCentroids: Int, dim: Int, probes: Int = 2,
                   seed: Double = 2.7): DataFrame =
    ivfProbeImpl(assigned, queries, k, nCentroids, dim, probes, seed,
                 prune = false)

  /** ONE probe pipeline for both forms — the pruned variant differs
    * ONLY in materializing the query-cell batch and filtering the index
    * scan to it; everything downstream (self-filter, cosine, tie-break,
    * rounding) is shared, so the 'pruning never changes the answer'
    * contract the ann_ivf_pruned oracle asserts holds by construction. */
  private def ivfProbeImpl(assigned: DataFrame, queries: DataFrame, k: Int,
                           nCentroids: Int, dim: Int, probes: Int,
                           seed: Double, prune: Boolean): DataFrame = {
    ArrayKernels.register(assigned.sparkSession)
    val qRaw = queries.select(col("id").as("qid"), col("vec").as("qvec"),
        explode(slice(array_sort(
          ivfCellScores(col("vec"), nCentroids, dim, seed)), 1, probes))
          .as("sc"))
      .select(col("qid"), col("qvec"), col("sc.cell").as("cell"))
    // pruned: one tiny batch job materializes the query side; its
    // distinct cell set is driver-bounded by the query-batch contract
    val q = if (prune) qRaw.localCheckpoint(true) else qRaw
    val src =
      if (prune) {
        val probedCells = q.select("cell").distinct()
          .collect().map(_.getInt(0)).toSeq
        assigned.filter(col("cell").isin(probedCells: _*))
      } else assigned
    val cands = src.join(broadcast(q), "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
              ArrayKernels.arrayCosine(col("qvec"), col("nvec")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
              round(col("cos"), 6).as("cos"))
  }

  /** [[ivfProbeTopK]] with the index scan STATICALLY pruned to the query
    * batch's probed cells: the batch's distinct cell set is collected
    * (≤ |Q|·probes ints — driver-bounded by the query-batch contract)
    * and pushed as an `isin` partition filter, so a persisted index
    * written `partitionBy("cell")` ([[ivfAssign]]) reads ONLY the probed
    * partitions' files. This is the 100 TB probe shape — scan cost
    * tracks cells-probed, not corpus size — and it is static pruning by
    * construction, not dependent on the optimizer electing dynamic
    * partition pruning (whose benefit heuristic can decline a
    * filterless dimension side; measured in a round-16 probe).
    *
    * NOTE: construction is EAGER (round-16 advice) — calling this runs
    * two small Spark jobs (a localCheckpoint of the query batch and a
    * collect of its distinct probed cells) so the cell set can push as
    * a static filter, and that cell set is FROZEN at construction: call
    * it when the query batch is final, not while speculatively building
    * plans; [[ivfProbeTopK]] is the fully-lazy form. */
  def ivfProbeTopKPruned(assigned: DataFrame, queries: DataFrame, k: Int,
                         nCentroids: Int, dim: Int, probes: Int = 2,
                         seed: Double = 2.7): DataFrame =
    ivfProbeImpl(assigned, queries, k, nCentroids, dim, probes, seed,
                 prune = true)

  /** Multi-probe IVF: the corpus is quantized to its single nearest cell;
    * each query probes its `probes` nearest cells — the standard
    * recall/cost knob (recall grows with probed cells, scan cost stays
    * |corpus|·probes/nCentroids on average). A neighbor can match at most
    * once (one corpus cell, distinct probe cells), so no dedup is needed.
    * Composition of [[ivfAssign]] (the build) + [[ivfProbeTopK]] (the
    * probe); callers with standing corpora should persist the build. */
  def ivfTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                        nCentroids: Int = 16, dim: Int, probes: Int = 2,
                        seed: Double = 2.7): DataFrame =
    ivfProbeTopK(ivfAssign(corpus, nCentroids, dim, seed), queries, k,
                 nCentroids, dim, probes, seed)

  /** IVF-PQ (round 16) — the composition large-scale ANN actually ships
    * (Jégou et al. 2011 §IV; FAISS's IVFPQ): the corpus is coarse-
    * quantized to IVF cells AND product-quantized to m codes per vector,
    * so the index stores (cell, m bytes) per vector; a query probes its
    * `probes` nearest cells and scores ONLY those cells' candidates via
    * the ADC lookup table — per-query cost = probes·occupancy·m
    * byte-lookups, no float math and no full scan in the hot loop. This
    * bounds the pqTopK linear ADC scan by the IVF cell structure
    * (a round-16 probe measured both halves of that claim). Same index
    * persistence contract as [[ivfAssign]]: write partitionBy(cell)
    * once, probe many times. Output (qid, nid, rank, adist), adist
    * ascending approximate squared L2. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int, dim: Int, probes: Int = 2,
                m: Int = 8, codebookSize: Int = 16,
                cellSeed: Double = 2.7, pqSeed: Double = 3.9): DataFrame = {
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m subspaces")
    ArrayKernels.register(corpus.sparkSession)
    val width = vecDim(corpus)
    require(width == 0 || width == dim,
            s"dim=$dim but corpus vectors are $width-wide")
    val cbFlat = typedLit(
      (for {
        s <- 0 until m; c <- 0 until codebookSize; i <- 1 to dim / m
      } yield math.sin(((s * codebookSize + c) % 9973 + 1) * i * 0.013
                       + pqSeed)).toSeq)
    val enc = ivfAssign(corpus, nCentroids, dim, cellSeed)
      .select(col("nid"), col("cell"),
        ArrayKernels.pqEncode(col("nvec"), cbFlat, m, codebookSize)
          .as("codes"))
    val q = queries.select(col("id").as("qid"),
        ArrayKernels.pqLut(col("vec"), cbFlat, m, codebookSize).as("lut"),
        explode(slice(array_sort(
          ivfCellScores(col("vec"), nCentroids, dim, cellSeed)), 1, probes))
          .as("sc"))
      .select(col("qid"), col("lut"), col("sc.cell").as("cell"))
    val scored = enc.join(broadcast(q), "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        ArrayKernels.pqAdc(col("lut"), col("codes"), codebookSize)
          .as("adist"))
    val w = Window.partitionBy("qid").orderBy(col("adist").asc,
                                              col("nid").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
              round(col("adist"), 4).as("adist"))
  }
}
