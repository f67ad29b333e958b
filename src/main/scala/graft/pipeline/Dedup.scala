package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, exact through
  * approximate:
  *
  *  - exact: hash-groupBy on content digest;
  *  - n-gram Jaccard: exact set similarity via a shingle equi-join;
  *  - MinHash + LSH banding: shingle → k minhashes → b bands → bucket join,
  *    then exact-Jaccard verification of candidates only;
  *  - SimHash: 64-bit signature + banded blocking + Hamming filter;
  *  - embedding near-dup: cosine over an `ARRAY<DOUBLE>` column, LSH-bucketed.
  *
  * Scale design: every op is (narrow map) → (equi-join on a compact key) →
  * (aggregate); no cross joins. The LSH paths bound the candidate set so the
  * expensive verification join is proportional to true-near-dup density, not
  * |docs|². Bucket joins shuffle on the band/bucket hash — high-cardinality
  * keys, AQE-coalesced.
  */
object Dedup {

  /** Exact dedup groups: one row per distinct content digest with the
    * canonical (minimum) id and the copy count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Ids to drop under exact dedup (everything but the canonical id). */
  def exactDropIds(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), md5(col(textCol)).as("digest"))
      .join(exactGroups(df, idCol, textCol), "digest")
      .filter(col("id") =!= col("keep_id"))
      .select(col("id"))

  /** Distinct (id, shingle) rows, LAZY — the single definition of the
    * exploded set representation, shared by [[shingleSets]] and
    * Cluster.contamination so shingle semantics (tokenization, the
    * short-document whole-text fallback the oracles mirror) can never
    * drift between operators.
    *
    * With `hashed` the shingle is xxhash64'd BEFORE the distinct, so the
    * dedup shuffle carries 8-byte keys instead of ~n·word-length strings —
    * the at-scale shape (distinct-of-hashed ≡ hashed-of-distinct modulo
    * 2⁻⁶⁴ collisions). */
  private[graft] def shingleRows(df: DataFrame, idCol: String,
                                 textCol: String, n: Int,
                                 hashed: Boolean = false,
                                 dedup: Boolean = true): DataFrame = {
    // Tokens projected before the shingle lambda (TextOps.shinglesOf perf
    // contract: a captured split() re-tokenizes once per shingle).
    val exploded = df
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("ts"))
      .select(col("id"), explode(TextOps.shinglesOf(col("ts"), n)).as("sh"))
    val keyed =
      if (hashed) exploded.select(col("id"), xxhash64(col("sh")).as("sh"))
      else exploded
    // dedup = false skips the per-id distinct — correct for any consumer
    // invariant under within-id multiplicity (e.g. minhash: min over
    // duplicates == min over the set), and drops a corpus-wide shuffle.
    if (dedup) keyed.distinct() else keyed
  }

  /** Materialized (localCheckpoint): the set representation feeds both sides
    * of self-joins — without materialization the shingle-construction
    * expressions are re-evaluated per join side (no CSE across higher-order
    * lambdas), which dominated runtime at 5k docs. At cluster scale this
    * becomes a persist() on a frame bucketed by `sh`. Single-consumer
    * callers should use [[shingleRows]] (materializing wastes a write). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleRows(df, idCol, textCol, n).localCheckpoint(true)

  /** Exact n-gram Jaccard near-dup pairs (i < j, jaccard >= threshold).
    * Set-similarity join: shingle equi-join counts intersections; per-doc
    * set sizes provide the union via inclusion-exclusion.
    *
    * `maxDocFreq > 0` applies the same stop-shingle cap as
    * [[winnowPairs]]: shingles present in more than that many docs are
    * dropped BEFORE the self-join, which bounds the join at df² per
    * surviving shingle — without it one boilerplate shingle shared by 1M
    * docs is 10¹² candidate pairs. Doc sizes are recomputed over the
    * surviving shingles, so the result is the EXACT Jaccard over the
    * capped shingle universe (the standard stop-word-removed contract —
    * hot shingles rank docs by boilerplate, not content). Default off:
    * the oracle-checked query keeps the uncapped exact tier. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Long = 0): DataFrame = {
    val all = shingleSets(df, idCol, textCol, n)
    val sets =
      if (maxDocFreq <= 0) all
      else all.join(all.groupBy("sh").agg(count(lit(1)).as("df"))
                      .filter(col("df") <= maxDocFreq)
                      .select("sh"),
                    "sh")
        .localCheckpoint(true) // both sides of the self-join below
    val sizes = sets.groupBy("id").agg(count(lit(1)).as("sz"))
    val common = sets.as("a")
      .join(sets.as("b"),
            col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("id").as("i"), col("sz").as("szi")), "i")
      .join(sizes.select(col("id").as("j"), col("sz").as("szj")), "j")
      .withColumn("jaccard", col("c") / (col("szi") + col("szj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Hash families for the LSH signatures.
    *  - [[XxHash]] (default): xxhash64 — fastest (codegen'd, no string
    *    building); the choice at 100 TB scale.
    *  - [[PortableMd5]]: each shingle is hashed ONCE to a 60-bit integer
    *    (the first 15 md5 hex chars), and the numHashes minhash
    *    "permutations" are affine maps over that base hash mod
    *    p = 2^31−1: h_i(x) = ((2i+1)·x + i·12582917) mod p (see
    *    [[minhashLshPairs]]). Slower than xxhash64, but exactly
    *    reproducible in any ANSI engine (md5 is standard; products stay
    *    < 2^37, exact in 64-bit), so results are oracle-verifiable across
    *    engines. An affine family over a uniform base hash is a standard
    *    universal-hashing construction, so detection quality is
    *    equivalent. */
  sealed trait HashFamily
  case object XxHash extends HashFamily
  case object PortableMd5 extends HashFamily

  /** MinHash+LSH candidate pairs, verified with exact Jaccard.
    * numHashes = bands * rowsPerBand. Candidates are pairs sharing at least
    * one band hash (shingle→minhash→band→bucket-join).
    *
    * `probeIds`: restrict to pairs TOUCHING one of these ids — the
    * asymmetric-probe mode ([[incrementalDropIds]]): the band join runs
    * probe-side × everything instead of self × self, so a small probe
    * batch never pays |corpus|² banding collisions or verifies
    * corpus-corpus pairs whose verdicts would be discarded. */
  /** Banded LSH keys (id, band, bh) from a distinct (id, sh) shingle frame.
    *
    * PortableMd5: each shingle is hashed ONCE (60-bit int from the md5 hex
    * prefix, projected as a real column — agg expressions get no CSE, so
    * an inline base would be re-hashed numHashes times per row), then the
    * numHashes minhash permutations are affine maps mod p = 2^31−1:
    * h_i(x) = ((2i+1)·x + i·12582917) mod p. Products stay < 2^37, exact
    * in 64-bit in any engine. */
  private def bandedFromSets(sets0: DataFrame, bands: Int, rowsPerBand: Int,
                             family: HashFamily): DataFrame = {
    val numHashes = bands * rowsPerBand
    val P = 2147483647L
    val sets = family match {
      case XxHash => sets0
      case PortableMd5 => sets0.withColumn("_mh_base",
        pmod(graft.functions.PortableHash.md5Prefix60(col("sh")), lit(P)))
    }
    val sigAggs = family match {
      case XxHash =>
        (0 until numHashes).map(i => min(xxhash64(lit(i), col("sh"))))
      case PortableMd5 =>
        (0 until numHashes).map(i =>
          min(pmod(col("_mh_base") * (2 * i + 1) + lit(i * 12582917L), lit(P))))
    }
    val sig = sets.groupBy("id").agg(array(sigAggs: _*).as("sig"))
    def bandHash(j: Int): Column = {
      val rows = slice(col("sig"), j * rowsPerBand + 1, rowsPerBand)
      family match {
        case XxHash      => xxhash64(rows).cast("string")
        case PortableMd5 => md5(concat_ws("|", rows))
      }
    }
    sig.select(
      col("id"),
      posexplode(array((0 until bands).map(bandHash): _*))
        .as(Seq("band", "bh")))
  }

  /** Banded MinHash keys of a whole corpus — the persistable LSH probe
    * index (one row per (id, band): the band's hash key). Computing this is
    * the O(|corpus|) part of MinHash dedup; persist it with
    * [[writeIncrementalIndex]] so nightly incremental runs skip it. */
  def bandedMinhash(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                    family: HashFamily = XxHash): DataFrame =
    bandedFromSets(shingleRows(df, idCol, textCol, shingleN),
                   bands, rowsPerBand, family)

  /** Exact-Jaccard verification of candidate pairs: intersection counts
    * CONSTRAINED to the candidate pairs (never an unconstrained shingle
    * self-join), sizes by inclusion-exclusion. `candSets` must hold the
    * distinct (id, sh) rows of every id appearing in `cands`. */
  private def verifyJaccard(cands: DataFrame, candSets: DataFrame,
                            threshold: Double): DataFrame = {
    val sizes = candSets.groupBy("id").agg(count(lit(1)).as("sz"))
    cands
      .join(candSets.as("sa"), col("i") === col("sa.id"))
      .join(candSets.as("sb"),
            col("j") === col("sb.id") && col("sa.sh") === col("sb.sh"))
      .groupBy("i", "j").agg(count(lit(1)).as("c"))
      .join(sizes.select(col("id").as("i"), col("sz").as("szi")), "i")
      .join(sizes.select(col("id").as("j"), col("sz").as("szj")), "j")
      .withColumn("jaccard", col("c") / (col("szi") + col("szj") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), round(col("jaccard"), 6).as("jaccard"))
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      family: HashFamily = XxHash,
                      probeIds: Option[DataFrame] = None): DataFrame = {
    // Signatures from the RAW exploded (id, shingle) rows — no corpus-wide
    // distinct: sig[i] = min(hash_i(sh)) is invariant under within-id
    // duplicates, so the banding path never pays the (id, shingle-string)
    // dedup shuffle. The raw frame is materialized ONCE (a narrow write —
    // explode, no shuffle) and shared with the verification path, which
    // dedups only the candidate-touching rows: sparse candidate sets (the
    // realistic corpus) shuffle a fraction of the corpus, dense ones (the
    // replicated scale probe) degrade gracefully to the old full-distinct
    // cost with the explode still shared.
    val exploded = shingleRows(df, idCol, textCol, shingleN, dedup = false)
      .localCheckpoint(true) // shared: signature agg + candidate verify
    val banded = bandedFromSets(exploded, bands, rowsPerBand, family)
      .localCheckpoint(true) // signatures computed once, not per join side
    // Asymmetric probe: one side shrinks to the probe batch, and the
    // (i, j) normalization happens in the projection — a probe doc can
    // sit on either side of the id order.
    val rawCands = probeIds match {
      case None =>
        banded.as("a")
          .join(banded.as("b"),
                col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
                col("a.id") < col("b.id"))
          .select(col("a.id").as("i"), col("b.id").as("j"))
      case Some(probe) =>
        val probeBanded = banded.join(
          broadcast(probe.select(col(probe.columns.head).cast("long").as("id"))
            .distinct()), "id")
        probeBanded.as("a")
          .join(banded.as("b"),
                col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
                col("a.id") =!= col("b.id"))
          .select(least(col("a.id"), col("b.id")).as("i"),
                  greatest(col("a.id"), col("b.id")).as("j"))
    }
    val cands = rawCands
      .distinct()
      .localCheckpoint(true) // tiny; read three times below
    // Verify candidates with exact Jaccard. Two constraints compose:
    //  - shrink the shingle sets to candidate docs first (broadcast
    //    semi-join) so a sparse candidate set never shuffles the whole
    //    corpus's shingles;
    //  - keep the intersection join CONSTRAINED TO BANDED PAIRS (join cands
    //    before counting) — an unconstrained candSets self-join on shingle
    //    re-derives all-pairs similarity whenever candidates are dense
    //    (near-dup-heavy corpora: measured 129 s vs 25 s at 50k docs on the
    //    scale probe, where every doc is someone's candidate).
    val candIds = cands.select(col("i").as("id"))
      .unionAll(cands.select(col("j").as("id"))).distinct()
    // Distinct shingle sets for CANDIDATE rows only, from the shared raw
    // frame: the dedup shuffle is proportional to the candidate set, not
    // the corpus. Materialized: feeds both sides of the intersection join
    // plus the size aggregate.
    val candSets = exploded.join(broadcast(candIds), "id")
      .select(col("id"), col("sh")).distinct()
      .localCheckpoint(true)
    verifyJaccard(cands, candSets, threshold)
  }

  /** SimHash near-dup pairs within a Hamming radius, blocked on 4 bands
    * (pigeonhole: pairs at distance <= 3 share at least one band).
    * Bit width is 64 for the xxhash64 family, 60 (4×15) for the portable
    * md5 family (15 hex chars = 60 bits fit a signed BIGINT in any engine). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   family: HashFamily = XxHash): DataFrame = {
    val bandBits = family match { case XxHash => 16; case PortableMd5 => 15 }
    val mask = (1L << bandBits) - 1
    val sh = simhash(df, idCol, textCol, family)
      .localCheckpoint(true) // both join sides read the signatures
    val banded = sh.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(j =>
        shiftrightunsigned(col("sim"), j * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bh")))
    banded.as("a")
      .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
              bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash over the token multiset (relational formulation): each
    * token hashed once on the exploded frame, per-bit ±1 sums as one
    * aggregate column per bit, then packed into one BIGINT. One shuffle on
    * id; scales with corpus size regardless of document length.
    * Token hash: xxhash64 (64-bit), or the first 15 md5 hex chars parsed as
    * a 60-bit integer for the engine-portable family. */
  def simhash(df: DataFrame, idCol: String, textCol: String,
              family: HashFamily = XxHash): DataFrame = {
    val (hashCol, nBits) = family match {
      case XxHash      => (xxhash64(col("t")), 64)
      case PortableMd5 => (graft.functions.PortableHash.md5Prefix60(col("t")), 60)
    }
    val th = df.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col("id"), hashCol.as("h"))
    val bitAggs = (0 until nBits).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$i"))
    val bitSums = th.groupBy("id").agg(bitAggs.head, bitAggs.tail: _*)
    bitSums.select(col("id"),
      (0 until nBits).map(i =>
        when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("sim"))
  }

  /** 64-bit SimHash as a single pure expression (no shuffle) — the
    * per-row alternative for short texts; hashes each token 64 times, so
    * prefer [[simhash]] for bulk corpora. Expressed via the SQL parser
    * (shiftleft with a column shift amount is only reachable there). */
  def simhashExpr(textColName: String): Column = {
    val toksSql = s"split($textColName, ' ')"
    expr(
      s"""aggregate(sequence(0, 63), 0L, (acc, i) -> acc |
         |  IF(aggregate($toksSql, 0L,
         |       (a, t) -> a + (shiftright(xxhash64(t), CAST(i AS INT)) & 1L) * 2 - 1) > 0,
         |     shiftleft(1L, CAST(i AS INT)), 0L))""".stripMargin)
  }

  /** Near-dup candidate pairs from shared winnowing fingerprints — the use
    * winnowing exists for (Schleimer et al. 2003 §1: MOSS finds overlap by
    * fingerprint collision, then localizes it with the positions). Two docs
    * pair when they share >= `minShared` distinct selected hashes; any
    * common run of w + k − 1 tokens contributes at least one, so the
    * count is a lower bound on overlapping regions.
    *
    * Winnowed minima are biased toward globally-SMALL hash values, so a
    * boilerplate k-gram's fingerprint lands in many documents — the same
    * hot-key hazard as raw shingle joins. `maxDocFreq > 0` drops
    * fingerprints found in more than that many docs before the join (the
    * stop-shingle cap; such fingerprints rank docs by boilerplate, not
    * content). With the cap the join is bounded by df² per surviving hash.
    * Returns (i, j, shared_fps), i < j. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 4, minShared: Int = 3,
                  maxDocFreq: Long = 0): DataFrame = {
    val fp = TextOps.winnow(docs, idCol, textCol, k, w)
      .select(col("id"), col("fp_hash")).distinct()
      .localCheckpoint(true) // both sides of the self-join (+ df cap)
    val capped =
      if (maxDocFreq <= 0) fp
      else fp.join(fp.groupBy("fp_hash").agg(count(lit(1)).as("df"))
                     .filter(col("df") <= maxDocFreq)
                     .select("fp_hash"),
                   "fp_hash")
    capped.as("a")
      .join(capped.as("b"),
            col("a.fp_hash") === col("b.fp_hash") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("i"), col("b.id").as("j"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Near-dup *cluster* resolution: pairs are edges of a similarity graph;
    * transitive closure via GraphX connected components picks one canonical
    * (minimum-id) doc per cluster. Returns (id, keep_id) for every doc that
    * belongs to a cluster (keep_id == id for the canonical member).
    * This is the step that turns pairwise near-dup detection into an
    * actionable drop-list for a corpus. */
  def dupGroups(pairs: DataFrame, driverLimit: Int = 1000000): DataFrame = {
    val spark = pairs.sparkSession
    val edgePairs = pairs.select(col("i").cast("long"), col("j").cast("long"))
    // Near-dup pair sets are tiny relative to the corpus; below the limit a
    // driver-side union-find beats a distributed fixpoint by orders of
    // magnitude (GraphX CC costs ~15 s of fixed RDD overhead on a
    // 256-edge graph). Above it, fall back to GraphX.
    val local = edgePairs.limit(driverLimit + 1).collect()
    if (local.length <= driverLimit) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      local.foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      val rows = parent.keys.toSeq.map(id => (id, find(id)))
      import spark.implicits._
      rows.toDF("id", "keep_id")
    } else {
      val edges = edgePairs.select(col("i").as("src"), lit(0L).as("rel"),
                                   col("j").as("dst"))
      val cc = graft.exec.GraphXOps.connectedComponents(edges)
      val canon = cc.groupBy("component").agg(min(col("id")).as("keep_id"))
      cc.join(canon, "component").select(col("id"), col("keep_id"))
    }
  }

  /** Incremental cross-corpus dedup — the nightly-crawl shape: the BASE
    * corpus is already deduplicated, and only the FRESH batch needs
    * verdicts (fresh-vs-base and fresh-vs-fresh redundancy). Returns the
    * fresh ids to drop as (id, reason):
    *   - `exact_base`: digest already present in the base;
    *   - `exact_new`: non-canonical copy within the fresh batch;
    *   - `near`: MinHash+LSH near-duplicate of a base doc or of a
    *     smaller-id fresh doc (the canonical survives).
    * Ids must be globally unique across base ∪ fresh (the usual crawl-id
    * contract). Base docs are never dropped, and base-base work is never
    * done: the near tier runs [[minhashLshPairs]] in asymmetric-probe
    * mode (probeIds = fresh), so banding joins fresh × all and only
    * fresh-touching candidates are Jaccard-verified — cost scales with
    * the fresh batch, not |base|². This variant still recomputes the base
    * signatures each run; [[incrementalDropIdsIndexed]] reads them from a
    * persisted index ([[writeIncrementalIndex]]) instead, making the
    * nightly cost truly ∝ fresh batch. */
  def incrementalDropIds(base: DataFrame, fresh: DataFrame, idCol: String,
                         textCol: String, threshold: Double = 0.5,
                         family: HashFamily = XxHash): DataFrame = {
    val baseIds = base.select(col(idCol).cast("long").as("id"))
    val freshIds = fresh.select(col(idCol).cast("long").as("id"))
    val bDig = base.select(md5(col(textCol)).as("digest")).distinct()
    val exactBase = fresh
      .select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("digest"))
      .join(bDig, "digest")
      .select(col("id"), lit("exact_base").as("reason"))
    val exactNew = exactDropIds(fresh, idCol, textCol)
      .select(col("id").cast("long").as("id"), lit("exact_new").as("reason"))
    val union = base.select(col(idCol).cast("long").as("id"),
                            col(textCol).as("text"))
      .unionAll(fresh.select(col(idCol).cast("long").as("id"),
                             col(textCol).as("text")))
    val pairs = minhashLshPairs(union, "id", "text",
                                threshold = threshold, family = family,
                                probeIds = Some(freshIds))
      .localCheckpoint(true) // probed twice below
    // A fresh doc drops when its pair partner is base, or is a fresh doc
    // with a smaller id (i < j always, so a fresh j always drops; a fresh
    // i drops only against a base j).
    val nearJ = pairs.join(freshIds.select(col("id").as("j")), "j")
      .select(col("j").as("id"))
    val nearI = pairs.join(freshIds.select(col("id").as("i")), "i")
      .join(baseIds.select(col("id").as("j")), "j")
      .select(col("i").as("id"))
    val near = nearJ.unionAll(nearI).distinct()
      .select(col("id"), lit("near").as("reason"))
    exactBase.unionAll(exactNew).unionAll(near).distinct()
  }

  /** Persist the base-corpus dedup index — the artifact that makes nightly
    * incremental dedup cost ∝ fresh batch: the O(|base|) shingle + minhash
    * work is paid ONCE per corpus generation and re-read thereafter.
    * Layout (plain parquet, partition-friendly):
    *   `<path>/bands`   (id LONG, band INT, bh STRING) — banded MinHash keys;
    *   `<path>/digests` (digest STRING, distinct)      — exact-tier digests.
    * Parameters (shingleN/bands/rowsPerBand/family) are the caller's
    * contract: probe runs must pass the same values
    * ([[incrementalDropIdsIndexed]]). Versioning by corpus generation is a
    * path convention (`.../gen=N`). */
  def writeIncrementalIndex(base: DataFrame, idCol: String, textCol: String,
                            path: String, shingleN: Int = 3, bands: Int = 8,
                            rowsPerBand: Int = 4,
                            family: HashFamily = XxHash): Unit = {
    bandedMinhash(base, idCol, textCol, shingleN, bands, rowsPerBand, family)
      .write.mode("overwrite").parquet(s"$path/bands")
    base.select(md5(col(textCol)).as("digest")).distinct()
      .write.mode("overwrite").parquet(s"$path/digests")
  }

  /** [[incrementalDropIds]] with the base-side signature work read from a
    * persisted index ([[writeIncrementalIndex]] at `indexPath`) instead of
    * recomputed. Per nightly run this computes signatures for the FRESH
    * batch only; base text is touched just twice, both cheaply at scale:
    * an id projection (column-pruned scan) for the base-membership check,
    * and a candidate-id semi-join (pushed-down id filter) to re-shingle
    * only the base docs that some fresh doc actually banded with.
    * Output ≡ [[incrementalDropIds]] on the same inputs (spec-checked):
    * signatures depend only on a doc's text, so reading them from parquet
    * vs recomputing cannot change any verdict. */
  def incrementalDropIdsIndexed(base: DataFrame, fresh: DataFrame,
                                idCol: String, textCol: String,
                                indexPath: String, threshold: Double = 0.5,
                                shingleN: Int = 3, bands: Int = 8,
                                rowsPerBand: Int = 4,
                                family: HashFamily = XxHash): DataFrame = {
    val spark = fresh.sparkSession
    val baseBands = spark.read.parquet(s"$indexPath/bands")
    val baseDigests = spark.read.parquet(s"$indexPath/digests")
    val baseIds = base.select(col(idCol).cast("long").as("id"))
    val freshIds = fresh.select(col(idCol).cast("long").as("id"))
    // Exact tiers: fresh digest vs persisted base digests; fresh-internal.
    val exactBase = fresh
      .select(col(idCol).cast("long").as("id"), md5(col(textCol)).as("digest"))
      .join(baseDigests, "digest")
      .select(col("id"), lit("exact_base").as("reason"))
    val exactNew = exactDropIds(fresh, idCol, textCol)
      .select(col("id").cast("long").as("id"), lit("exact_new").as("reason"))
    // Near tier, asymmetric probe with persisted base bands: fresh bands
    // (computed now, small) × (persisted base bands ∪ fresh bands).
    val freshBands = bandedMinhash(
        fresh.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, shingleN, bands, rowsPerBand, family)
      .localCheckpoint(true) // probe side and union side both read it
    val allBands = baseBands.unionByName(freshBands)
    val cands = freshBands.as("a")
      .join(allBands.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("i"),
              greatest(col("a.id"), col("b.id")).as("j"))
      .distinct()
      .localCheckpoint(true) // tiny; read three times below
    // Verify with exact Jaccard over candidate docs only: shingle sets are
    // rebuilt for the candidate-touching subset of base ∪ fresh.
    val candIds = cands.select(col("i").as("id"))
      .unionAll(cands.select(col("j").as("id"))).distinct()
    val unionDocs = base
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .unionAll(fresh.select(col(idCol).cast("long").as("id"),
                             col(textCol).as("text")))
      .join(broadcast(candIds), "id")
    val candSets = shingleSets(unionDocs, "id", "text", shingleN)
    val pairs = verifyJaccard(cands, candSets, threshold)
      .localCheckpoint(true) // probed twice below
    // Same drop rule as incrementalDropIds: i < j, so a fresh j always
    // drops; a fresh i drops only against a base j.
    val nearJ = pairs.join(freshIds.select(col("id").as("j")), "j")
      .select(col("j").as("id"))
    val nearI = pairs.join(freshIds.select(col("id").as("i")), "i")
      .join(baseIds.select(col("id").as("j")), "j")
      .select(col("i").as("id"))
    val near = nearJ.unionAll(nearI).distinct()
      .select(col("id"), lit("near").as("reason"))
    exactBase.unionAll(exactNew).unionAll(near).distinct()
  }

  /** Maximal duplicated token spans — the suffix-array substring dedup of
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better", kenlm/deduplicate-text-datasets) re-expressed relationally:
    * an n-token gram that occurs more than once ANYWHERE in the corpus
    * (another document or the same one) covers tokens [start, start+n);
    * covering intervals that overlap or touch merge (interval-union
    * gaps-and-islands), so the output spans are DISJOINT maximal
    * duplicated regions — sum(span_len) is exactly the doc's duplicated
    * token count, and a repeated region of L >= n tokens comes back as
    * one (id, start, L) row. The actionable form for span-level
    * redaction, vs whole-doc dropping.
    *
    * Plan shape: shingle explode → groupBy(gram) HAVING count > 1 →
    * join positions back → per-doc gaps-and-islands window. Cost is
    * LINEAR in occurrences of duplicated grams — no pair join, so a gram
    * in k docs contributes k rows (not k², the hot-key hazard of pairwise
    * shingle joins). Shuffles: gram key (aggregate + join-back), then doc
    * id (the window). With `hashed` the gram key is xxhash64'd first —
    * 8-byte shuffle keys at 100 TB; raw strings keep the oracle bit-exact.
    *
    * Docs shorter than n tokens have no n-gram and never appear (full-doc
    * duplication at that length is [[exactGroups]]' job). Returns
    * (id, span_start, span_len): token offsets, span_len >= n. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 8, hashed: Boolean = false): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    // Tokens projected before the shingle lambda (shinglesOf perf contract).
    val grams0 = docs
      .select(col(idCol).cast("long").as("id"),
              TextOps.tokens(col(textCol)).as("ts"))
      .where(size(col("ts")) >= n)
      .select(col("id"),
              posexplode(TextOps.shinglesOf(col("ts"), n)).as(Seq("pos", "g")))
    val grams = if (hashed) grams0.select(col("id"), col("pos"),
                                          xxhash64(col("g")).as("g"))
                else grams0
    // Materialized: feeds both the dup-gram aggregate and the position
    // join-back (no CSE across the two consumers otherwise).
    val keyed = grams.localCheckpoint(true)
    val dupG = keyed.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("g")
    val dupPos = keyed.join(dupG, "g").select("id", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    // Interval union, not consecutive-starts: each start covers
    // [pos, pos+n), so a new region begins only when the gap to the
    // previous start exceeds n (strictly — touching intervals form one
    // contiguous duplicated region). Starts are distinct positions, so
    // the running max end is always prev_pos + n.
    dupPos
      .withColumn("grp", sum(
          when(col("pos") - lag("pos", 1).over(w) > n, 1).otherwise(0))
        .over(w))
      .groupBy("id", "grp")
      .agg(min("pos").cast("long").as("span_start"),
           (max("pos") - min("pos") + n).cast("long").as("span_len"))
      .select("id", "span_start", "span_len")
  }

  /** Redact duplicated spans from the corpus — the actionable composition
    * over [[duplicatedSpans]] (Lee et al. 2021 drop the repeated bytes,
    * not the documents; span-level surgery preserves the unique remainder
    * of mostly-boilerplate docs that whole-doc dedup would throw away).
    * Every token covered by a duplicated span is dropped in EVERY
    * occurrence — the aggressive mode; keeping one canonical occurrence
    * per repeated string needs a global cluster-representative election,
    * which pipelines typically skip because the span text usually
    * survives verbatim in some below-threshold (< n-token) context.
    *
    * Plan shape: posexplode tokens → anti-join the span ranges (equi on
    * doc id + range residual — never a cross join) → rebuild text with a
    * sort_array over (pos, token) structs, so reassembly is deterministic
    * under any partitioning. Docs with every token redacted come back as
    * ''. Returns (id, redacted, n_dropped). */
  def redactSpans(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 8, hashed: Boolean = false): DataFrame = {
    val spans = duplicatedSpans(docs, idCol, textCol, n, hashed)
      .localCheckpoint(true) // small; anti-join probe side
    val toks = docs.select(col(idCol).cast("long").as("id"),
                           posexplode(TextOps.tokens(col(textCol)))
                             .as(Seq("pos", "tok")))
    val kept = toks.join(spans,
        toks("id") === spans("id") && col("pos") >= col("span_start") &&
          col("pos") < col("span_start") + col("span_len"),
        "left_anti")
      .groupBy("id")
      .agg(concat_ws(" ",
             transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                       s => s.getField("tok"))).as("redacted"),
           count(lit(1)).as("_kept"))
    docs.select(col(idCol).cast("long").as("id"),
                TextOps.tokenCount(col(textCol)).cast("long").as("_total"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), coalesce(col("redacted"), lit("")).as("redacted"),
              (col("_total") - coalesce(col("_kept"), lit(0L)))
                .cast("long").as("n_dropped"))
  }

  /** Portable Bloom-filter membership probe — the 100 TB shape for "is
    * this digest/URL in the blocklist": build an m-bit Bloom filter over
    * the member keys, ship it to every task as a broadcast-sized LITERAL
    * (m/64 longs), and probe each corpus row with a pure expression. The
    * corpus never shuffles and never joins — membership is scan-speed,
    * which is why blocklist checks at scale are Bloom probes rather than
    * anti-joins (Bloom 1970; the standard false-positive rate
    * (1 − e^{−kn/m})^k applies — false negatives are impossible).
    *
    * Bit position j of key x = md5Prefix60("bloom<j>|" ⧺ x) mod m: any
    * engine with md5 rebuilds the identical filter, so probes are
    * oracle-verifiable. `mBits <= 0` sizes the filter from the member
    * count for `fpTarget` via the textbook m = ⌈−n·ln p / ln²2⌉ (rounded
    * up to whole 64-bit words, floor 64).
    *
    * The member set is collected to the driver — it is the SMALL side by
    * contract (blocklists, benchmark digests); corpus-sized member sets
    * want a shuffle anti-join instead. Returns df's rows plus
    * `maybe_member` (the Bloom answer) and `is_member` (exact, via an
    * isin literal over the same collected keys) so callers can observe
    * the false-positive set directly. */
  def bloomProbe(df: DataFrame, keyCol: String, members: DataFrame,
                 memberKeyCol: String, mBits: Int = -1, k: Int = 3,
                 fpTarget: Double = 0.01): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val keys = members.select(col(memberKeyCol).cast("string")).distinct()
      .collect().map(_.getString(0))
    val m: Long =
      if (mBits > 0) mBits.toLong
      else {
        // log(2)*log(2), NOT pow(log(2), 2): the oracle SQL interpolates
        // the same double constant, and pow is only 1-ulp-accurate.
        val raw = math.ceil(
          keys.length * (-math.log(fpTarget) / (math.log(2) * math.log(2)))).toLong
        math.max(64L, ((raw + 63L) / 64L) * 64L)
      }
    // Build the filter driver-side with the SAME hash the probe uses, via
    // a one-row-per-member Spark job (keeps the md5Prefix60 definition
    // single-sourced in the kernel rather than re-implemented in Scala).
    // The filter ships as the sorted array of SET bit positions — a Bloom
    // filter is exactly its set-bit set. Small filters probe through
    // portable column expressions (array_contains over the positions);
    // above [[nativeBitsetThresholdBits]] the positions pack into a
    // long[] bitset probed by the fused [[graft.functions.
    // BloomBitsetProbe]] codegen kernel — the portable form is
    // O(k·|setBits|) per row, the wrong shape once the filter saturates
    // (|setBits| ≈ m/2 at multi-MB sizes). Both forms hash identically
    // (BloomKernelSpec asserts column-for-column equivalence).
    val spark = df.sparkSession
    import spark.implicits._
    val setBits: Array[Long] =
      if (keys.isEmpty) Array.empty
      else keys.toSeq.toDF("mk")
        .select(explode(array((0 until k).map(j =>
                  bloomPosition(col("mk"), j, m)): _*)).as("p"))
        .distinct().collect().map(_.getLong(0)).sorted
    val key = col(keyCol).cast("string")
    val maybe =
      bloomMaybeColumn(key, setBits, m, k, m >= nativeBitsetThresholdBits)
    df.withColumn("maybe_member", maybe)
      .withColumn("is_member",
        if (keys.isEmpty) lit(false) else key.isin(keys.toSeq: _*))
  }

  /** Filter size (bits) at which [[bloomProbe]] switches from the portable
    * array_contains probe to the packed-bitset codegen kernel: 2^18 bits
    * (32 KiB) ≈ 27k members at the 1% default — blocklist-sized filters
    * keep the portable plan, corpus-scale filters get the O(k) probe. */
  private[graft] val nativeBitsetThresholdBits: Long = 1L << 18

  /** Bit position j of `keyC`: md5Prefix60("bloom<j>|" ⧺ key) mod m —
    * ONE definition, used by the filter build, the portable probe, and
    * (re-expressed byte-for-byte in [[graft.functions.BloomBitsetProbe]])
    * the native probe. */
  private[graft] def bloomPosition(keyC: Column, j: Int, m: Long): Column =
    pmod(graft.functions.PortableHash.md5Prefix60(
      concat(lit(s"bloom$j|"), keyC)), lit(m))

  /** The k-fold membership conjunction over a built filter, in either
    * probe form; exposed for the equivalence spec. */
  private[graft] def bloomMaybeColumn(key: Column, setBits: Array[Long],
                                      m: Long, k: Int,
                                      native: Boolean): Column =
    if (native)
      org.apache.spark.sql.GraftColumn.of(graft.functions.BloomBitsetProbe(
        org.apache.spark.sql.GraftColumn.expr(key.cast("string")),
        graft.functions.BloomBitsetProbe.pack(setBits, m), m, k))
    else {
      val bitsLit = typedlit(setBits.toSeq)
      (0 until k)
        .map(j => array_contains(bitsLit, bloomPosition(key, j, m)))
        .reduce(_ && _)
    }

  /** Embedding-cosine near-dup pairs via random-hyperplane LSH buckets +
    * exact cosine verification (see Similarity.hyperplaneBucket), on the
    * fused native kernels — bucket signatures and pair cosines are the two
    * hot loops of this operator. `dim` <= 0 (the default) derives the
    * vector width from the data, so wide embeddings never silently bucket
    * on a plane-length prefix. */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, planes: Int = 12,
                     seed: Double = 4.2, dim: Int = -1): DataFrame = {
    graft.functions.ArrayKernels.register(emb.sparkSession)
    val d = if (dim > 0) dim else Similarity.vecDim(emb, vecCol)
    val bucketed = emb.select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      Similarity.hyperplaneBucket(col(vecCol), planes, seed, d).as("bucket"))
      .localCheckpoint(true) // hyperplane dots computed once per vector
    bucketed.as("a")
      .join(bucketed.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
              graft.functions.ArrayKernels.arrayCosine(
                col("a.vec"), col("b.vec")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
  }
}
