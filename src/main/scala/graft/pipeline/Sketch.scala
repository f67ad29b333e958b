package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Relational count–min sketch (Cormode & Muthukrishnan 2005, public
  * paper): a d×w counter table over a key stream, built with ONE shuffle
  * (explode d rows per item → groupBy (row, bucket)). The sketch is
  * O(d·w) — broadcastable, mergeable across shards by counter addition,
  * and the point estimate min_j cnt[j][h_j(x)] upper-bounds the true
  * count with error ≤ εN at depth ⌈ln 1/δ⌉, width ⌈e/ε⌉. Hashing is the
  * engine's portable md5 family, so a SQL oracle replays the sketch
  * bit-identically — the heavy-hitter screen is exactly verifiable at
  * verify SFs while the same plan runs at 100 TB (the counter table
  * never grows with the data). */
object Sketch {

  /** Row-`j` bucket of `key` — portable across engines. */
  def cmsBucket(key: Column, row: Int, width: Int): Column =
    PortableHash.md5Prefix60(concat(key.cast("string"), lit(s"#cms$row"))) %
      width

  /** Build the d×w sketch: (row, bucket, cnt). */
  def cmSketch(items: DataFrame, keyCol: String, depth: Int,
               width: Int): DataFrame =
    items.select(explode(array((0 until depth).map(j =>
        struct(lit(j).as("row"),
               cmsBucket(col(keyCol), j, width).as("bucket"))): _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** HyperLogLog register table (Flajolet–Fuchs–Gandouet–Meunier 2007,
    * public paper): m = 2^p registers, each holding the maximum rank
    * (leading-zero count + 1) of the (60−p)-bit hash suffix of the
    * values routed to it. The register table is O(m) per shard — broadcastable
    * and mergeable by register-wise MAX (the distributed COUNT DISTINCT
    * object: merged registers ≡ the union stream's registers exactly).
    * Hashing is the portable md5 family and the rank comes from the
    * binary-string length (`bin`), so a SQL oracle replays every
    * register bit-identically. `m` must be a power of two. */
  def hllRegisters(items: DataFrame, keyCol: String, shardCol: Column,
                   m: Int): DataFrame = {
    require(m > 0 && (m & (m - 1)) == 0, s"m must be a power of 2: $m")
    val p = java.lang.Integer.numberOfTrailingZeros(m)
    val h = PortableHash.md5Prefix60(col(keyCol).cast("string"))
    val w = shiftright(h, p)
    // rank = leading zeros in the (60−p)-bit suffix + 1 = (61−p) − bitlen(w)
    // (61−p, not a constant: a p≠6 register count shifts the suffix width)
    val rho = when(w === 0, lit(61 - p))
      .otherwise(lit(61 - p) - length(bin(w)))
    items.select(shardCol.as("shard"), h.bitwiseAND(lit(m - 1L)).as("reg"),
                 rho.as("rho"))
      .groupBy("shard", "reg").agg(max("rho").as("max_rho"))
  }

  /** Per-shard HLL estimate from a register table: the raw harmonic-mean
    * estimator `α·m²/(Σ 2^−M_j)` with absent registers contributing
    * 2^0 = 1 (`m − present + Σ_present`). The 2^−rho sum is exact dyadic
    * arithmetic, so the estimate is bit-identical cross-engine. */
  def hllEstimate(regs: DataFrame, m: Int, alpha: Double): DataFrame =
    regs.groupBy("shard")
      .agg(count(lit(1)).as("n_present"),
           sum(pow(lit(2.0), -col("max_rho"))).as("s"))
      .select(col("shard"), col("n_present"),
        round(lit(alpha * m * m) /
          (lit(m.toDouble) - col("n_present") + col("s")), 4).as("hll_est"))

  /** CMS point estimates for candidate keys: min over rows of the bucket
    * counters. The sketch side is counter-table-sized → broadcast; the
    * candidate side streams (no candidate×candidate blowup). Keys absent
    * from the stream estimate 0. */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                  depth: Int, width: Int): DataFrame = {
    val expanded = keys
      .select(col(keyCol), explode(array((0 until depth).map(j =>
        struct(lit(j).as("row"),
               cmsBucket(col(keyCol), j, width).as("bucket"))): _*)).as("rb"))
      .select(col(keyCol), col("rb.row").as("row"),
              col("rb.bucket").as("bucket"))
    expanded.join(broadcast(sketch), Seq("row", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }
}
