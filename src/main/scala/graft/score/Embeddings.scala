package graft.score

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding tables `(id BIGINT, vec ARRAY<DOUBLE>)` — the Spark analog of
  * the reference's `nn.Embedding` storage (transe.py:27-30, complex.py:28-31).
  *
  * Two sources:
  *  - parquet (driver testdata `embeddings.parquet`, float32 → double);
  *  - deterministic synthetic vectors derived from the id, used to give the
  *    scored executors a reproducible embedding space that the DuckDB oracle
  *    can recompute exactly (see [[sqlVecElem]]).
  */
object Embeddings {

  /** Load `(vec_id, embedding float[]) → (id, vec double[])`. */
  def fromParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("vec_id").cast("long").as("id"),
              transform(col("embedding"), x => x.cast("double")).as("vec"))

  /** vec[i] = sin((id % 9973 + 1) * (i + 1) * 0.017 + seed). Bounded args
    * keep sin() well-conditioned so Spark (libm via JVM) and DuckDB (C libm)
    * agree to ~1e-15; oracle queries round scores to 6 decimals. */
  def vecElem(id: Column, i: Column, seed: Double): Column =
    sin((id % 9973 + 1) * (i + 1) * 0.017 + seed)

  def deterministicVec(id: Column, dim: Int, seed: Double): Column =
    transform(sequence(lit(0), lit(dim - 1)), i => vecElem(id, i, seed))

  /** Attach a deterministic `vec` to an id column of `ids`. */
  def deterministic(ids: DataFrame, idCol: String, dim: Int, seed: Double): DataFrame =
    ids.withColumn("vec", deterministicVec(col(idCol), dim, seed))

  /** The DuckDB-SQL rendering of [[vecElem]] — element `i` (0-based) of the
    * synthetic vector for SQL expression `idExpr`. */
  def sqlVecElem(idExpr: String, i: Int, seed: Double): String =
    sqlElem(idExpr, (i + 1).toString, seed)

  /** The DuckDB-SQL rendering of [[deterministicVec]]: the `dim`-wide
    * synthetic vector for SQL expression `idExpr` as a DOUBLE list, whose
    * element k (1-based) is [[sqlVecElem]] at k − 1. */
  private[graft] def sqlVec(idExpr: String, dim: Int, seed: Double): String =
    s"list_transform(generate_series(1, $dim), k -> ${sqlElem(idExpr, "k", seed)})"

  /** Element `k` (a 1-based SQL expression) of the synthetic vector for
    * `idExpr`. */
  private[graft] def sqlElem(idExpr: String, k: String, seed: Double): String =
    s"SIN((($idExpr) % 9973 + 1) * $k * 0.017 + $seed)"

  /** F9: random embedding init N(0, std) (rotate.py:108-115), made
    * per-element deterministic: Box-Muller on two xxhash64-derived uniforms
    * of (id, i, seed). Non-deterministic expressions (randn) inside
    * higher-order-function lambdas either fail analysis or advance
    * per-element in version-dependent ways; an explicit hash is reproducible
    * under any partitioning/retry — required at cluster scale. */
  def randomInit(ids: DataFrame, idCol: String, dim: Int, std: Double,
                 seed: Long = 42L): DataFrame = {
    val m = 1048573L // prime modulus; u in (0,1) exclusive of both ends
    def unif(i: Column, salt: Long): Column =
      (pmod(xxhash64(col(idCol), i, lit(seed + salt)), lit(m)).cast("double")
        + 0.5) / m.toDouble
    ids.withColumn("vec",
      transform(sequence(lit(0), lit(dim - 1)), i =>
        sqrt(lit(-2.0) * log(unif(i, 0L))) *
          cos(lit(2.0 * math.Pi) * unif(i, 1L)) * std))
  }
}
