package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dictionary encoding + KG ingestion (SURVEY §2.1).
  *
  *  - S1  TSV triple scan (utils/data.py:12-31)
  *  - S2  dictionary build: dense ids in registration order (index.py:17-44)
  *  - S3  dictionary persist/load as JSON (index.py:46-69)
  *  - S4  dictionary export with inverse-pair halving (index.py:79-94)
  *  - S5  KG load + id-domain validation (graph.py:81-95)
  *  - S6  adjacency indexes as grouped views (graph.py:30-51)
  *  - S8  incidence mask as a sparse distinct projection (graph.py:66-71)
  *  - S11 inverse-edge augmentation `rel ^ 1` (dataloader.py:16-61)
  */
object KGIndex {

  /** S1: whitespace-separated TSV triple files -> edges(src, rel, dst).
    * Multi-file chaining = passing several paths (Spark unions natively). */
  def readTsv(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema("src LONG, rel LONG, dst LONG")
      .option("sep", "\t")
      .csv(paths: _*)

  /** S2: dense dictionary over a name column, ids assigned in sorted order
    * (registration order is not reproducible on a distributed shuffle; the
    * deterministic analog is lexicographic). zipWithIndex avoids the
    * single-partition window a dense_rank would need. */
  def buildDictionary(names: DataFrame, nameCol: String): DataFrame = {
    val spark = names.sparkSession
    import spark.implicits._
    val distinct = names.select(col(nameCol).cast("string")).distinct()
      .orderBy(nameCol)
    spark.createDataFrame(
      distinct.rdd.map(_.getString(0)).zipWithIndex().map {
        case (n, i) => (i, n)
      }).toDF("id", "name")
  }

  /** S3: JSON round-trip. Written as a single-file JSON object per dict,
    * matching the reference layout {"name": id, ...}. */
  def saveDictionary(dict: DataFrame, path: String): Unit =
    dict.select(col("id"), col("name")).coalesce(1)
      .write.mode("overwrite").json(path)

  def loadDictionary(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("id LONG, name STRING").json(path)

  /** S4: TSV export convention — only even (base) relation ids are dumped,
    * halved to the pair id (index.py:90-94). */
  def exportRelations(relDict: DataFrame): DataFrame =
    relDict.filter(col("id") % 2 === 0)
      .select((col("id") / 2).cast("long").as("pair_id"), col("name"))

  /** S5: validate that every edge endpoint/relation is registered; returns
    * the frame of violations (empty = valid). Left-anti join per dimension. */
  def validate(edges: DataFrame, entities: DataFrame, relations: DataFrame): DataFrame = {
    val badSrc = edges.join(entities.select(col("id").as("src")), Seq("src"), "left_anti")
    val badDst = edges.join(entities.select(col("id").as("dst")), Seq("dst"), "left_anti")
    val badRel = edges.join(relations.select(col("id").as("rel")), Seq("rel"), "left_anti")
    badSrc.unionByName(badDst).unionByName(badRel).distinct()
  }

  /** S6: the reference's 9 eager hash multimaps as lazy grouped views.
    * Each is a groupBy + collect_set over the same edges scan — in Spark
    * these are *plans*, materialized only if used; equi-joins on the edges
    * table subsume most uses (SURVEY §1.1). */
  def adjacency(edges: DataFrame, by: String): DataFrame = by match {
    case "hr2t" => edges.groupBy("src", "rel").agg(collect_set("dst").as("ts"))
    case "tr2h" => edges.groupBy("dst", "rel").agg(collect_set("src").as("hs"))
    case "r2ht" => edges.groupBy("rel").agg(collect_set(struct("src", "dst")).as("hts"))
    case "ht2r" => edges.groupBy("src", "dst").agg(collect_set("rel").as("rs"))
    case "h2r"  => edges.groupBy("src").agg(collect_set("rel").as("rs"))
    case "r2h"  => edges.groupBy("rel").agg(collect_set("src").as("hs"))
    case "r2t"  => edges.groupBy("rel").agg(collect_set("dst").as("ts"))
    case "h2t"  => edges.groupBy("src").agg(collect_set("dst").as("ts"))
    case "t2h"  => edges.groupBy("dst").agg(collect_set("src").as("hs"))
    case other  => throw new IllegalArgumentException(s"unknown index $other")
  }

  /** S8: incidence mask — sparse (entity, relation) distinct pairs; the
    * dense bool matrix of graph.py:66-71 is never materialized. */
  def incidence(edges: DataFrame): DataFrame =
    edges.select("src", "rel").distinct()

  /** S11: inverse-edge augmentation (rel ^ 1). */
  def addInverse(base: DataFrame): DataFrame =
    base.unionAll(base.select(col("dst").as("src"),
      col("rel").bitwiseXOR(lit(1L)).as("rel"), col("src").as("dst")))

  /** Entity dictionary of the derived TPC-H KG: names are stable
    * "<type>:<key>" strings — gives S2/S3/S4 a concrete oracle-checkable
    * instantiation over the driver testdata. */
  def derivedEntityDict(spark: SparkSession, dir: String): DataFrame = {
    def part(table: String, tag: Long, key: String, prefix: String) =
      KG.table(spark, dir, table).select(
        (lit(tag * KG.TAG_BASE) + col(key)).cast("long").as("id"),
        concat(lit(prefix), lit(":"), col(key)).as("name"))
    part("customer", KG.TAG_CUSTOMER, "c_custkey", "customer")
      .unionAll(part("nation", KG.TAG_NATION, "n_nationkey", "nation"))
      .unionAll(part("region", KG.TAG_REGION, "r_regionkey", "region"))
      .unionAll(part("supplier", KG.TAG_SUPPLIER, "s_suppkey", "supplier"))
      .unionAll(part("part", KG.TAG_PART, "p_partkey", "part"))
      .unionAll(part("orders", KG.TAG_ORDER, "o_orderkey", "order"))
  }
}
