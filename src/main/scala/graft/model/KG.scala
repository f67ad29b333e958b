package graft.model

import java.io.File
import java.util.UUID

import scala.collection.concurrent.TrieMap

import org.apache.spark.{SparkContext, SparkFiles}
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Knowledge-graph triple store derived from the driver's TPC-H-ish testdata.
  *
  * The reference engine's only base table is a triple store
  * `(head, relation, tail)` over dictionary-encoded entities
  * (knovex/structure/kg/graph.py:10,22-64; index.py:4-44). The driver's
  * testdata is a star schema, so — per FIXTURES.md §7 — we derive the edges
  * view from FK columns. Entity ids are dictionary-encoded into disjoint
  * ranges (`tag * 100_000_000 + key`), relations come in inverse pairs
  * `2i / 2i+1` matching the reference convention (`rel ^ 1` is the inverse:
  * dataloader.py:16-29, transe.py:48-56, index.py:79-94).
  *
  * `edgesCte` is the byte-for-byte SQL equivalent used as the DuckDB-oracle
  * prefix, so every hard-logic query is verifiable end-to-end.
  *
  * Scale notes (100 TB design): the derived view is a union of narrow
  * projections; each branch prunes to 2-3 columns at the parquet scan. The
  * `DISTINCT` branches shuffle on (src,dst) — at cluster scale these would be
  * bucketed by src into `spark.sql.shuffle.partitions` sized to keep
  * partitions < 256 MB. All downstream query joins are equi-joins on
  * (rel, src) or (rel, dst); AQE handles skew.
  */
object KG {
  // Entity-id namespace tags.
  val TAG_CUSTOMER = 1L
  val TAG_NATION   = 2L
  val TAG_REGION   = 3L
  val TAG_SUPPLIER = 4L
  val TAG_PART     = 5L
  val TAG_ORDER    = 6L
  val TAG_SEGMENT  = 7L
  val TAG_BASE     = 100000000L

  def ent(tag: Long, key: Long): Long = tag * TAG_BASE + key

  // Base (even) relation ids; odd id = inverse (rel ^ 1).
  val REL_CUST_NATION  = 0L  // customer -in_nation-> nation
  val REL_SUPP_NATION  = 2L  // supplier -in_nation-> nation
  val REL_NATION_REGION = 4L // nation -in_region-> region
  val REL_ORDER_CUST   = 6L  // order -placed_by-> customer
  val REL_PART_SUPP    = 8L  // part -supplied_by-> supplier (distinct pairs)
  val REL_CUST_SEGMENT = 10L // customer -in_segment-> segment
  val REL_ORDER_NATION = 12L // order -from_nation-> nation
  val REL_CUST_PART    = 14L // customer -bought-> part (distinct pairs)
  val REL_CUST_SUPP    = 16L // customer -bought_from-> supplier (distinct)
  val REL_CUST_PART_BULK = 18L // customer -bought_bulk(qty>25)-> part
  val REL_PART_SUPP_BULK = 20L // part -bulk_supplied_by(qty>25)-> supplier

  def inverse(rel: Long): Long = rel ^ 1L

  /** Segment dictionary (S2-style dense encoding; fixed CASE so Spark and the
    * DuckDB oracle agree without a shuffle-dependent id assignment). */
  val segments: Seq[(String, Int)] =
    Seq("AUTOMOBILE" -> 0, "BUILDING" -> 1, "FURNITURE" -> 2,
        "HOUSEHOLD" -> 3, "MACHINERY" -> 4)

  // Per-context state, keyed (applicationId, dir). Each context gets one
  // listener that drops its entries when it stops: the edges files it
  // points at are deleted with the context, and a stopped context's frames
  // should not stay reachable.
  private val cache = TrieMap.empty[(String, String), DataFrame]
  private val statsCache = TrieMap.empty[(String, String), Map[Long, Long]]
  private val owners = TrieMap.empty[String, SparkListener]

  /** The cache key of `dir` in `spark`'s context; the first key of a
    * context registers the listener that drops its entries. */
  private def key(spark: SparkSession, dir: String): (String, String) = {
    val sc = spark.sparkContext
    val app = sc.applicationId
    if (!owners.contains(app)) {
      val end = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          cache.keys.filter(_._1 == app).foreach(cache.remove)
          statsCache.keys.filter(_._1 == app).foreach(statsCache.remove)
          owners.remove(app)
        }
      }
      if (owners.putIfAbsent(app, end).isEmpty) sc.addSparkListener(end)
    }
    (app, dir)
  }

  /** The listener that drops `sc`'s cache entries when it stops. */
  private[graft] def owner(sc: SparkContext): Option[SparkListener] =
    owners.get(sc.applicationId)

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS) which Spark rejects unless the
    // legacy read path maps it to LONG.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Events table with `ts` normalized to canonical epoch-NANOSECOND longs,
    * whatever the on-disk encoding. The driver's testdata has shipped `ts`
    * as parquet TIMESTAMP(NANOS) (read as LONG ns under `nanosAsLong`) and
    * as timestamp[us] (read as TIMESTAMP_NTZ / TIMESTAMP) in different
    * regenerations; every event-time call site routes through here so a
    * schema drift can't silently break six operators again (round-7
    * post-mortem). Wall-clock (NTZ) values are interpreted as UTC — the
    * same convention DuckDB's `epoch_ns` applies to naive timestamps — so
    * all entrypoints set `spark.sql.session.timeZone=UTC`. */
  def eventsNs(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => ev
      case org.apache.spark.sql.types.TimestampType =>
        ev.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Session-timezone-INDEPENDENT epoch: both timestampdiff operands
        // are NTZ, so the difference is computed in wall-clock space (the
        // UTC-naive convention above) — `cast(ts as timestamp)` would
        // silently shift epochs for any non-UTC library caller (r8 ADVICE).
        ev.withColumn("ts", expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000L"))
      case dt => throw new IllegalArgumentException(
        s"unsupported events.ts encoding: $dt (expected LONG ns or TIMESTAMP)")
    }
  }

  /** Directed base edges (even relations only). */
  def baseEdges(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = table(spark, dir, n)
    val customer = t("customer")
    val supplier = t("supplier")
    val nation   = t("nation")
    val orders   = t("orders")
    val lineitem = t("lineitem")

    def e(tag: Long, keyCol: org.apache.spark.sql.Column) =
      (lit(tag * TAG_BASE) + keyCol.cast("long")).cast("long")

    val segCase = segments.foldLeft(when(lit(false), lit(5))) {
      case (acc, (name, id)) => acc.when(col("c_mktsegment") === name, lit(id))
    }.otherwise(lit(5))

    // orders x lineitem with a bulk flag (qty > 25), checkpointed once —
    // the shared input of the five purchase-derived relations. Each PAIR of
    // relations over the same key (all/bulk twins) comes out of ONE
    // groupBy: `max(bulk)` per pair plus an explode emitting the base edge
    // always and the bulk edge when any line qualified — so the five
    // distincts of the naive form collapse to three aggregations with no
    // intermediate re-reads. Join keyed on l_orderkey; at scale both sides
    // would be bucketed by orderkey.
    // NOT materialized: each consuming branch re-runs the scan+join
    // concurrently inside the ONE union job — cheaper end-to-end than an
    // eager checkpoint, which serializes a write+read barrier before any
    // branch starts. No broadcast hint: the 2-column orders projection is
    // size-broadcast by Catalyst at bench scale, while at cluster scale
    // (where orders outgrows the threshold) the join degrades gracefully
    // to shuffle — there both sides would be bucketed by orderkey anyway.
    val ol = lineitem
      .join(orders.select("o_orderkey", "o_custkey"),
            col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"),
              col("l_suppkey").as("sk"),
              when(col("l_quantity") > 25, 1).otherwise(0).as("bulk"))

    def edge(src: org.apache.spark.sql.Column, rel: Long,
             dst: org.apache.spark.sql.Column)(df: DataFrame) =
      df.select(src.as("src"), lit(rel).cast("long").as("rel"), dst.as("dst"))

    // Distinct (a, b) pairs of `ol` as edges of `relAll`, plus edges of
    // `relBulk` for pairs where some line had qty > 25 — one shuffle, one
    // pass, two relations.
    def pairEdges(a: String, aTag: Long, b: String, bTag: Long,
                  relAll: Long, relBulk: Long): DataFrame =
      ol.groupBy(col(a), col(b)).agg(max("bulk").as("b"))
        .select(explode(when(col("b") === 1, array(
            struct(e(aTag, col(a)).as("src"),
                   lit(relAll).cast("long").as("rel"),
                   e(bTag, col(b)).as("dst")),
            struct(e(aTag, col(a)).as("src"),
                   lit(relBulk).cast("long").as("rel"),
                   e(bTag, col(b)).as("dst"))))
          .otherwise(array(
            struct(e(aTag, col(a)).as("src"),
                   lit(relAll).cast("long").as("rel"),
                   e(bTag, col(b)).as("dst"))))).as("ed"))
        .select(col("ed.src").as("src"), col("ed.rel").as("rel"),
                col("ed.dst").as("dst"))

    val branches = Seq(
      edge(e(TAG_CUSTOMER, col("c_custkey")), REL_CUST_NATION,
           e(TAG_NATION, col("c_nationkey")))(customer),
      edge(e(TAG_SUPPLIER, col("s_suppkey")), REL_SUPP_NATION,
           e(TAG_NATION, col("s_nationkey")))(supplier),
      edge(e(TAG_NATION, col("n_nationkey")), REL_NATION_REGION,
           e(TAG_REGION, col("n_regionkey")))(nation),
      edge(e(TAG_ORDER, col("o_orderkey")), REL_ORDER_CUST,
           e(TAG_CUSTOMER, col("o_custkey")))(orders),
      edge(e(TAG_CUSTOMER, col("c_custkey")), REL_CUST_SEGMENT,
           e(TAG_SEGMENT, segCase))(customer),
      edge(e(TAG_ORDER, col("o_orderkey")), REL_ORDER_NATION,
           e(TAG_NATION, col("c_nationkey")))(
        orders.join(customer.select("c_custkey", "c_nationkey"),
                    col("o_custkey") === col("c_custkey"))),
      // (pk, sk) over ol ≡ distinct over lineitem: TPC-H referential
      // integrity guarantees every l_orderkey exists in orders, so the ol
      // join drops no lineitem row. Saves a second full lineitem scan.
      pairEdges("pk", TAG_PART, "sk", TAG_SUPPLIER,
                REL_PART_SUPP, REL_PART_SUPP_BULK),
      pairEdges("ck", TAG_CUSTOMER, "pk", TAG_PART,
                REL_CUST_PART, REL_CUST_PART_BULK),
      edge(e(TAG_CUSTOMER, col("ck")), REL_CUST_SUPP,
           e(TAG_SUPPLIER, col("sk")))(ol).distinct()
    )
    branches.reduce(_ unionAll _)
  }

  /** Full edges table: base plus inverse edges with `rel + 1` (S11
    * inverse-edge augmentation, dataloader.py:16-61), derived once per
    * (context, dir) and stored as parquet in a directory the SparkContext
    * owns (under `SparkFiles.getRootDirectory()`, deleted when the context
    * stops). The frame returned is a cached scan of that table: its plan is
    * one parquet leaf and its cached RDD carries no derivation lineage, so
    * a query over it analyzes, optimizes and schedules only its own work. */
  def edges(spark: SparkSession, dir: String): DataFrame =
    cache.getOrElseUpdate(key(spark, dir), {
      // Forward + inverse in ONE pass: each base edge explodes into
      // [fwd, inv] rows. The alternative — `base union base.select(swap)` —
      // references base twice, re-running the whole scan+join+aggregate
      // pipeline (measured ~40% of load), and checkpointing base to avoid
      // that inserts a serial write+read barrier. The explode does neither.
      val baseInv = baseEdges(spark, dir).select(explode(array(
          struct(col("src"), col("rel"), col("dst")),
          struct(col("dst").as("src"), (col("rel") + 1).as("rel"),
                 col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.rel").as("rel"),
                col("e.dst").as("dst"))
      // Cluster the table by relation: every atom scan filters on `rel`, and
      // in-memory columnar batch stats then prune non-matching batches
      // (the cached analog of partition pruning; at cluster scale the
      // table would also be partitioned by rel on shared storage). The
      // repartition also COALESCES the union's ~22×32 branch partitions
      // down to one set — without it, every cached scan schedules ~10× the
      // tasks and the whole KG suite ran ~2× slower (measured; the ~3 s
      // shuffle at load pays for itself many times over). The partition
      // count is fixed so AQE cannot coalesce the write into fewer files:
      // the scan then reads each file back as one rel-clustered partition.
      val derived = baseInv
        .repartition(spark.sessionState.conf.numShufflePartitions, col("rel"))
        .sortWithinPartitions("rel", "src")
      val path = new File(SparkFiles.getRootDirectory(),
                          s"graft-edges-${UUID.randomUUID}").getPath
      derived.write.parquet(path)
      // The schema is given, so the read lists the files and starts no job.
      val stored = spark.read.schema(derived.schema).parquet(path)
        .persist(StorageLevel.MEMORY_AND_DISK)
      stored.count()
      stored
    })

  /** Relation cardinalities of the edges view — the (tiny) statistics table
    * behind the hard-logic planner's join ordering. One 22-row aggregate,
    * cached per (context, dir). */
  def relStats(spark: SparkSession, dir: String): Map[Long, Long] =
    statsCache.getOrElseUpdate(key(spark, dir), {
      edges(spark, dir).groupBy("rel").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    })

  /** DuckDB-oracle SQL prefix defining the identical `edges` relation.
    * Must stay semantically in lock-step with [[baseEdges]]. */
  val edgesCte: String = {
    val segSql = "CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1 " +
      "WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3 WHEN 'MACHINERY' THEN 4 ELSE 5 END"
    s"""WITH ol AS (
       |  SELECT o_custkey AS ck, l_partkey AS pk, l_suppkey AS sk, l_quantity AS qty
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |), kg_base AS (
       |  SELECT CAST(100000000 + c_custkey AS BIGINT) AS src, 0 AS rel, CAST(200000000 + c_nationkey AS BIGINT) AS dst FROM customer
       |  UNION ALL SELECT CAST(400000000 + s_suppkey AS BIGINT), 2, CAST(200000000 + s_nationkey AS BIGINT) FROM supplier
       |  UNION ALL SELECT CAST(200000000 + n_nationkey AS BIGINT), 4, CAST(300000000 + n_regionkey AS BIGINT) FROM nation
       |  UNION ALL SELECT CAST(600000000 + o_orderkey AS BIGINT), 6, CAST(100000000 + o_custkey AS BIGINT) FROM orders
       |  UNION ALL SELECT DISTINCT CAST(500000000 + l_partkey AS BIGINT), 8, CAST(400000000 + l_suppkey AS BIGINT) FROM lineitem
       |  UNION ALL SELECT CAST(100000000 + c_custkey AS BIGINT), 10, CAST(700000000 + ($segSql) AS BIGINT) FROM customer
       |  UNION ALL SELECT CAST(600000000 + o_orderkey AS BIGINT), 12, CAST(200000000 + c_nationkey AS BIGINT) FROM orders JOIN customer ON o_custkey = c_custkey
       |  UNION ALL SELECT DISTINCT CAST(100000000 + ck AS BIGINT), 14, CAST(500000000 + pk AS BIGINT) FROM ol
       |  UNION ALL SELECT DISTINCT CAST(100000000 + ck AS BIGINT), 16, CAST(400000000 + sk AS BIGINT) FROM ol
       |  UNION ALL SELECT DISTINCT CAST(100000000 + ck AS BIGINT), 18, CAST(500000000 + pk AS BIGINT) FROM ol WHERE qty > 25
       |  UNION ALL SELECT DISTINCT CAST(500000000 + pk AS BIGINT), 20, CAST(400000000 + sk AS BIGINT) FROM ol WHERE qty > 25
       |), edges AS (
       |  SELECT src, CAST(rel AS BIGINT) AS rel, dst FROM kg_base
       |  UNION ALL SELECT dst, CAST(rel + 1 AS BIGINT), src FROM kg_base
       |)
       |""".stripMargin
  }
}
