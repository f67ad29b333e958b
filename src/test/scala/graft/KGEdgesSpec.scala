package graft

import java.io.File

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkFiles
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.KG

/** The edges table behind every KG layer: derived once per (context, dir),
  * stored as parquet the context owns, and served as a cached one-leaf scan. */
class KGEdgesSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("edges hold exactly the rows of the in-plan derivation") {
    val base = KG.baseEdges(spark, dir)
    val derived = base.unionAll(base.select(col("dst").as("src"),
      (col("rel") + 1).as("rel"), col("src").as("dst")))
    val edges = KG.edges(spark, dir)
    assert(edges.count() == derived.count())
    assert(edges.exceptAll(derived).isEmpty)
    assert(derived.exceptAll(edges).isEmpty)
  }

  /** The one parquet relation the analyzed plan reads. */
  private def parquetLeaf(df: org.apache.spark.sql.DataFrame): HadoopFsRelation = {
    val plan = df.queryExecution.analyzed
    val leaves = plan.collectLeaves()
    assert(leaves.size == 1, plan.treeString)
    leaves.head match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[ParquetFileFormat] => fs
        case other => fail(s"leaf is not a parquet relation: $other")
      }
      case other => fail(s"leaf is not a file relation: $other")
    }
  }

  test("the edges plan is one parquet leaf with no derivation above it") {
    val edges = KG.edges(spark, dir)
    parquetLeaf(edges)
    val plan = edges.queryExecution.analyzed
    assert(plan.collect { case p @ (_: Union | _: Join | _: Generate |
                                    _: Aggregate) => p }.isEmpty,
           plan.treeString)
  }

  test("a one-atom scan runs one job of one stage") {
    val edges = KG.edges(spark, dir)
    val group = "kg-edges-one-atom"
    val stages = TrieMap.empty[Int, Int]
    val ended = TrieMap.empty[Int, Unit]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          stages(e.jobId) = e.stageInfos.size
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended(e.jobId) = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "one atom")
      val rows = edges.filter(col("rel") === KG.REL_CUST_NATION).collect()
      sc.clearJobGroup()
      assert(rows.nonEmpty)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!(stages.nonEmpty && stages.keys.forall(ended.contains)) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      assert(stages.size == 1, s"jobs: $stages")
      assert(stages.values.head == 1, s"stages per job: $stages")
    } finally sc.removeSparkListener(l)
  }

  test("a second call returns the same frame, stored under the context's root") {
    val edges = KG.edges(spark, dir)
    assert(KG.edges(spark, dir) eq edges)
    val root = new File(SparkFiles.getRootDirectory()).getCanonicalPath
    val files = parquetLeaf(edges).location.inputFiles
    assert(files.nonEmpty)
    files.foreach { f =>
      val p = new File(new Path(f).toUri.getPath).getCanonicalPath
      assert(p.startsWith(root + File.separator), s"$p is not under $root")
    }
  }

  test("the context's end drops its cache entries") {
    val edges = KG.edges(spark, dir)
    val stats = KG.relStats(spark, dir)
    val end = KG.owner(spark.sparkContext)
    assert(end.isDefined)
    end.get.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis))
    assert(KG.owner(spark.sparkContext).isEmpty)
    val again = KG.edges(spark, dir)
    try {
      assert(!(again eq edges), "the edges entry survived its context's end")
      assert(KG.relStats(spark, dir) == stats)
      assert(KG.owner(spark.sparkContext).isDefined)
    } finally edges.unpersist()
  }
}
