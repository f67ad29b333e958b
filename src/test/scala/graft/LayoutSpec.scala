package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.model.Layout
import graft.operators.DataLayout

/** Bucketed/partitioned physical layout: correctness of round-trip and the
  * no-shuffle bucketed-join property; the layout/CDC operators at 10x
  * rows. */
class LayoutSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("bucketed table round-trips and bucketed self-join avoids shuffle") {
    // clear any orphaned location from a previous interrupted run
    spark.sql("DROP TABLE IF EXISTS graft_edges_bucketed")
    val wh = new java.io.File("spark-warehouse/graft_edges_bucketed")
    if (wh.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete()
      }
      rm(wh)
    }
    val edges = Seq.tabulate(200)(i =>
      (i.toLong % 40, (i % 4) * 2L, (i * 7).toLong % 40))
      .toDF("src", "rel", "dst")
    Layout.writeBucketed(edges, "graft_edges_bucketed", buckets = 4)
    val back = Layout.readBucketed(spark, "graft_edges_bucketed")
    assert(back.count() == 200)
    assert(back.select("src", "rel", "dst").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(Layout.selfJoinAvoidsShuffle(spark, "graft_edges_bucketed"),
      "bucketed join should not need a shuffle")
  }

  // 10x probe of the layout/CDC/quality/streaming operators: the same
  // results shape at sf0.01 and sf0.1.
  test("zorder + cdc at 10x rows") {
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val li = graft.model.KG.table(spark, dir, "lineitem")
      val z = DataLayout.zorderCompare(li, "l_orderkey", "l_partkey").collect()
      assert(z.length == 2)
      val docs = graft.model.KG.table(spark, dir, "documents")
      val base = docs.filter(col("doc_id") % 10 =!= 0)
      val cur = docs.filter(col("doc_id") % 13 =!= 5)
      val d =
        DataLayout.snapshotDiff(base, cur, "doc_id", md5(col("text"))).count()
      assert(d > 0)
      val q = graft.operators.DataQuality.testdataReport(spark, dir).collect()
      assert(q.length == 8)
      val r = graft.streaming.EventStreams.resampleDailyLocf(
        graft.model.KG.eventsNs(spark, dir)).count()
      assert(r > 0)
    }
  }
}
