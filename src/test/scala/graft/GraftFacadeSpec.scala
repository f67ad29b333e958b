package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.score.{Embeddings, TransE}
import graft.exec.CQDBeam

class GraftFacadeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("fromTriples: answer + inverse-edge convention + views + validate") {
    val base = Seq((0L, 4L, 2L), (1L, 4L, 2L), (0L, 2L, 3L))
      .toDF("src", "rel", "dst")
    val kg = Graft.fromTriples(spark, base)
    // inverse edges present: 2 -(5)-> 0
    val inv = kg.answer("r1(s1,f)", Map("r1" -> 5L, "s1" -> 2L))
      .collect().map(_.getLong(0)).toSet
    assert(inv == Set(0L, 1L))
    kg.registerViews("t_")
    assert(spark.sql("SELECT count(*) FROM t_edges").collect()(0).getLong(0) == 6)
    val rels = Seq(2L, 3L, 4L, 5L).toDF("id")
    assert(kg.validate(rels).isEmpty)
  }

  test("fromTsv: base triples from TSV plus their inverse edges") {
    val f = java.nio.file.Files.createTempFile("graft", ".tsv")
    java.nio.file.Files.writeString(f, "0\t4\t2\n1\t4\t2\n")
    val kg = Graft.fromTsv(spark, f.toString)
    val got = kg.edges.select("src", "rel", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((0L, 4L, 2L), (1L, 4L, 2L), (2L, 5L, 0L), (2L, 5L, 1L)))
  }

  test("fromTestdata answer matches HardExec.run for a declared type") {
    val dir = "/root/testdata/sf0.001"
    val (_, lstr, b) = KGQueries.all.find(_._1 == "kg_2i").get
    val kg = Graft.fromTestdata(spark, dir)
    val viaFacade = kg.answer(lstr, b).collect().map(_.getLong(0)).toSet
    val direct = graft.exec.HardExec.run(spark, dir, lstr, b)
      .collect().map(_.getLong(0)).toSet
    assert(viaFacade == direct && direct.nonEmpty)
  }

  test("Godel t-norm: 2i conjunction = min of edge scores") {
    val dim = 4
    val ents = Embeddings.deterministic(spark.range(5).toDF("id"), "id", dim, 0.3)
    val rels = Embeddings.deterministic(spark.range(3).toDF("id"), "id", dim, 1.7)
    def vec(id: Long, seed: Double) =
      Array.tabulate(dim)(i => math.sin((id % 9973 + 1) * (i + 1) * 0.017 + seed))
    def transe(h: Array[Double], r: Array[Double], t: Array[Double]) =
      -math.sqrt((0 until dim).map(i => math.pow(h(i) + r(i) - t(i), 2)).sum)
    val got = CQDBeam.answer("r1(s1,f)&r2(s2,f)",
      Map("r1" -> 0L, "r2" -> 1L, "s1" -> 0L, "s2" -> 1L),
      ents, rels, TransE(2), beam = 10, godel = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0L until 5L).foreach { f =>
      val want = math.min(
        transe(vec(0, 0.3), vec(0, 1.7), vec(f, 0.3)),
        transe(vec(1, 0.3), vec(1, 1.7), vec(f, 0.3)))
      assert(math.abs(got(f) - want) < 1e-9)
    }
  }

  test("facade rankBatch: one row set per instance, consistent with rank") {
    val kg = Graft.fromTestdata(spark, dir)
    val b0: Map[String, Long] = Map("r1" -> 9L, "s1" -> 400000000L)
    val b1: Map[String, Long] = Map("r1" -> 9L, "s1" -> 400000001L)
    val batch = kg.rankBatch("r1(s1,f)", Seq(b0, b1), beam = Int.MaxValue, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val solo = kg.rank("r1(s1,f)", b0, beam = Int.MaxValue, dim = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(batch.keys.map(_._1).toSet == Set(0L, 1L))
    solo.foreach { case (ent, sc) =>
      assert(math.abs(batch((0L, ent)) - sc) < 1e-9)
    }
  }

  test("facade rankLMPNN: scores every entity per instance") {
    val kg = Graft.fromTestdata(spark, dir)
    val out = kg.rankLMPNN(Seq(
      ("r1(s1,e1)&r2(e1,f)", Map("r1" -> 9L, "r2" -> 8L, "s1" -> 400000000L)),
      ("r1(s1,f)", Map("r1" -> 9L, "s1" -> 400000001L))), dim = 8)
      .collect()
    val nEnts = kg.entities.count()
    assert(out.length == 2 * nEnts)
    assert(out.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("pipeline facade: continuation-session methods are wired end-to-end") {
    val (c, v) = GraftPipeline.fromTestdata(spark, dir)
    // Each call must produce a well-formed, non-erroring frame on sf0.001.
    assert(c.duplicatedSpans(n = 8).columns.toSeq ==
      Seq("id", "span_start", "span_len"))
    assert(c.redactSpans(n = 8).count() > 0)
    assert(c.scrub().count() > 0)
    assert(c.dsirWeights(org.apache.spark.sql.functions.col("source") === "src0")
      .columns.contains("logw"))
    assert(c.sourceDivergence().count() > 0)
    assert(c.zipf().count() == 1)
    assert(c.langIdEval().count() > 0)
    assert(c.lengthProfile().count() > 0)
    assert(c.temperatureSample("lang").count() > 0)
    assert(c.bigramScore(c.sample(0.75)).count() > 0)
    assert(c.bpeEncode(c.bpeLearn(merges = 2)).columns.toSeq
      == Seq("id", "pos", "t"))
    assert(c.bpeEncodeFused(c.bpeLearn(merges = 2)).columns.toSeq
      == Seq("id", "pos", "t"))
    assert(v.int8Error().columns.toSeq
      == Seq("id", "n_dims", "scale", "mse", "max_err"))
    val bench = c.frame.filter(
      org.apache.spark.sql.functions.col("doc_id") % 97 === 0)
      .select(org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.col("text")).as("mk"))
    val bp = c.bloomProbe(bench, "mk")
    assert(bp.filter(org.apache.spark.sql.functions.col("is_member") &&
      !org.apache.spark.sql.functions.col("maybe_member")).count() == 0)
    assert(v.outliers(k = 1).count() > 0)
    val q = v.frame.filter(org.apache.spark.sql.functions.col("id") < 5)
    val truth = v.topK(q, 3)
    assert(v.recallOf(truth, truth)
      .agg(org.apache.spark.sql.functions.min("recall"))
      .collect()(0).getDouble(0) == 1.0)
  }

  test("pipeline facade: round-10 methods (PCA, ingestion) are wired") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val (_, v) = GraftPipeline.fromTestdata(spark, dir)
    val dim = v.frame.select(org.apache.spark.sql.functions
      .size(col("vec"))).head().getInt(0)
    assert(v.pcaDirection(dim, iters = 1).count() == dim)
    assert(v.removeTopDirection(dim, iters = 1).columns.toSeq
      == Seq("id", "pos", "vp"))
    val gz = Seq((1L, graft.pipeline.TextOps.gzip("hello facade".getBytes)))
      .toDF("id", "gz")
    val c2 = GraftPipeline.ingestGzip(gz)
    assert(c2.frame.select("text").head().getString(0) == "hello facade")
    val warc = Seq((0L, graft.pipeline.TextOps.warcBytes(
      Seq(("response", "http://x/1", "payload one"))))).toDF("shard_id", "payload")
    val recs = GraftPipeline.ingestWarc(warc)
    assert(recs.count() == 1 &&
      recs.select("content").head().getString(0) == "payload one")
  }

  test("facade train: every model family returns its parameter frame") {
    import org.apache.spark.sql.functions.col
    val kg = Graft.fromTriples(spark,
      Seq((10L, 0L, 20L), (20L, 2L, 30L)).toDF("src", "rel", "dst"))
    val te = kg.train("transe", dim = 4)
    assert(te.select("kind").distinct().collect().map(_.getString(0)).toSet
      == Set("ent", "rel"))
    assert(kg.train("distmult", dim = 4, steps = 2).count() == te.count())
    assert(kg.train("rotate", dim = 4)
      .select("kind").distinct().collect().map(_.getString(0)).toSet
      == Set("ent_re", "ent_im", "rel_ph"))
    assert(kg.train("transe", dim = 4, hashNeg = true).count() == te.count())
    // trained params flow into the eval checkpoint, per family
    val ranks = kg.trainEvalRanks(te)
    assert(ranks.filter(col("rank") < 1).count() == 0)
    assert(kg.trainEvalRanks(kg.train("distmult", dim = 4), model = "distmult")
      .filter(col("rank") < 1).count() == 0)
    assert(kg.trainEvalRanks(kg.train("rotate", dim = 4), model = "rotate")
      .filter(col("rank") < 1).count() == 0)
    intercept[IllegalArgumentException](kg.train("unknown"))
  }

  private def tinyKg = Graft.fromTriples(spark,
    Seq((10L, 0L, 20L), (20L, 2L, 30L)).toDF("src", "rel", "dst"))

  test("facade train refuses TransE hashNeg with momentum") {
    intercept[IllegalArgumentException](
      tinyKg.train("transe", dim = 4, hashNeg = true, momentum = 0.9))
  }

  test("facade train refuses hashNeg and momentum for non-TransE models") {
    val kg = tinyKg
    for (m <- Seq("distmult", "complex", "rotate")) {
      intercept[IllegalArgumentException](kg.train(m, dim = 4, hashNeg = true))
      intercept[IllegalArgumentException](kg.train(m, dim = 4, momentum = 0.9))
    }
  }

  test("facade train refuses a negative momentum") {
    intercept[IllegalArgumentException](
      tinyKg.train("transe", dim = 4, momentum = -0.5))
  }

  test("facade evaluate: per-type filtered metrics in [0,1]") {
    val kg = Graft.fromTestdata(spark, dir)
    val rows = kg.evaluate(dir, Seq(
      ("t1p", "r1(s1,f)", Map("r1" -> 1L, "s1" -> 200000001L)))).collect()
    assert(rows.length <= 1) // 0 if the split left no hard answers
    rows.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
  }
}
