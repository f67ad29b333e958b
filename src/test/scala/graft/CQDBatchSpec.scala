package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.exec.{CQDBeam, CQDBeamBatched}
import graft.lang.{Normalize, Parser}
import graft.score.{Embeddings, TransE}

/** Batched CQD must agree instance-by-instance with the single-query path. */
class CQDBatchSpec extends AnyFunSuite {
  import SparkTestSession.spark

  val dim = 4
  lazy val ents = Embeddings.deterministic(spark.range(6).toDF("id"), "id", dim, 0.3)
  lazy val rels = Embeddings.deterministic(spark.range(4).toDF("id"), "id", dim, 1.7)

  def collectMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("batched 2p equals per-instance CQDBeam (3 instances)") {
    val lstr = "r1(s1,e1)&r2(e1,f)"
    val cq = Normalize.toDnf(Parser.parse(lstr)).head
    val bindings = Seq(
      0L -> Map("r1" -> 0L, "r2" -> 2L, "s1" -> 4L),
      1L -> Map("r1" -> 1L, "r2" -> 3L, "s1" -> 2L),
      2L -> Map("r1" -> 2L, "r2" -> 0L, "s1" -> 0L))
    val batched = collectMap(CQDBeamBatched.answerBatch(
      spark, cq, bindings, ents, rels, TransE(2), beam = 10))
    bindings.foreach { case (qid, b) =>
      val single = CQDBeam.answer(lstr, b, ents, rels, TransE(2), beam = 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      single.foreach { case (ent, score) =>
        assert(math.abs(batched((qid, ent)) - score) < 1e-9,
               s"qid=$qid ent=$ent")
      }
    }
    assert(batched.size == 18) // 3 instances x 6 entities
  }

  test("batched negation query (2in) matches the single path") {
    val lstr = "r1(s1,f)&!r2(s2,f)"
    val cq = Normalize.toDnf(Parser.parse(lstr)).head
    val bindings = Seq(
      0L -> Map("r1" -> 0L, "r2" -> 1L, "s1" -> 0L, "s2" -> 1L),
      1L -> Map("r1" -> 3L, "r2" -> 2L, "s1" -> 5L, "s2" -> 3L))
    val batched = collectMap(CQDBeamBatched.answerBatch(
      spark, cq, bindings, ents, rels, TransE(2), beam = 10))
    bindings.foreach { case (qid, b) =>
      val single = CQDBeam.answer(lstr, b, ents, rels, TransE(2), beam = 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      single.foreach { case (ent, score) =>
        assert(math.abs(batched((qid, ent)) - score) < 1e-9)
      }
    }
  }

  test("beam pruning applies per instance") {
    val lstr = "r1(s1,e1)&r2(e1,f)"
    val cq = Normalize.toDnf(Parser.parse(lstr)).head
    val bindings = Seq(
      0L -> Map("r1" -> 0L, "r2" -> 2L, "s1" -> 4L),
      1L -> Map("r1" -> 1L, "r2" -> 3L, "s1" -> 2L))
    val batched = collectMap(CQDBeamBatched.answerBatch(
      spark, cq, bindings, ents, rels, TransE(2), beam = 1))
    bindings.foreach { case (qid, b) =>
      val single = CQDBeam.answer(lstr, b, ents, rels, TransE(2), beam = 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      single.foreach { case (ent, score) =>
        assert(math.abs(batched((qid, ent)) - score) < 1e-9)
      }
    }
  }

  test("a variable-free atom is refused as on the single path") {
    val lstr = "r1(s1,f)&r2(s1,s2)"
    val cq = Normalize.toDnf(Parser.parse(lstr)).head
    val b = Map("r1" -> 0L, "r2" -> 1L, "s1" -> 4L, "s2" -> 2L)
    val batched = intercept[IllegalArgumentException](CQDBeamBatched.answerBatch(
      spark, cq, Seq(0L -> b), ents, rels, TransE(2), beam = 10))
    val single = intercept[IllegalArgumentException](
      CQDBeam.answer(lstr, b, ents, rels, TransE(2), beam = 10))
    assert(batched.getMessage == single.getMessage)
    assert(batched.getMessage.contains("r2(s1,s2) has no variable"))
  }
}
