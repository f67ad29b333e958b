package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.metric.Ranking

/** O3-O5 vs the worked example of the reference filtered setting
  * (metric.py:97-121). */
class RankingSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // qid 0: entities 0..4 scored 0.9 .. 0.5 -> ranks 0..4.
  val scores = Seq(
    (0L, 0L, 0.9), (0L, 1L, 0.8), (0L, 2L, 0.7), (0L, 3L, 0.6), (0L, 4L, 0.5)
  ).toDF("qid", "entity", "score")
  // easy: {0}; hard: {2, 4}
  val answers = Seq((0L, 0L, false), (0L, 2L, true), (0L, 4L, true))
    .toDF("qid", "entity", "is_hard")

  test("rankAll assigns 0-based descending-score ranks") {
    val r = Ranking.rankAll(scores).collect()
      .map(x => x.getLong(1) -> x.getInt(3)).toMap
    assert(r == Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4))
  }

  test("filteredRanks subtracts better easy and better hard answers") {
    val fr = Ranking.filteredRanks(Ranking.rankAll(scores), answers)
      .collect().map(x => x.getLong(1) -> x.getAs[Number](3).intValue).toMap
    // e2: rank 2 - 1 easy better - 0 hard better = 1
    // e4: rank 4 - 1 easy better - 1 hard better = 2
    assert(fr == Map(2L -> 1, 4L -> 2))
  }

  test("filteredRanksBinary matches the generic path on membership scores") {
    // Random-ish binary world: universe 0..49, several qids with disjoint
    // easy/hard sets including edge shapes (no easy; interleaved ids).
    val universe = spark.range(50).toDF("entity")
    val ans = Seq(
      (0L, 3L, false), (0L, 10L, true), (0L, 11L, false), (0L, 40L, true),
      (1L, 0L, true), (1L, 49L, true),               // no easy answers
      (2L, 7L, false), (2L, 8L, false), (2L, 9L, true) // easy cluster before hard
    ).toDF("qid", "entity", "is_hard")
    val qids = Seq(0L, 1L, 2L).toDF("qid")
    val membership = qids.crossJoin(universe)
      .join(ans.filter(!col("is_hard")).withColumn("_e", lit(1.0))
              .select("qid", "entity", "_e"),
            Seq("qid", "entity"), "left")
      .select(col("qid"), col("entity"),
              coalesce(col("_e"), lit(0.0)).as("score"))
    val generic = Ranking.filteredRanks(Ranking.rankAll(membership), ans)
      .select("qid", "entity", "filtered_rank").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue)
      .toMap
    val binary = Ranking.filteredRanksBinary(
        Ranking.globalIndex(universe, "entity"), ans)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue)
      .toMap
    assert(binary == generic)
  }

  test("globalIndex assigns contiguous ascending positions") {
    val idx = Ranking.globalIndex(
      Seq(30L, 5L, 17L, 2L).toDF("entity"), "entity").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(idx == Map(2L -> 0L, 5L -> 1L, 17L -> 2L, 30L -> 3L))
  }

  test("rankTopK: join-count rank equals a window rank, with no Window node") {
    val df = Seq((1L, 0.5), (2L, 0.9), (3L, 0.5), (4L, 0.1))
      .toDF("id", "score")
    val ranked = Ranking.rankTopK(df, "score", "id")
    assert(!ranked.queryExecution.optimizedPlan.toString.contains("Window"),
           "rankTopK must not plan a window")
    val got = ranked.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // desc score, asc id tie-break: 2 (0.9), then 1 and 3 tie on 0.5, then 4
    assert(got == Map(2L -> 1L, 1L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("averageByType averages each metric within a query type") {
    val perQuery = Seq(("1p", 1.0, 1.0, 1.0, 1.0), ("1p", 0.5, 0.0, 1.0, 1.0),
                       ("2p", 0.25, 0.0, 0.0, 1.0))
      .toDF("type", "mrr", "hits1", "hits3", "hits10")
    val got = Ranking.averageByType(perQuery, "type").collect()
      .map(r => r.getString(0) -> (1 to 4).map(r.getDouble)).toMap
    assert(got == Map("1p" -> Seq(0.75, 0.5, 1.0, 1.0),
                      "2p" -> Seq(0.25, 0.0, 0.0, 1.0)))
  }

  test("mrrHits computes MRR and Hits@k") {
    val m = Ranking.mrrHits(
      Ranking.filteredRanks(Ranking.rankAll(scores), answers))
      .collect()(0)
    assert(math.abs(m.getDouble(1) - (1.0 / 2 + 1.0 / 3) / 2) < 1e-12) // MRR
    assert(m.getDouble(2) == 0.0) // hits1: none < 1
    assert(m.getDouble(3) == 1.0) // hits3: both < 3
    assert(m.getDouble(4) == 1.0) // hits10
  }
}
