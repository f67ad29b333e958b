package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}

/** Plan-shape regression guard over the ENTIRE query registry: builds the
  * optimized logical plan of every SparkEntry query at sf0.001 (plan-only
  * — nothing executes except the driver-side loops some operators run to
  * construct their frames, and the one-time derivation of the edges table
  * that the first KG row triggers through `KG.edges`) and asserts the one
  * invariant the round-5/6 audits fought for: no Window node without a
  * partitionSpec. A global window funnels its whole input through ONE
  * task — the single worst scale hazard class this repo has repeatedly
  * removed (trainer entity index, Variadic re-keying, BM25/PMI/Zipf top-k
  * rank). This spec keeps them gone. */
class PlanGuardSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def unpartitionedWindows(p: LogicalPlan): Seq[Window] =
    p.collect { case w: Window if w.partitionSpec.isEmpty => w }

  // A registered query that cannot even ANALYZE is the worst possible
  // state — it crashes verify AND bench (exactly how r12 shipped two
  // broken quantile queries with a green suite: the sweeps used to
  // info()-swallow build failures). Every sweep now funnels build
  // failures here, and each asserts the buffer is empty.
  private def buildOrFail(name: String, fn: (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame,
      broken: scala.collection.mutable.ArrayBuffer[String])
      : Option[LogicalPlan] =
    try Some(fn(spark, dir).queryExecution.optimizedPlan)
    catch {
      case e: Throwable =>
        broken += s"$name(${e.getClass.getSimpleName}: " +
          s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString})"
        None
    }

  test("no registered query plans an unpartitioned Window") {
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val broken = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      buildOrFail(name, fn, broken).foreach { plan =>
        if (unpartitionedWindows(plan).nonEmpty) bad += name
      }
    }
    assert(broken.isEmpty,
      s"queries that FAIL TO BUILD: ${broken.mkString(", ")}")
    assert(bad.isEmpty,
      s"unpartitioned Window in: ${bad.mkString(", ")} — use " +
        "Ranking.globalIndex / rankTopK instead of a global window")
  }

  test("weightedSampleK plans as TakeOrderedAndProject (no global sort)") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.KG.table(spark, dir, "documents")
      .withColumn("w", (col("doc_id") % 7 + 1).cast("double"))
    val df = graft.pipeline.Sampling.weightedSampleK(docs, "doc_id",
      col("w"), k = 100)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("TakeOrderedAndProject"),
      s"A-ES sampler should be per-partition top-k, got:\n$phys")
  }

  test("exact answers plan no shuffle below the broadcast gate, one above it") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    object Executed extends AdaptiveSparkPlanHelper
    // sf0.001's edges (about 0.8 MB estimated) are under the default
    // 10 MB threshold.
    val kg = Graft.fromTestdata(spark, dir)
    Seq("kg_3c", "kg_pin").foreach { name =>
      val (_, lstr, b) = KGQueries.all.find(_._1 == name).get
      // (shuffle exchanges, broadcast exchanges, cached scans) of the plan
      // AQE starts from; once run, AQE may fold an empty answer's plan away.
      def shape(): (Int, Int, Int) = {
        val p = kg.answer(lstr, b).queryExecution.executedPlan
        (Executed.collect(p) { case e: ShuffleExchangeExec => e }.size,
         Executed.collect(p) { case e: BroadcastExchangeExec => e }.size,
         Executed.collect(p) { case s: InMemoryTableScanExec => s }.size)
      }
      val nonStream = graft.lang.Normalize.toDnf(graft.lang.Parser.parse(lstr))
        .map(_.allAtoms.size - 1).sum
      val (shuffles, broadcasts, scans) = shape()
      assert((shuffles, broadcasts) == (0, nonStream), s"$name below the gate")
      assert(scans > 0, s"$name below the gate reads no cached scan")
      val (shufflesAbove, _, scansAbove) =
        SparkTestSession.withBroadcastThreshold("-1")(shape())
      assert(shufflesAbove > 0 && scansAbove > 0, s"$name above the gate")
    }
  }

  test("every query has a DuckDB oracle (or a documented exception)") {
    // The driver's correctness gate only covers queries with BOTH a
    // `queries` entry and an `oracleSql` entry — a new query without an
    // oracle silently downgrades to a rows-only check. Known exceptions
    // are listed here ON PURPOSE so adding one is a reviewed decision.
    // (empty since round 9: q_approx_distinct gained a deterministic-bound
    // oracle — exact count + within_tol flag — closing the last exception)
    val documented = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == documented,
      s"queries without oracles: ${(missing -- documented).toSeq.sorted
        .mkString(", ")} — add oracleSql or document the exception here")
    // And no orphan oracles for deleted queries (stale keys would make
    // Verify dump SQL the driver can never match to a parquet result).
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.mkString(", ")}")
    // The registry refuses a repeated name, so its map holds every row:
    // 335 names, each registered once.
    assert(SparkEntry.queries.size == 335)
  }

  test("the registry refuses a repeated query name") {
    SparkEntry.requireUnique(Seq("a", "b", "c"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireUnique(Seq("b", "a", "b", "c", "a", "b")))
    assert(e.getMessage.endsWith("repeated query names: a, b"))
  }

  test("no registered query plans a global object aggregate") {
    // The third scale-hazard class (r11 verdict: the guard caught
    // Windows and cross joins but let `percentile` through): an
    // Aggregate with NO grouping whose function buffers its whole input
    // as an object (TypedImperativeAggregate — percentile/collect_list
    // class). The final merge of such an aggregate is ONE task holding
    // every value of the column. Constant-size sketch buffers
    // (approx_percentile's QuantileSummaries, count-min, bloom) are
    // summaries, not spools — exempt by class.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.{
      AggregateExpression, TypedImperativeAggregate}
    val boundedBuffer = Set( // fixed-size mergeable summaries
      "ApproximatePercentile", "PercentileDigest", "CountMinSketchAgg",
      "BloomFilterAggregate", "HyperLogLogPlusPlus")
    val inherent = Set.empty[String] // no documented exceptions today
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val broken = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(kv => inherent.contains(kv._1))
      .foreach { case (name, fn) =>
        buildOrFail(name, fn, broken).foreach { plan =>
          val spools = plan.collect {
            case a: Aggregate if a.groupingExpressions.isEmpty =>
              a.aggregateExpressions.flatMap(_.collect {
                case ae: AggregateExpression
                    if ae.aggregateFunction
                      .isInstanceOf[TypedImperativeAggregate[_]] &&
                      !boundedBuffer.contains(
                        ae.aggregateFunction.getClass.getSimpleName) =>
                  ae.aggregateFunction.getClass.getSimpleName
              })
          }.flatten
          if (spools.nonEmpty)
            bad += s"$name(${spools.distinct.mkString("/")})"
        }
      }
    assert(broken.isEmpty,
      s"queries that FAIL TO BUILD: ${broken.mkString(", ")}")
    assert(bad.isEmpty,
      s"global object aggregate in: ${bad.mkString(", ")} — compute it " +
        "from a groupBy(value).count frequency table (ExactQuantiles) " +
        "or a bounded sketch, or whitelist with justification")
  }

  test("no registered query plans an unhinted data-sized cross join") {
    // The second scale-hazard class after the global window: a
    // condition-less Join where neither side carries a broadcast hint.
    // Without the hint Catalyst falls back to size estimates — fine when
    // one side is provably tiny, a cluster-killing
    // BroadcastNestedLoop/Cartesian of two data-sized inputs otherwise.
    // WHITELIST: shapes where the full crossing IS the reference
    // semantics (frontier × entity-universe scoring) or the operator's
    // contract (per-group cartesian), each audited in its source file.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val inherent = Set(
      // CQD beam: unpruned (beam = MaxValue) frontiers are deliberately
      // NOT broadcast-hinted (CQDBeam scale note: an unconditional hint
      // would ship the universe to every executor); the frontier ×
      // universe crossing is the reference's R6 ranking semantics.
      "cqd_1p_transe", "cqd_1p_distmult", "cqd_1p_complex", "cqd_1p_rotate",
      "cqd_1p_rescal", "cqd_1p_swtranse", "cqd_1p_conve", "cqd_2p_conve",
      "cqd_2p_transe", "cqd_3p_transe",
      "cqd_2p_complex", "cqd_2p_rotate", "cqd_2p_distmult", "cqd_2p_rescal",
      "cqd_2p_swtranse", "cqd_2i_godel", "cqd_2in_transe", "cqd_2u_transe",
      "cqd_3c_beam", "cqd_batch_2p", "kg_2il", "kg_3il",
      // LMPNN: the x·Eᵀ projection / final cosine scoring crosses a
      // per-query handful of states with the entity table (LMPNN.answer
      // scale note) — states side is O(queries), not data-sized.
      "lmpnn_2p", "lmpnn_2in", "lmpnn_1p_mlp", "lmpnn_1p_bias",
      // Per-group cartesian IS the operator (R11).
      "q_r11_cartesian",
      // eval suites run the CQD/ranking path over 25 query types.
      "eval_cqd_mrr", "eval_efo1_suite", "eval_efox_suite")
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    val broken = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(kv => inherent.contains(kv._1))
      .foreach { case (name, fn) =>
        buildOrFail(name, fn, broken).foreach { plan =>
          val unhinted = plan.collect {
            case j: Join if j.condition.isEmpty &&
                j.hint.leftHint.forall(_.strategy.isEmpty) &&
                j.hint.rightHint.forall(_.strategy.isEmpty) &&
                j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty => j
          }
          if (unhinted.nonEmpty) bad += name
        }
      }
    assert(broken.isEmpty,
      s"queries that FAIL TO BUILD: ${broken.mkString(", ")}")
    assert(bad.isEmpty,
      s"unhinted condition-less join in: ${bad.mkString(", ")} — " +
        "broadcast() the provably-small side, or add the query to the " +
        "audited whitelist with its inherent-crossing justification")
  }
}
