package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._
import graft.lang.Binding.Binding
import graft.exec.HardExec

/** HardExec vs a brute-force EFO-1 model checker on a random tiny KG.
  * Covers R1-R5 (scan/join/union/anti-join/projection) for all 25 declared
  * query shapes with three different bindings each. The tiny KG plans
  * below HardExec's broadcast gate; every check also runs above it, with
  * the broadcast threshold at -1. */
class HardExecSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // Deterministic random KG: 30 entities, 6 relations (3 inverse pairs).
  val rnd = new scala.util.Random(7)
  val nEnt = 30
  val baseTriples: Set[(Long, Long, Long)] =
    (0 until 220).map { _ =>
      (rnd.nextInt(nEnt).toLong, 2L * rnd.nextInt(3), rnd.nextInt(nEnt).toLong)
    }.toSet
  val triples: Set[(Long, Long, Long)] =
    baseTriples ++ baseTriples.map { case (h, r, t) => (t, r ^ 1, h) }

  lazy val edgesDf = triples.toSeq.toDF("src", "rel", "dst")

  // Deterministic train split of the same KG, for the tagged evaluator:
  // edges as (src, rel, dst, _tr) with _tr = 1 on train edges.
  def isTrain(t: (Long, Long, Long)): Boolean = (t._1 * 7 + t._2 * 3 + t._3) % 4 != 0
  val trainTriples: Set[(Long, Long, Long)] = triples.filter(isTrain)
  lazy val edgesT = triples.toSeq
    .map { case t @ (h, r, d) => (h, r, d, if (isTrain(t)) 1 else 0) }
    .toDF("src", "rel", "dst", "_tr")

  def bruteForce(f: Formula, b: Binding,
                 kg: Set[(Long, Long, Long)] = triples): Set[Long] = {
    val entities = (0L until nEnt).toSet
    def sat(g: Formula, asg: Map[String, Long]): Boolean = g match {
      case Atomic(r, h, t) =>
        val hv = if (h.isConst) b(h.name) else asg(h.name)
        val tv = if (t.isConst) b(t.name) else asg(t.name)
        kg.contains((hv, b(r), tv))
      case Not(g0)   => !sat(g0, asg)
      case And(l, r) => sat(l, asg) && sat(r, asg)
      case Or(l, r)  => sat(l, asg) || sat(r, asg)
    }
    val vars = f.terms.filter(_.isVar).map(_.name).distinct
    val exVars = vars.filterNot(_ == "f")
    def anyAssign(remaining: List[String], asg: Map[String, Long]): Boolean =
      remaining match {
        case Nil => sat(f, asg)
        case v :: rest => entities.exists(e => anyAssign(rest, asg + (v -> e)))
      }
    entities.filter(c => anyAssign(exVars.toList, Map("f" -> c)))
  }

  /** `evalFormulaTagged`'s rows as (f, in_full, in_easy). */
  def taggedRows(f: Formula, b: Binding): Set[(Long, Int, Int)] =
    HardExec.evalFormulaTagged(edgesT, f, b).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet

  /** Brute force's tagged rows: every answer over the full or the train
    * KG, with its membership in each. */
  def taggedWant(f: Formula, b: Binding): Set[(Long, Int, Int)] = {
    val (full, train) = (bruteForce(f, b), bruteForce(f, b, trainTriples))
    def flag(in: Boolean) = if (in) 1 else 0
    (full ++ train).map(e => (e, flag(full(e)), flag(train(e))))
  }

  /** `body` below the broadcast gate (the session's threshold), then above
    * it (threshold -1). */
  def onBothSidesOfTheGate(body: => Unit): Unit = {
    withClue("below the gate: ")(body)
    SparkTestSession.withBroadcastThreshold("-1")(withClue("above the gate: ")(body))
  }

  def randomBinding(f: Formula, seed: Int): Binding = {
    val r = new scala.util.Random(seed)
    val names = (f.atoms.map(_.rel) ++ f.terms.filter(_.isConst).map(_.name)).distinct
    names.map { n =>
      if (n.startsWith("r")) n -> (2L * r.nextInt(3) + r.nextInt(2))
      else n -> r.nextInt(nEnt).toLong
    }.toMap
  }

  test("stats-driven atom ordering does not change results") {
    onBothSidesOfTheGate {
      val stats = triples.groupBy(_._2).map { case (r, ts) => r -> ts.size.toLong }
      Seq("r1(s1,e1)&r2(e1,e2)&r3(e2,f)",
          "((((r1(s1,e1))&(r2(e1,f)))&(r3(s2,e2)))&(r4(e2,f)))&(r5(e1,e2))")
        .foreach { lstr =>
          val f = Parser.parse(lstr)
          val b = randomBinding(f, 77)
          val plain = HardExec.evalFormula(edgesDf, f, b)
            .collect().map(_.getLong(0)).toSet
          val ordered = HardExec.evalFormula(edgesDf, f, b, stats)
            .collect().map(_.getLong(0)).toSet
          assert(plain == ordered)
        }
    }
  }

  test("disconnected components: anchored and unanchored cross joins") {
    onBothSidesOfTheGate {
      // The unanchored disconnected atom r2(e1,e2) exercises the plain
      // (non-broadcast) cross-join branch; the anchored variant r2(s2,e1)
      // exercises the broadcast branch. Both against brute force.
      Seq("r1(s1,f)&r2(e1,e2)", "r1(s1,f)&r2(s2,e1)").foreach { lstr =>
        val f = Parser.parse(lstr)
        (1 to 2).foreach { seed =>
          val b = randomBinding(f, seed * 17 + lstr.hashCode)
          val got = HardExec.evalFormula(edgesDf, f, b)
            .collect().map(_.getLong(0)).toSet
          assert(got == bruteForce(f, b), s"$lstr binding=$b")
        }
      }
    }
  }

  test("a variable-free negated atom filters the whole conjunct") {
    onBothSidesOfTheGate {
      val f = Parser.parse("r1(s1,f)&!r2(s1,s2)")
      // One binding per case of the negated edge: absent, train, full-only.
      // r1 = r2, so the positive atom has the negated edge among its answers.
      val (tr, fullOnly) = triples.toSeq.sorted.partition(isTrain)
      val (h0, r0, _) = tr.head
      val absent = (h0, r0, (0L until nEnt).find(t => !triples((h0, r0, t))).get)
      Seq(absent, tr.head, fullOnly.head).foreach { case (h, r, t) =>
        val b = Map("r1" -> r, "r2" -> r, "s1" -> h, "s2" -> t)
        val got = HardExec.evalFormula(edgesDf, f, b)
          .collect().map(_.getLong(0)).toSet
        assert(got == bruteForce(f, b), s"binding=$b")
        assert(taggedRows(f, b) == taggedWant(f, b), s"tagged, binding=$b")
      }
    }
  }

  /** Safe range: every conjunct has `f`, a positive atom, and no negated-
    * atom variable that its positive atoms leave unbound. */
  def safeRange(f: Formula): Boolean = Normalize.toDnf(f).forall { cq =>
    val bound = cq.pos.flatMap(a => Seq(a.head, a.tail)).toSet
    cq.pos.nonEmpty && cq.vars.contains(Term("f")) &&
      cq.neg.forall(a => Seq(a.head, a.tail).forall(t => t.isConst || bound(t)))
  }

  // Seeded random formulas over up to 4 variables (e1–e3, f), each with
  // its own binding, split by the safe-range fragment.
  lazy val (safeFormulas, unsafeFormulas) = {
    val rnd = new scala.util.Random(11)
    val terms = RandomFormulas.terms :+ "e3"
    Seq.fill(1200) {
      val f = RandomFormulas.formula(rnd, 3, terms)
      (f, randomBinding(f, rnd.nextInt()))
    }.partition { case (f, _) => safeRange(f) }
  }

  test("random safe-range formulas match brute force in both modes") {
    assert(safeFormulas.size >= 150)
    val stats = triples.groupBy(_._2).map { case (r, ts) => r -> ts.size.toLong }
    safeFormulas.foreach { case (f, b) =>
      val (want, wantTagged) = (bruteForce(f, b), taggedWant(f, b))
      onBothSidesOfTheGate {
        Seq(Map.empty[Long, Long], stats).foreach { st =>
          val got = HardExec.evalFormula(edgesDf, f, b, st)
            .collect().map(_.getLong(0)).toSet
          assert(got == want, s"${f.lstr} binding=$b stats=${st.nonEmpty}")
        }
        assert(taggedRows(f, b) == wantTagged, s"tagged ${f.lstr} binding=$b")
      }
    }
  }

  test("random formulas outside the safe-range fragment are refused in both modes") {
    onBothSidesOfTheGate {
      assert(unsafeFormulas.nonEmpty)
      unsafeFormulas.foreach { case (f, b) =>
        withClue(s"${f.lstr}: ") {
          intercept[IllegalArgumentException](HardExec.evalFormula(edgesDf, f, b))
          intercept[IllegalArgumentException](HardExec.evalFormulaTagged(edgesT, f, b))
        }
      }
    }
  }

  test("an unbound relation is refused in both modes") {
    val f = Parser.parse("r1(s1,e1)&r2(e1,f)")
    val b = Map("r2" -> 0L, "s1" -> 1L)
    onBothSidesOfTheGate {
      Seq(() => HardExec.evalFormula(edgesDf, f, b),
          () => HardExec.evalFormulaTagged(edgesT, f, b)).foreach { eval =>
        val e = intercept[IllegalArgumentException](eval())
        assert(e.getMessage.contains("unbound relation r1"))
      }
    }
  }

  KGQueries.all.foreach { case (name, lstr, _) =>
    test(s"$name matches brute force on random KG") {
      val f = Parser.parse(lstr)
      (1 to 3).foreach { seed =>
        val b = randomBinding(f, seed * 31 + name.hashCode)
        val (want, wantTagged) = (bruteForce(f, b), taggedWant(f, b))
        onBothSidesOfTheGate {
          val got = HardExec.evalFormula(edgesDf, f, b)
            .collect().map(_.getLong(0)).toSet
          assert(got == want, s"binding=$b")
          assert(taggedRows(f, b) == wantTagged, s"tagged, binding=$b")
        }
      }
    }
  }
}
