package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.lang._

/** Property tests (SURVEY §5.3): random-formula parser round-trip and
  * DNF semantic equivalence against direct formula evaluation. */
class LangPropertySpec extends AnyFunSuite {

  test("parser round-trip on 300 random formulas") {
    val rnd = new scala.util.Random(3)
    (1 to 300).foreach { _ =>
      val f = RandomFormulas.formula(rnd, 3)
      assert(Parser.parse(f.lstr) == f, f.lstr)
    }
  }

  test("NNF and DNF preserve truth under every assignment") {
    val rnd = new scala.util.Random(5)
    val nEnt = 4
    (1 to 150).foreach { _ =>
      val f = RandomFormulas.formula(rnd, 3)
      val triples = Set.fill(14)(
        (rnd.nextInt(nEnt).toLong, rnd.nextInt(4).toLong + 1,
         rnd.nextInt(nEnt).toLong))
      val binding: Map[String, Long] = Map(
        "r1" -> 1L, "r2" -> 2L, "r3" -> 3L, "r4" -> 4L,
        "s1" -> rnd.nextInt(nEnt).toLong, "s2" -> rnd.nextInt(nEnt).toLong)

      def truth(g: Formula, asg: Map[String, Long]): Boolean = g match {
        case Atomic(r, h, t) =>
          def v(x: Term) = if (x.isConst) binding(x.name) else asg(x.name)
          triples.contains((v(h), binding(r), v(t)))
        case Not(x)    => !truth(x, asg)
        case And(l, r) => truth(l, asg) && truth(r, asg)
        case Or(l, r)  => truth(l, asg) || truth(r, asg)
      }

      def truthDnf(cqs: Vector[CQ], asg: Map[String, Long]): Boolean =
        cqs.exists { cq =>
          cq.pos.forall(a => truth(a, asg)) &&
          cq.neg.forall(a => !truth(a, asg))
        }

      val vars = f.terms.filter(_.isVar).map(_.name)
      val nnfF = Normalize.nnf(f)
      val dnfF = Normalize.toDnf(f)
      // enumerate all assignments of the (<=3) variables
      def assignments(vs: List[String]): Seq[Map[String, Long]] = vs match {
        case Nil => Seq(Map.empty)
        case v :: rest =>
          for (m <- assignments(rest); e <- 0L until nEnt) yield m + (v -> e)
      }
      assignments(vars.toList).foreach { asg =>
        val direct = truth(f, asg)
        assert(truth(nnfF, asg) == direct, s"NNF mismatch: ${f.lstr} / $asg")
        assert(truthDnf(dnfF, asg) == direct, s"DNF mismatch: ${f.lstr} / $asg")
      }
    }
  }

  test("t-norm algebra: De Morgan and boundary laws on a value grid") {
    val vals = Seq(0.0, 0.25, 0.5, 0.75, 1.0)
    for (a <- vals; b <- vals) {
      // product family
      assert(math.abs((1 - (1 - a) * (1 - b)) - (a + b - a * b)) < 1e-12)
      // Godel: conj = min, disj = max, De Morgan with 1-x negation
      assert(1 - math.min(1 - a, 1 - b) == math.max(a, b))
      // boundaries
      assert(math.min(a, 1.0) == a && a * 1.0 == a)
    }
  }
}
