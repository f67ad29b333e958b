package graft

import graft.lang._

/** Seeded random EFO-1 formulas over relations `r1`–`r4`, for the property
  * and differential specs. Terms are drawn from `terms`: `s*` constants,
  * `e*` existentials and the free variable `f`. */
object RandomFormulas {
  val terms: Vector[String] = Vector("s1", "s2", "e1", "e2", "f")

  def formula(rnd: scala.util.Random, depth: Int,
              terms: Vector[String] = terms): Formula =
    if (depth == 0 || rnd.nextInt(3) == 0) {
      val rel = s"r${rnd.nextInt(4) + 1}"
      Atomic(rel, Term(terms(rnd.nextInt(terms.size))),
             Term(terms(rnd.nextInt(terms.size))))
    } else rnd.nextInt(3) match {
      case 0 => And(formula(rnd, depth - 1, terms), formula(rnd, depth - 1, terms))
      case 1 => Or(formula(rnd, depth - 1, terms), formula(rnd, depth - 1, terms))
      case 2 => Not(formula(rnd, depth - 1, terms))
    }
}
