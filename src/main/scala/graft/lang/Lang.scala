package graft.lang

/** EFO-1 query language: AST, parser, NNF/DNF normalization.
  *
  * Re-implements the *intended* semantics of the reference language layer
  * (knovex/language/efo_lang.py:70-506) as an idiomatic Scala ADT:
  *   - terms typed by name prefix: `s*` constant, `e*` existential, `f*` free
  *     (efo_lang.py:268-280)
  *   - atoms `r(h,t)`; connectives `&`, `|`, `!(...)` (efo_lang.py:299-376)
  *   - NNF: push negation to atoms (efo_lang.py:379-401)
  *   - DNF: distribute conjunction over disjunction (efo_lang.py:404-506)
  *
  * Terms with the same name denote the same variable (the reference dedups
  * via registries, efo_lang.py:300-316; here case-class equality by name).
  */
final case class Term(name: String) {
  def isConst: Boolean = name.startsWith("s")
  def isExist: Boolean = name.startsWith("e")
  def isFree: Boolean = name.startsWith("f")
  def isVar: Boolean = !isConst
  /** kind code as in the reference query-graph format: 0 const / 1 exist / 2 free
    * (efo_lang.py:106-108). */
  def kind: Int = if (isConst) 0 else if (isExist) 1 else 2
}

sealed trait Formula {
  /** Canonical string rendering; parse(f.lstr) == f (metric.py:43-45 relies
    * on this round-trip as the canonical key). */
  def lstr: String
  def atoms: Vector[Atomic] = this match {
    case a: Atomic => Vector(a)
    case Not(g)    => g.atoms
    case And(l, r) => l.atoms ++ r.atoms
    case Or(l, r)  => l.atoms ++ r.atoms
  }
  def terms: Vector[Term] = atoms.flatMap(a => Vector(a.head, a.tail)).distinct
}

final case class Atomic(rel: String, head: Term, tail: Term) extends Formula {
  def lstr: String = s"$rel(${head.name},${tail.name})"
}
final case class Not(f: Formula) extends Formula {
  def lstr: String = s"!(${f.lstr})"
}
final case class And(l: Formula, r: Formula) extends Formula {
  def lstr: String = s"(${l.lstr})&(${r.lstr})"
}
final case class Or(l: Formula, r: Formula) extends Formula {
  def lstr: String = s"(${l.lstr})|(${r.lstr})"
}

/** A flattened conjunct of a DNF formula: positive and negated atoms.
  * (reference ConjunctiveQuery, efo_lang.py:509-657) */
final case class CQ(pos: Vector[Atomic], neg: Vector[Atomic]) {
  def allAtoms: Vector[Atomic] = pos ++ neg
  def vars: Vector[Term] =
    allAtoms.flatMap(a => Vector(a.head, a.tail)).distinct.filter(_.isVar)
  def freeVar: Term = {
    val fs = vars.filter(_.isFree)
    require(fs.size == 1, s"EFO-1 requires exactly one free variable, got $fs")
    fs.head
  }
}

object Parser {
  /** Recursive-descent parser for lstr strings (efo_lang.py:299-376).
    * Grammar: atom `rel(t1,t2)`; `!(F)`; `(F)`; `F&F`; `F|F`.
    * Binary split at the first top-level operator (matching the reference's
    * top-level operator finder, efo_lang.py:283-296). */
  def parse(input: String): Formula = {
    val s = stripOuter(input.filterNot(_.isWhitespace))
    require(s.nonEmpty, "empty formula")
    topLevelOp(s) match {
      case Some((i, op)) =>
        val l = parse(s.substring(0, i))
        val r = parse(s.substring(i + 1))
        if (op == '&') And(l, r) else Or(l, r)
      case None =>
        if (s.startsWith("!")) Not(parse(s.substring(1)))
        else parseAtom(s)
    }
  }

  private val AtomRe = "^([A-Za-z_][A-Za-z0-9_]*)\\(([A-Za-z0-9_]+),([A-Za-z0-9_]+)\\)$".r

  private def parseAtom(s: String): Atomic = s match {
    case AtomRe(r, h, t) => Atomic(r, Term(h), Term(t))
    case _ => throw new IllegalArgumentException(s"cannot parse atom: '$s'")
  }

  /** Iteratively strip redundant outermost parens (efo_lang.py:242-265). */
  @annotation.tailrec
  private def stripOuter(s: String): String =
    if (s.length >= 2 && s.head == '(' && s.last == ')' && matchedOuter(s))
      stripOuter(s.substring(1, s.length - 1))
    else s

  private def matchedOuter(s: String): Boolean = {
    var depth = 0
    var i = 0
    while (i < s.length - 1) {
      if (s(i) == '(') depth += 1
      else if (s(i) == ')') { depth -= 1; if (depth == 0) return false }
      i += 1
    }
    depth == 1 && s.last == ')'
  }

  /** Index of the first `&`/`|` at bracket depth 0 (efo_lang.py:283-296). */
  private def topLevelOp(s: String): Option[(Int, Char)] = {
    var depth = 0
    var i = 0
    while (i < s.length) {
      s(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case c @ ('&' | '|') if depth == 0 => return Some((i, c))
        case _ =>
      }
      i += 1
    }
    None
  }
}

object Normalize {
  /** Negation normal form: push `!` down to atoms via De Morgan and
    * double-negation elimination (efo_lang.py:379-401). */
  def nnf(f: Formula): Formula = nnf0(f, neg = false)
  private def nnf0(f: Formula, neg: Boolean): Formula = f match {
    case a: Atomic => if (neg) Not(a) else a
    case Not(g)    => nnf0(g, !neg)
    case And(l, r) =>
      if (neg) Or(nnf0(l, true), nnf0(r, true))
      else And(nnf0(l, false), nnf0(r, false))
    case Or(l, r) =>
      if (neg) And(nnf0(l, true), nnf0(r, true))
      else Or(nnf0(l, false), nnf0(r, false))
  }

  /** Distribute conjunction over disjunction; input must be in NNF
    * (efo_lang.py:404-440). */
  def distribute(f: Formula): Formula = f match {
    case And(l, r) =>
      (distribute(l), distribute(r)) match {
        case (Or(a, b), c) => Or(distribute(And(a, c)), distribute(And(b, c)))
        case (a, Or(b, c)) => Or(distribute(And(a, b)), distribute(And(a, c)))
        case (a, b)        => And(a, b)
      }
    case Or(l, r) => Or(distribute(l), distribute(r))
    case other    => other
  }

  /** Full DNF pipeline: NNF -> distribute -> flatten into conjuncts
    * (transform_to_dnf, efo_lang.py:477-506). */
  def toDnf(f: Formula): Vector[CQ] = flatten(distribute(nnf(f)))

  private def flatten(f: Formula): Vector[CQ] = f match {
    case Or(l, r) => flatten(l) ++ flatten(r)
    case other    => Vector(flattenConjunct(other))
  }

  private def flattenConjunct(f: Formula): CQ = f match {
    case a: Atomic     => CQ(Vector(a), Vector.empty)
    case Not(a: Atomic) => CQ(Vector.empty, Vector(a))
    case And(l, r) =>
      val (cl, cr) = (flattenConjunct(l), flattenConjunct(r))
      CQ(cl.pos ++ cr.pos, cl.neg ++ cr.neg)
    case other =>
      throw new IllegalArgumentException(s"not a conjunct after DNF: ${other.lstr}")
  }
}

/** Partial interpretation: bind relation names (`r*`) to relation ids and
  * constant names (`s*`) to entity ids (efo_lang.py:123-133,167-175,568-588). */
object Binding {
  type Binding = Map[String, Long]
}
