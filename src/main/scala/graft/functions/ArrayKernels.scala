package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, BinaryExpression, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DecimalType, DoubleType, IntegerType}

/** Native Catalyst expressions (with doGenCode) for the hot vector kernels
  * of SURVEY §2.6. The higher-order-function formulations in
  * [[graft.score.VectorOps]] are correct but allocate intermediate arrays
  * per row (`zip_with` materializes the product array before `aggregate`
  * folds it); these fused one-pass kernels run inside whole-stage codegen
  * with zero allocation — the (b)-level extension point of the design
  * (custom Expression beats UDF; SURVEY §4 'custom work needed').
  *
  * Registered as SQL functions `array_dot`, `array_cosine`, `transe_score`
  * by [[ArrayKernels.register]] or via [[graft.GraftExtensions]].
  */

/** Σ a[i]·b[i] — fused dot product. */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    var s = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Cosine similarity in one pass (dot and both norms fused). */
case class ArrayCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** TransE L2 score `-‖h + r − t‖₂` fused into one pass (F1) — the CQD hot
  * kernel, evaluated |entities| × beam × |query edges| times per query. */
case class TranseScore(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(h: Any, r: Any, t: Any): Any = {
    val (hv, rv, tv) = (h.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
                        t.asInstanceOf[ArrayData])
    var s = 0.0
    var i = 0
    val n = hv.numElements()
    while (i < n) {
      val d = hv.getDouble(i) + rv.getDouble(i) - tv.getDouble(i)
      s += d * d; i += 1
    }
    -math.sqrt(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, t) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val d = ctx.freshName("d")
      s"""
         |int $n = $h.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = $h.getDouble($i) + $r.getDouble($i) - $t.getDouble($i);
         |  $s += $d * $d;
         |}
         |${ev.value} = -java.lang.Math.sqrt($s);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}

/** Product-quantization encoder: vec (m·sub doubles) + flattened codebook
  * (m·k·sub doubles, laid out [(s·k + c)·sub + i]) → array<int> of m codes,
  * code_s = argmin_c (‖cv‖² − 2·sv·cv), ties to the smallest c. One fused
  * loop nest per row — the per-subspace argmin over 16 centroids as a plan
  * of 128 literal-array dot expressions defeated whole-stage codegen
  * entirely (measured 6 s on 2k vectors, interpreted). */
case class PqEncode(left: Expression, right: Expression, m: Int, k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  // SQL literals arrive as decimal arrays; implicit-cast inputs to double.
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private def encode(vec: ArrayData, cb: ArrayData): Array[Int] = {
    val sub = cb.numElements() / (m * k)
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = Double.MaxValue; var bestC = 0; var c = 0
      while (c < k) {
        val base = (s * k + c) * sub
        var cc = 0.0; var dot = 0.0; var i = 0
        while (i < sub) {
          val cv = cb.getDouble(base + i)
          cc += cv * cv; dot += vec.getDouble(s * sub + i) * cv; i += 1
        }
        val score = cc - dot * 2.0
        if (score < best) { best = score; bestC = c }
        c += 1
      }
      codes(s) = bestC; s += 1
    }
    codes
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      encode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, cb) => {
      val sub = ctx.freshName("sub"); val codes = ctx.freshName("codes")
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val base = ctx.freshName("base")
      val cc = ctx.freshName("cc"); val dot = ctx.freshName("dot")
      val cv = ctx.freshName("cv"); val best = ctx.freshName("best")
      val bestC = ctx.freshName("bestC"); val score = ctx.freshName("score")
      s"""
         |int $sub = $cb.numElements() / (${m * k});
         |int[] $codes = new int[$m];
         |for (int $s = 0; $s < $m; $s++) {
         |  double $best = Double.MAX_VALUE; int $bestC = 0;
         |  for (int $c = 0; $c < $k; $c++) {
         |    int $base = ($s * $k + $c) * $sub;
         |    double $cc = 0.0, $dot = 0.0;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      double $cv = $cb.getDouble($base + $i);
         |      $cc += $cv * $cv; $dot += $vec.getDouble($s * $sub + $i) * $cv;
         |    }
         |    double $score = $cc - $dot * 2.0;
         |    if ($score < $best) { $best = $score; $bestC = $c; }
         |  }
         |  $codes[$s] = $bestC;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($codes);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** PQ query lookup table: array<double> of m·k exact subspace distances,
  * LUT[s·k + c] = (sv·sv − 2·sv·cv) + ‖cv‖² — the per-query precompute of
  * asymmetric distance computation. Same fused-loop rationale as
  * [[PqEncode]]. */
case class PqLut(left: Expression, right: Expression, m: Int, k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]; val cb = b.asInstanceOf[ArrayData]
    val sub = cb.numElements() / (m * k)
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      var vv = 0.0; var i = 0
      while (i < sub) {
        val x = vec.getDouble(s * sub + i); vv += x * x; i += 1
      }
      var c = 0
      while (c < k) {
        val base = (s * k + c) * sub
        var cc = 0.0; var dot = 0.0; i = 0
        while (i < sub) {
          val cv = cb.getDouble(base + i)
          cc += cv * cv; dot += vec.getDouble(s * sub + i) * cv; i += 1
        }
        lut(s * k + c) = vv - dot * 2.0 + cc
        c += 1
      }
      s += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(lut)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, cb) => {
      val sub = ctx.freshName("sub"); val lut = ctx.freshName("lut")
      val s = ctx.freshName("s"); val c = ctx.freshName("c")
      val i = ctx.freshName("i"); val base = ctx.freshName("base")
      val cc = ctx.freshName("cc"); val dot = ctx.freshName("dot")
      val cv = ctx.freshName("cv"); val vv = ctx.freshName("vv")
      val x = ctx.freshName("x")
      s"""
         |int $sub = $cb.numElements() / (${m * k});
         |double[] $lut = new double[${m * k}];
         |for (int $s = 0; $s < $m; $s++) {
         |  double $vv = 0.0;
         |  for (int $i = 0; $i < $sub; $i++) {
         |    double $x = $vec.getDouble($s * $sub + $i); $vv += $x * $x;
         |  }
         |  for (int $c = 0; $c < $k; $c++) {
         |    int $base = ($s * $k + $c) * $sub;
         |    double $cc = 0.0, $dot = 0.0;
         |    for (int $i = 0; $i < $sub; $i++) {
         |      double $cv = $cb.getDouble($base + $i);
         |      $cc += $cv * $cv; $dot += $vec.getDouble($s * $sub + $i) * $cv;
         |    }
         |    $lut[$s * $k + $c] = $vv - $dot * 2.0 + $cc;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($lut);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** PQ asymmetric distance: Σ_s LUT[s·k + codes[s]], summed in subspace
  * order (s ascending — the oracle mirrors this with an ORDER BY s list
  * sum, so equal-code vectors tie bit-exactly). The 100 TB hot loop: m
  * array lookups per (query, neighbor), no vector math. */
case class PqAdc(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]; val codes = b.asInstanceOf[ArrayData]
    var s = 0; var total = 0.0
    val m = codes.numElements()
    while (s < m) { total += lut.getDouble(s * k + codes.getInt(s)); s += 1 }
    total
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lut, codes) => {
      val s = ctx.freshName("s"); val m = ctx.freshName("m")
      val total = ctx.freshName("total")
      s"""
         |int $m = $codes.numElements();
         |double $total = 0.0;
         |for (int $s = 0; $s < $m; $s++) {
         |  $total += $lut.getDouble($s * $k + $codes.getInt($s));
         |}
         |${ev.value} = $total;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** ComplEx triple score `Re⟨h, r, conj(t)⟩` fused into one pass (F4/F5;
  * complex.py:99-122) — embeddings are `2d` arrays, re‖im split at d.
  * The beam path's `cqd_*_complex` hot expression: the HOF form (4
  * `zip_with` products + `concat` + dot) allocates six intermediate
  * arrays per scored pair and ran 8× TransE's fused kernel on the same
  * plan shape (round-9 bench). BIT-IDENTICAL summation order to the HOF
  * form: `dot(concat(re, im), t)` folds re terms (index 0..d−1) then im
  * terms (d..2d−1) sequentially, so the kernel runs two ordered loops —
  * the oracle rows are unchanged. */
case class ComplexScore(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(h: Any, r: Any, t: Any): Any = {
    val (hv, rv, tv) = (h.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
                        t.asInstanceOf[ArrayData])
    val d = hv.numElements() / 2
    var s = 0.0
    var k = 0
    while (k < d) { // re(est)·re(t), index order 0..d−1
      s += (hv.getDouble(k) * rv.getDouble(k) -
            hv.getDouble(d + k) * rv.getDouble(d + k)) * tv.getDouble(k)
      k += 1
    }
    k = 0
    while (k < d) { // im(est)·im(t), index order d..2d−1
      s += (hv.getDouble(k) * rv.getDouble(d + k) +
            hv.getDouble(d + k) * rv.getDouble(k)) * tv.getDouble(d + k)
      k += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, t) => {
      val k = ctx.freshName("k"); val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      s"""
         |int $d = $h.numElements() / 2;
         |double $s = 0.0;
         |for (int $k = 0; $k < $d; $k++) {
         |  $s += ($h.getDouble($k) * $r.getDouble($k)
         |         - $h.getDouble($d + $k) * $r.getDouble($d + $k))
         |        * $t.getDouble($k);
         |}
         |for (int $k = 0; $k < $d; $k++) {
         |  $s += ($h.getDouble($k) * $r.getDouble($d + $k)
         |         + $h.getDouble($d + $k) * $r.getDouble($k))
         |        * $t.getDouble($d + $k);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}

/** RotatE triple score fused into one pass (F7/F8; rotate.py:51-106):
  * entity embeddings `2d` (re‖im), relation embedding `d` phases; the
  * score is the *positive* L2 distance between the rotated head and the
  * tail (the reference quirk — ranking argsorts descending — is kept).
  * Same ordered two-loop fold as the HOF `lpDist(concat(...), t, 2)`
  * form (re diffs 0..d−1 then im diffs d..2d−1), so results are
  * bit-identical and the oracle rows unchanged. Uses
  * `java.lang.Math.cos/sin` — the same intrinsics Spark's Cos/Sin
  * expressions codegen to. */
case class RotateScore(first: Expression, second: Expression,
                       third: Expression) extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(h: Any, r: Any, t: Any): Any = {
    val (hv, rv, tv) = (h.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
                        t.asInstanceOf[ArrayData])
    val d = rv.numElements()
    var s = 0.0
    var k = 0
    while (k < d) {
      val ph = rv.getDouble(k)
      val diff = (hv.getDouble(k) * math.cos(ph) -
                  hv.getDouble(d + k) * math.sin(ph)) - tv.getDouble(k)
      s += diff * diff
      k += 1
    }
    k = 0
    while (k < d) {
      val ph = rv.getDouble(k)
      val diff = (hv.getDouble(k) * math.sin(ph) +
                  hv.getDouble(d + k) * math.cos(ph)) - tv.getDouble(d + k)
      s += diff * diff
      k += 1
    }
    math.sqrt(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, t) => {
      val k = ctx.freshName("k"); val d = ctx.freshName("d")
      val s = ctx.freshName("s"); val ph = ctx.freshName("ph")
      val df = ctx.freshName("df")
      s"""
         |int $d = $r.numElements();
         |double $s = 0.0;
         |for (int $k = 0; $k < $d; $k++) {
         |  double $ph = $r.getDouble($k);
         |  double $df = ($h.getDouble($k) * java.lang.Math.cos($ph)
         |                - $h.getDouble($d + $k) * java.lang.Math.sin($ph))
         |               - $t.getDouble($k);
         |  $s += $df * $df;
         |}
         |for (int $k = 0; $k < $d; $k++) {
         |  double $ph = $r.getDouble($k);
         |  double $df = ($h.getDouble($k) * java.lang.Math.sin($ph)
         |                + $h.getDouble($d + $k) * java.lang.Math.cos($ph))
         |               - $t.getDouble($d + $k);
         |  $s += $df * $df;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}

/** DistMult triple score `−Σ h⊙r⊙t` fused into one pass (F3;
  * distmult.py:36-41, sign as written in the reference). Single ordered
  * loop — identical fold order to `−dot(mulVec(h, r), t)`. */
case class DistmultScore(first: Expression, second: Expression,
                         third: Expression) extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(h: Any, r: Any, t: Any): Any = {
    val (hv, rv, tv) = (h.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
                        t.asInstanceOf[ArrayData])
    var s = 0.0
    var k = 0
    val n = hv.numElements()
    while (k < n) {
      s += hv.getDouble(k) * rv.getDouble(k) * tv.getDouble(k)
      k += 1
    }
    -s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, t) => {
      val k = ctx.freshName("k"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $h.numElements();
         |double $s = 0.0;
         |for (int $k = 0; $k < $n; $k++) {
         |  $s += $h.getDouble($k) * $r.getDouble($k) * $t.getDouble($k);
         |}
         |${ev.value} = -$s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}

/** RESCAL triple score `h^T W_r t` fused into one pass (F10; intended
  * semantics of rescal.py:38-41 — the relation embedding is a flattened
  * d×d matrix). The HOF form (`transform(seq, j -> aggregate(seq, i ->
  * element_at…))`) evaluates d² `element_at` calls through interpreted
  * lambda plumbing per scored pair and dominated `cqd_2p_rescal`
  * (12 s at sf0.1). BIT-IDENTICAL fold order: inner i-loop accumulates
  * `h_i·W[i·d+j]` from 0.0 in i order, outer j-loop folds `est_j·t_j`
  * from 0.0 in j order — exactly the `dot(transform(aggregate))`
  * nesting, so oracles are unchanged. */
case class RescalScore(first: Expression, second: Expression,
                       third: Expression) extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(h: Any, r: Any, t: Any): Any = {
    val (hv, rv, tv) = (h.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
                        t.asInstanceOf[ArrayData])
    val d = hv.numElements()
    var s = 0.0
    var j = 0
    while (j < d) {
      var acc = 0.0
      var i = 0
      while (i < d) { acc += hv.getDouble(i) * rv.getDouble(i * d + j); i += 1 }
      s += acc * tv.getDouble(j)
      j += 1
    }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, t) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val s = ctx.freshName("s")
      val acc = ctx.freshName("acc")
      s"""
         |int $d = $h.numElements();
         |double $s = 0.0;
         |for (int $j = 0; $j < $d; $j++) {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $d; $i++) {
         |    $acc += $h.getDouble($i) * $r.getDouble($i * $d + $j);
         |  }
         |  $s += $acc * $t.getDouble($j);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}

/** SWTransE triple score fused into one pass (F11; swtranse.py:40-68):
  * entity embeddings are d×m particles flattened row-major, the relation
  * is d values; per dimension the head particles translate by the
  * relation component, BOTH particle sets sort ascending, and the
  * per-dimension Lp distance accumulates (negated total). Matches the
  * HOF form's exact evaluation sequence — `pow(abs(diff), p)` per
  * particle in sorted order, `pow(Σ, 1/p)` per dimension — via the same
  * `java.lang.Math.pow/abs` intrinsics Spark codegens, so scores are
  * bit-identical. `m` (particles) and `p` are literal arity arguments
  * (the PqEncode convention); the per-dimension sort is an insertion
  * sort over the m-element scratch buffers (m is small by construction
  * — the reference defaults to single digits). */
case class SwtranseScore(first: Expression, second: Expression,
                         third: Expression, m: Int, p: Double)
    extends TernaryExpression {
  require(m > 0, s"particles must be positive, got $m")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(h: Any, r: Any, t: Any): Any = {
    val (hv, rv, tv) = (h.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
                        t.asInstanceOf[ArrayData])
    val d = rv.numElements()
    val eb = new Array[Double](m); val tb = new Array[Double](m)
    var total = 0.0
    var i = 0
    while (i < d) {
      val ri = rv.getDouble(i)
      var k = 0
      while (k < m) {
        eb(k) = hv.getDouble(i * m + k) + ri
        tb(k) = tv.getDouble(i * m + k)
        k += 1
      }
      java.util.Arrays.sort(eb); java.util.Arrays.sort(tb)
      var diffP = 0.0
      k = 0
      while (k < m) {
        diffP += math.pow(math.abs(eb(k) - tb(k)), p); k += 1
      }
      total += math.pow(diffP, 1.0 / p)
      i += 1
    }
    -total
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, r, t) => {
      val i = ctx.freshName("i"); val k = ctx.freshName("k")
      val d = ctx.freshName("d"); val ri = ctx.freshName("ri")
      val eb = ctx.freshName("eb"); val tb = ctx.freshName("tb")
      val diffP = ctx.freshName("diffP"); val total = ctx.freshName("total")
      s"""
         |int $d = $r.numElements();
         |double[] $eb = new double[$m];
         |double[] $tb = new double[$m];
         |double $total = 0.0;
         |for (int $i = 0; $i < $d; $i++) {
         |  double $ri = $r.getDouble($i);
         |  for (int $k = 0; $k < $m; $k++) {
         |    $eb[$k] = $h.getDouble($i * $m + $k) + $ri;
         |    $tb[$k] = $t.getDouble($i * $m + $k);
         |  }
         |  java.util.Arrays.sort($eb);
         |  java.util.Arrays.sort($tb);
         |  double $diffP = 0.0;
         |  for (int $k = 0; $k < $m; $k++) {
         |    $diffP += java.lang.Math.pow(java.lang.Math.abs($eb[$k] - $tb[$k]), $p);
         |  }
         |  $total += java.lang.Math.pow($diffP, ${1.0 / p});
         |}
         |${ev.value} = -$total;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression) =
    copy(first = f, second = s, third = t)
}

/** Σ |a[i] − b[i]| over LONG arrays — the exact L1 distance of the
  * micro-int eval checkpoints ([[graft.score.Training]] ranksImpl),
  * evaluated |edges| × |entities| times per eval. One fused pass, no
  * intermediate array (the `aggregate∘zip_with` form materializes the
  * |a−b| array per candidate row before folding it). Long-exact: micro
  * magnitudes are ≤ ~4e6, dims ≤ 64 — Σ ≤ 5e8, nowhere near the lane. */
case class ArrayL1Long(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var s = 0L
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) { s += math.abs(x.getLong(i) - y.getLong(i)); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += java.lang.Math.abs($a.getLong($i) - $b.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Static two's-complement 128-bit → Decimal(38,0) conversion shared by
  * [[Int128Dot]]'s interpreted and generated code paths. */
object Int128 {
  def toDecimal(hi: Long, lo: Long): org.apache.spark.sql.types.Decimal = {
    val bi = java.math.BigInteger.valueOf(hi).shiftLeft(64)
      .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
    org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(bi), 38, 0)
  }
}

/** Σ a[i]·b[i] over LONG arrays with EXACT signed 128-bit accumulation —
  * Math.multiplyHigh for the product's high word, carry-propagated lo/hi
  * adds — materialized as ONE Decimal(38,0) per row. Replaces the
  * `aggregate(zip_with(a, b, (x, y) -> decimal(x)·y))` formulation whose
  * per-ELEMENT Decimal multiply/add dominates the exact eval-checkpoint
  * rankers: same exact value (both are ℤ arithmetic), one object
  * allocation per row instead of ~2·dim. Overflow-safe while the true
  * sum stays within 127 bits (micro³·dim ≈ 1e21 « 1.7e38). */
case class Int128Dot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DecimalType(38, 0)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    var hi = 0L; var lo = 0L
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      val xa = x.getLong(i); val yb = y.getLong(i)
      val p = xa * yb
      val ph = Math.multiplyHigh(xa, yb)
      val nl = lo + p
      val carry = ((lo & p) | ((lo | p) & ~nl)) >>> 63
      hi += ph + carry
      lo = nl
      i += 1
    }
    Int128.toDecimal(hi, lo)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val hi = ctx.freshName("hi"); val lo = ctx.freshName("lo")
      val xa = ctx.freshName("xa"); val yb = ctx.freshName("yb")
      val p = ctx.freshName("p"); val nl = ctx.freshName("nl")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $hi = 0L, $lo = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $xa = $a.getLong($i); long $yb = $b.getLong($i);
         |  long $p = $xa * $yb;
         |  long $nl = $lo + $p;
         |  $hi += java.lang.Math.multiplyHigh($xa, $yb)
         |       + ((($lo & $p) | (($lo | $p) & ~$nl)) >>> 63);
         |  $lo = $nl;
         |}
         |${ev.value} = graft.functions.Int128.toDecimal($hi, $lo);
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** G.711 expansion of a companded byte payload to linear PCM — the
  * Catalyst-native form of [[graft.pipeline.PcmAudio.mulawExpand]] /
  * `alawExpand` for SQL pipelines over mu-law/A-law audio columns (a
  * telephony corpus is one `g711_expand(payload, 'mulaw')` from linear
  * samples, inside whole-stage codegen, no UDF). The segmented
  * arithmetic is inlined in the generated Java; equivalence with the
  * reference decoder is spec-asserted over all 256 codes. */
case class G711Expand(child: Expression, alaw: Boolean)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"g711_expand needs a BINARY payload, got ${child.dataType}")
  override def nullSafeEval(b: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    val out = new Array[Int](bytes.length)
    var i = 0
    while (i < bytes.length) {
      out(i) = if (alaw) graft.pipeline.PcmAudio.alawExpand(bytes(i) & 0xff)
               else graft.pipeline.PcmAudio.mulawExpand(bytes(i) & 0xff)
      i += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      val mag = ctx.freshName("mag")
      val seg = ctx.freshName("seg")
      val body =
        if (alaw)
          s"""int $v = ($b[$i] ^ 0x55) & 0xff;
             |int $seg = ($v >> 4) & 0x7;
             |int $mag = $seg == 0 ? (($v & 0xf) << 4) + 8
             |  : (((($v & 0xf) << 4) + 0x108) << ($seg - 1));
             |$out[$i] = ($v & 0x80) != 0 ? $mag : -$mag;""".stripMargin
        else
          s"""int $v = (~$b[$i]) & 0xff;
             |int $mag = (((($v & 0xf) << 3) + 0x84) << (($v >> 4) & 0x7)) - 0x84;
             |$out[$i] = ($v & 0x80) != 0 ? -$mag : $mag;""".stripMargin
      s"""
         |int[] $out = new int[$b.length];
         |for (int $i = 0; $i < $b.length; $i++) {
         |  ${body}
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

object ArrayKernels {
  /** PQ arity arguments (m, k) must be integer literals; any integral
    * type a SQL caller might write (16, CAST(16 AS BIGINT), 16S) is
    * accepted, anything else fails with a clear message instead of a
    * ClassCastException or an unbound-attribute internal error. */
  private def intArg(e: Expression): Int = {
    require(e.foldable, s"PQ arity arguments must be integer literals, got: $e")
    e.eval(null) match {
      case i: Int   => i
      case l: Long  => math.toIntExact(l)
      case s: Short => s.toInt
      case b: Byte  => b.toInt
      case other => throw new IllegalArgumentException(
        s"PQ arity arguments must be integers, got: $other")
    }
  }
  private def doubleArg(e: Expression): Double = {
    require(e.foldable, s"numeric arity arguments must be literals, got: $e")
    e.eval(null) match {
      case d: Double => d
      case f: Float  => f.toDouble
      case i: Int    => i.toDouble
      case l: Long   => l.toDouble
      case other => throw new IllegalArgumentException(
        s"numeric arity arguments must be numbers, got: $other")
    }
  }
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "array_dot" -> (es => ArrayDot(es(0), es(1))),
    "array_cosine" -> (es => ArrayCosine(es(0), es(1))),
    "transe_score" -> (es => TranseScore(es(0), es(1), es(2))),
    "complex_score" -> (es => ComplexScore(es(0), es(1), es(2))),
    "rotate_score" -> (es => RotateScore(es(0), es(1), es(2))),
    "distmult_score" -> (es => DistmultScore(es(0), es(1), es(2))),
    "rescal_score" -> (es => RescalScore(es(0), es(1), es(2))),
    "swtranse_score" -> (es => SwtranseScore(es(0), es(1), es(2),
      intArg(es(3)), doubleArg(es(4)))),
    "pq_encode" -> (es => PqEncode(es(0), es(1), intArg(es(2)), intArg(es(3)))),
    "pq_lut" -> (es => PqLut(es(0), es(1), intArg(es(2)), intArg(es(3)))),
    "pq_adc" -> (es => PqAdc(es(0), es(1), intArg(es(2)))),
    "md5_prefix60" -> (es => Md5Prefix60(es(0))),
    "nfc_normalize" -> (es => NfcNormalize(es(0))),
    "strip_accents" -> (es => StripAccents(es(0))),
    "int128_dot" -> (es => Int128Dot(es(0), es(1))),
    "array_l1_long" -> (es => ArrayL1Long(es(0), es(1))),
    "bpe_apply" -> (es => BpeApply(es(0), es(1))),
    "g711_expand" -> (es => G711Expand(es(0),
      es.length > 1 && stringArg(es(1)) == "alaw")))

  private def stringArg(e: Expression): String = {
    require(e.foldable, s"law argument must be a string literal, got: $e")
    String.valueOf(e.eval(null))
  }

  /** Session-local registration (the non-extensions path). Idempotent
    * per session: a name already in the session's registry is left as
    * it is, so repeat calls replace (and log) nothing. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }

  // Column API (resolves through the function registry).
  def arrayDot(a: Column, b: Column): Column = call_function("array_dot", a, b)
  def arrayCosine(a: Column, b: Column): Column = call_function("array_cosine", a, b)
  def transeScore(h: Column, r: Column, t: Column): Column =
    call_function("transe_score", h, r, t)
  def complexScore(h: Column, r: Column, t: Column): Column =
    call_function("complex_score", h, r, t)
  def rotateScore(h: Column, r: Column, t: Column): Column =
    call_function("rotate_score", h, r, t)
  def distmultScore(h: Column, r: Column, t: Column): Column =
    call_function("distmult_score", h, r, t)
  def rescalScore(h: Column, r: Column, t: Column): Column =
    call_function("rescal_score", h, r, t)
  def swtranseScore(h: Column, r: Column, t: Column, m: Int,
                    p: Double): Column =
    call_function("swtranse_score", h, r, t,
                  org.apache.spark.sql.functions.lit(m),
                  org.apache.spark.sql.functions.lit(p))
  def pqEncode(vec: Column, cb: Column, m: Int, k: Int): Column =
    call_function("pq_encode", vec, cb,
                  org.apache.spark.sql.functions.lit(m),
                  org.apache.spark.sql.functions.lit(k))
  def pqLut(vec: Column, cb: Column, m: Int, k: Int): Column =
    call_function("pq_lut", vec, cb,
                  org.apache.spark.sql.functions.lit(m),
                  org.apache.spark.sql.functions.lit(k))
  def pqAdc(lut: Column, codes: Column, k: Int): Column =
    call_function("pq_adc", lut, codes,
                  org.apache.spark.sql.functions.lit(k))
  def bpeApply(toks: Column, mergesFlat: Column): Column =
    call_function("bpe_apply", toks, mergesFlat)
  def int128Dot(a: Column, b: Column): Column =
    call_function("int128_dot", a, b)
  def nfcNormalize(s: Column): Column = call_function("nfc_normalize", s)
  def stripAccents(s: Column): Column = call_function("strip_accents", s)
  def arrayL1Long(a: Column, b: Column): Column =
    call_function("array_l1_long", a, b)
}
