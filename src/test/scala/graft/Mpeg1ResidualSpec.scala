package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Multimodal

/** MPEG-1 prediction-error coding: structural verification of the
  * Table-B.3 coded_block_pattern VLC data, and decode invariants of the
  * coded-residual fixtures across seeds. The VALUE-level truth of the
  * chain (prediction + residual + clamp, bit-for-bit) is proven by the
  * DuckDB oracles of multimodal_mpeg1_presidual / _bresidual, which
  * replay the whole pipeline relationally. */
class Mpeg1ResidualSpec extends AnyFunSuite {

  private val codes = Multimodal.CbpCodes

  test("CBP table: 63 entries covering cbp 1..63 exactly once") {
    assert(codes.size == 63)
    assert(codes.map(_._2).sorted == (1 to 63))
    assert(codes.map(_._1).distinct.size == 63)
  }

  test("CBP table: prefix-free") {
    val cs = codes.map(_._1)
    for (a <- cs; b <- cs if a != b)
      assert(!b.startsWith(a), s"$a is a prefix of $b")
  }

  test("CBP table: Kraft mass is 1 - 2·2^-9 (spec leaves 00000000x uncoded)") {
    val mass = codes.map(c => math.pow(2.0, -c._1.length)).sum
    assert(math.abs(mass - (1.0 - 2.0 / 512.0)) < 1e-12, s"mass $mass")
  }

  test("CBP table: spec anchors") {
    val byV = codes.map(_.swap).toMap
    assert(byV(60) == "111") // all-four-luma: the shortest code
    assert(Seq(4, 8, 16, 32).forall(byV(_).length == 4)) // single-luma
    assert(Seq(1, 2, 61, 62).forall(byV(_).length == 5))
    assert(codes.filter(_._1.length == 9).map(_._2).sorted ==
      Seq(27, 31, 39, 47, 55, 59)) // the only 9-bit rows
    assert(codes.map(_._1.length).max == 9)
    assert(byV(1) == "01011" && byV(2) == "01001" && byV(3) == "001101")
  }

  test("P coded-residual fixture decodes with the planned macroblock kinds") {
    (0L until 24L).foreach { id =>
      val Some((dims, mbs)) =
        Multimodal.mpeg1IPDecode(Multimodal.mpeg1PResidualBytes(id))
      assert(dims == ((64, 32)))
      val p = mbs.filter(_.pic == 1)
      // 0 intra, 5 MC+coded, 6 pattern-only, 5 quant+MC+coded,
      // 2 skipped, 1 MC-not-coded, 6 quant+pattern-only, 0 intra
      assert(p.map(_.kind) == Seq(0, 5, 6, 5, 2, 1, 6, 0), s"seed $id")
      // every coded mb reports the closed-formula CBP; others report 0
      p.foreach { r =>
        val want = if (Seq(1L, 2L, 3L, 6L).contains(r.mb.toLong))
          1 + ((id * 5 + r.mb * 11) % 63).toInt else 0
        assert(r.cbp == want, s"seed $id mb ${r.mb} cbp ${r.cbp} != $want")
      }
    }
  }

  test("B coded-residual fixture decodes with the planned macroblock kinds") {
    (0L until 24L).foreach { id =>
      val Some((_, mbs)) = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1PResidualBytes(id, withB = true))
      val b = mbs.filter(_.pic == 2)
      // 0 intra, 5 fwd+coded, 7 bwd+coded, 0 intra, 8 interp+coded,
      // 2 skipped (repeats interp), 1 fwd (PMV carried), 0 intra
      assert(b.map(_.kind) == Seq(0, 5, 7, 0, 8, 2, 1, 0), s"seed $id")
      // the skip repeats mb4's vectors; mb6 carries the forward PMV
      val m4 = b(4); val m5 = b(5); val m6 = b(6)
      assert((m5.dx, m5.dy, m5.bdx, m5.bdy) ==
        ((m4.dx, m4.dy, m4.bdx, m4.bdy)), s"seed $id skip vectors")
      assert((m6.dx, m6.dy) == ((m4.dx, m4.dy)), s"seed $id PMV carry")
      // residuals actually land: a coded mb with luma CBP bits must
      // differ from its prediction-only twin (the P picture of the
      // plain fixture shares no layout, so compare interp mb4 against
      // the skip mb5 which is the SAME prediction without residual)
      if ((m4.cbp >> 2) != 0 && (m4.dx, m4.dy, m4.bdx, m4.bdy) ==
            ((m5.dx, m5.dy, m5.bdx, m5.bdy)))
        assert(m4.ySum != m5.ySum || m4.ySqSum != m5.ySqSum ||
               m4.mb != m5.mb) // different MBs: sums may coincide rarely
    }
  }

  test("B macroblock_type table: prefix-free, Kraft 63/64, '000000' reserved") {
    val cs = Multimodal.BMbTypeCodes.map(_._1)
    assert(cs.size == 11 && cs.distinct.size == 11)
    for (a <- cs; b <- cs if a != b)
      assert(!b.startsWith(a), s"$a is a prefix of $b")
    val mass = cs.toSeq.map(c => math.pow(2.0, -c.length)).sum
    // 63/64: the only unassigned length-6 slot is '000000' — the SAME
    // closure the P-picture table B.2b exhibits
    assert(math.abs(mass - 63.0 / 64.0) < 1e-12, s"mass $mass")
    assert(!cs.contains("000000"))
  }

  test("B macroblock_type table: quant rows pair coded rows exactly") {
    val byFlags = Multimodal.BMbTypeCodes.map(_.swap).toMap
    // every quant row = a non-quant row's flag set + quant; exactly the
    // three coded non-intra forms and intra carry quant variants
    val quantRows = Multimodal.BMbTypeCodes.filter(_._2._2)
    assert(quantRows.size == 4)
    quantRows.foreach { case (_, (i, _, f, b, c)) =>
      assert(byFlags.contains((i, false, f, b, c)),
        s"quant row ($i,$f,$b,$c) has no non-quant twin")
      assert(c || i, "only coded or intra rows may carry quant")
    }
    // flag sets are unique (the VLC is a bijection onto 11 mode sets)
    assert(Multimodal.BMbTypeCodes.map(_._2).distinct.size == 11)
  }

  test("B quant-form fixture decodes with the planned kinds and carries") {
    (0L until 24L).foreach { id =>
      val Some((_, mbs)) = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1PResidualBytes(id, withB = true, bQuant = true))
      val b = mbs.filter(_.pic == 2)
      // 0 intra, 8 quant+interp+coded, 5 quant+fwd+coded, 0 intra,
      // 7 quant+bwd+coded, 8 interp+coded (carried qscale), 1 fwd
      // not-coded (carried vector), 0 intra
      assert(b.map(_.kind) == Seq(0, 8, 5, 0, 7, 8, 1, 0), s"seed $id")
      val m1 = b(1); val m2 = b(2); val m4 = b(4); val m5 = b(5); val m6 = b(6)
      assert((m2.dx, m2.dy) == ((m1.dx, m1.dy)), s"seed $id fwd carry m2")
      assert((m5.bdx, m5.bdy) == ((m4.bdx, m4.bdy)), s"seed $id bwd carry m5")
      assert((m6.dx, m6.dy) == ((m5.dx, m5.dy)), s"seed $id fwd carry m6")
      assert(b.forall(_.cbp >= 0) && Seq(m1, m2, m4, m5).forall(_.cbp > 0))
    }
  }

  test("f_code 2 re-encoding decodes identically to f_code 1") {
    // The fcode2 fixture encodes the SAME vectors as the plain residual
    // fixture — |v| = 1 + 2·(|code|−1) + r — so the decoded output must
    // be equal row-for-row: residual-bit reads, the generalized delta,
    // and the ±32 wrap bound all verified by equivalence.
    (0L until 24L).foreach { id =>
      val a = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1PResidualBytes(id)).get._2
      val b = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1PResidualBytes(id, fcode2 = true)).get._2
      assert(a == b, s"seed $id: f_code 1 vs 2 decode differs")
    }
  }

  test("D pictures: DC-only flat blocks, never references, eomb gated") {
    (0L until 24L).foreach { id =>
      val np = (id % 3).toInt + 1
      val Some((_, mbs)) =
        Multimodal.mpeg1IPDecode(Multimodal.mpeg1DBytes(id, np))
      assert(mbs.size == np * 8, s"seed $id rows ${mbs.size}")
      assert(mbs.forall(_.kind == 0))
      // flat DC-only blocks: y_sqsum * 256 == y_sum^2 per 8x8 block is
      // too strong across 4 blocks, but each MB's sums must satisfy the
      // Cauchy bound for 4 flat 64-pixel blocks: 64 * y_sqsum >= y_sum^2
      mbs.foreach(r => assert(64 * 4 * r.ySqSum >= r.ySum * r.ySum))
    }
    // a D stream with a zeroed end_of_macroblock bit must refuse —
    // flip the eomb of the first macroblock (the bit right before the
    // second MB's address increment)
    val good = Multimodal.mpeg1DBytes(5L, 1)
    assert(Multimodal.mpeg1IPDecode(good).isDefined)
    // corrupting any byte in the first slice either refuses or changes
    // values (bit-account honesty); eomb specifically: find by decode
    val bad = good.clone()
    bad(60) = (bad(60) ^ 0x40).toByte // inside the first picture's MBs
    val out = Multimodal.mpeg1IPDecode(bad)
    assert(out.isEmpty || out.get._2 != Multimodal.mpeg1IPDecode(good).get._2)
  }

  test("multi-slice pictures: kinds, PMV reset at slice 2, gap refusal") {
    (0L until 24L).foreach { id =>
      val Some((_, mbs)) = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1SliceBytes(id))
      assert(mbs.size == 16, s"seed $id rows ${mbs.size}")
      val p = mbs.filter(_.pic == 1)
      assert(p.map(_.kind) == Seq(0, 1, 1, 1, 1, 1, 0, 1), s"seed $id")
      // slice 1 leaves PMV = v3 (differential chain); slice 2's mb4 must
      // decode the ABSOLUTE formula vector — reset proof
      val v3 = Multimodal.mpeg1SliceVec(id, 3)
      val v4 = Multimodal.mpeg1SliceVec(id, 4)
      assert((p(3).dx, p(3).dy) == v3, s"seed $id mb3")
      assert((p(4).dx, p(4).dy) == v4, s"seed $id mb4 (slice reset)")
      // and mb5 is differential against mb4, not against slice 1's PMV
      assert((p(5).dx, p(5).dy) == Multimodal.mpeg1SliceVec(id, 5))
    }
    // a slice that skips a macroblock row must refuse: patch slice 2's
    // start code 0x102 → 0x103 in the I picture
    val good = Multimodal.mpeg1SliceBytes(6L)
    assert(Multimodal.mpeg1IPDecode(good).isDefined)
    // find the 00 00 01 02 pattern (first occurrence = I slice 2)
    val idx = good.sliding(4).indexWhere(w =>
      w(0) == 0 && w(1) == 0 && w(2) == 1 && w(3) == 2)
    assert(idx > 0)
    val bad = good.clone()
    bad(idx + 3) = 3
    assert(Multimodal.mpeg1IPDecode(bad).isEmpty)
  }

  test("decoder consumes coded streams bit-exactly (trailing intra intact)") {
    // mb7 of the P picture decodes AFTER all residual blocks; its DC
    // closed formula only matches if every preceding VLC consumed the
    // exact number of bits. Check its stats differ per seed (decode
    // didn't collapse) and every row count is full.
    val sums = (0L until 24L).map { id =>
      val Some((_, mbs)) =
        Multimodal.mpeg1IPDecode(Multimodal.mpeg1PResidualBytes(id))
      assert(mbs.size == 16, s"seed $id rows ${mbs.size}")
      mbs.find(r => r.pic == 1 && r.mb == 7).get.ySum
    }
    assert(sums.distinct.size > 20, "mb7 stats should vary with seed")
  }

  // ---- round 14: full Table B.1 + derived Table B.4, mid-row slices ----

  private def prefixFree(words: Seq[String]): Boolean = {
    val s = words.sorted
    s.zip(s.drop(1)).forall { case (a, b) => !b.startsWith(a) }
  }

  test("Table B.1 full: prefix-free with the exact reserved-gap Kraft " +
       "accounting") {
    val words = Multimodal.AddrIncCodes.map(_._1) ++
      Seq(Multimodal.AddrIncEscape, Multimodal.AddrIncStuffing)
    assert(words.size == 35 && words.distinct.size == 35)
    assert(prefixFree(words))
    assert(Multimodal.AddrIncCodes.map(_._2).sorted == (1 to 33))
    // Kraft in 2^-11 units: total 2026/2048, the deficit EXACTLY the
    // spec's reserved regions — '00000000…' (8), the six unused
    // '00000001xxx' leaves around escape/stuffing (6), '00000010…' (8)
    val mass = words.map(w => 1L << (11 - w.length)).sum
    assert(mass == 2026, s"B.1 Kraft mass $mass")
    assert(Multimodal.AddrIncEscape.startsWith("00000001"))
    assert(Multimodal.AddrIncStuffing.startsWith("00000001"))
    assert(!words.exists(w => w.startsWith("00000000")))
    assert(!words.exists(w => w.startsWith("00000010")))
  }

  test("Table B.4 derived from B.1 is prefix-free with the documented gap") {
    val words = Multimodal.MotionCodes.map(_._1)
    assert(words.size == 33 && words.distinct.size == 33) // 0 ± 1..16
    assert(prefixFree(words))
    assert(Multimodal.MotionCodes.map(_._2).sorted == (-16 to 16))
    // gap 24/2048: the whole '0000000…' (16) and '00000010…' (8) spaces
    val mass = words.map(w => 1L << (11 - w.length)).sum
    assert(mass == 2048 - 24, s"B.4 Kraft mass $mass")
    // the ≤3 subset is byte-for-byte the rows every motion oracle row
    // has decoded against since round 12
    val m = Multimodal.MotionCodes.toMap.map(_.swap)
    assert(m(0) == "1" && m(1) == "010" && m(-1) == "011")
    assert(m(2) == "0010" && m(-2) == "0011")
    assert(m(3) == "00010" && m(-3) == "00011")
  }

  test("mid-row slice stream decodes row-for-row identically to the " +
       "row-aligned stream") {
    (0L until 24L).foreach { id =>
      val a = Multimodal.mpeg1IPDecode(Multimodal.mpeg1SliceBytes(id))
      val b = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1SliceBytes(id, midRow = true))
      assert(a.isDefined && b.isDefined, s"id=$id")
      assert(a.get._2 == b.get._2, s"id=$id rows differ")
    }
  }

  test("a mid-row slice whose first increment misses its macroblock " +
       "refuses (slice gap)") {
    val bytes = Multimodal.mpeg1SliceBytes(5L, midRow = true)
    // find the P picture's slice-2 start code (the LAST 00 00 01 02)
    var idx = -1
    (0 until bytes.length - 3).foreach { i =>
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1 &&
          bytes(i + 3) == 2) idx = i
    }
    assert(idx > 0)
    // after the 32-bit code: 5 qscale bits + 1 extra bit, then the
    // first increment '010' — force its first bit to 1 ('1…' = inc 1,
    // but mb6 needs inc 3)
    val bad = bytes.clone()
    bad(idx + 4) = (bad(idx + 4) | 0x02).toByte
    assert(Multimodal.mpeg1IPDecode(bad).isEmpty)
    // and a wrong slice_vertical_position refuses too
    val bad2 = bytes.clone()
    bad2(idx + 3) = 3
    assert(Multimodal.mpeg1IPDecode(bad2).isEmpty)
  }

  test("big-motion vectors reconstruct through the long B.4 rows, " +
       "magnitude 16 included") {
    var sawSixteen = false
    (0L until 24L).foreach { id =>
      val d = Multimodal.mpeg1IPDecode(
        Multimodal.mpeg1PResidualBytes(id, bigMotion = true))
      assert(d.isDefined, s"id=$id")
      val mbs = d.get._2
      val (e1x, e1y) = Multimodal.mpeg1PResVecBig(id, 1)
      val (e3x, e3y) = Multimodal.mpeg1PResVecBig(id, 3)
      val (e5x, e5y) = Multimodal.mpeg1PResVecBig(id, 5)
      val m1 = mbs.find(r => r.pic == 1 && r.mb == 1).get
      val m3 = mbs.find(r => r.pic == 1 && r.mb == 3).get
      val m5 = mbs.find(r => r.pic == 1 && r.mb == 5).get
      assert((m1.dx, m1.dy) == ((e1x, e1y)), s"id=$id mb1")
      assert((m3.dx, m3.dy) == ((e3x, e3y)), s"id=$id mb3")
      assert((m5.dx, m5.dy) == ((e5x, e5y)), s"id=$id mb5")
      if (math.abs(e3x) == 16) sawSixteen = true
    }
    assert(sawSixteen, "no seed exercised a magnitude-16 motion code")
  }

  // ---- I/P/B motion-compensation round trips (uncoded residuals) ----

  test("mpeg1 I->P round trip across 24 seeds") {
    (0 until 24).foreach { id =>
      val bytes = Multimodal.mpeg1IPBytes(id)
      val decoded = Multimodal.mpeg1IPDecode(bytes)
      assert(decoded.isDefined, s"id=$id decode failed")
      val ((w, h), mbs) = decoded.get
      assert(w == 64 && h == 32)
      assert(mbs.size == 16, s"id=$id mbs=${mbs.size}")
      val p = mbs.filter(_.pic == 1)
      assert(p.map(_.kind) == Seq(0, 1, 1, 2, 1, 0, 1, 1),
        s"id=$id kinds=${p.map(_.kind)}")
      // MC vectors match the fixture closed forms
      Seq(1, 2, 4, 6, 7).foreach { m =>
        val (vx, vy) = Multimodal.mpeg1PVec(id, m)
        val r = p.find(_.mb == m).get
        assert(r.dx == vx && r.dy == vy,
          s"id=$id mb=$m got (${r.dx},${r.dy}) want ($vx,$vy)")
      }
      // skipped macroblock equals the co-located reference block
      val i3 = mbs.find(r => r.pic == 0 && r.mb == 3).get
      val p3 = p.find(_.mb == 3).get
      assert(p3.ySum == i3.ySum && p3.ySqSum == i3.ySqSum)
      // a zero-vector MC block also equals its reference block
      Seq(1, 2, 4, 6, 7).foreach { m =>
        val (vx, vy) = Multimodal.mpeg1PVec(id, m)
        if (vx == 0 && vy == 0) {
          val ir = mbs.find(r => r.pic == 0 && r.mb == m).get
          val pr = p.find(_.mb == m).get
          assert(pr.ySum == ir.ySum, s"id=$id mb=$m zero-MV mismatch")
        }
      }
    }
  }

  test("mpeg1 I->P->B round trip across 24 seeds") {
    (0 until 24).foreach { id =>
      val bytes = Multimodal.mpeg1IPBytes(id, withB = true)
      val decoded = Multimodal.mpeg1IPDecode(bytes)
      assert(decoded.isDefined, s"id=$id decode failed")
      val (_, mbs) = decoded.get
      assert(mbs.size == 24, s"id=$id mbs=${mbs.size}")
      val b = mbs.filter(_.pic == 2)
      // kinds: intra, fwd, skip(=fwd repeat), bwd, fwd, intra, interp, bwd
      assert(b.map(_.kind) == Seq(0, 1, 2, 3, 1, 0, 4, 3),
        s"id=$id b-kinds=${b.map(_.kind)}")
      Seq(1, 2, 3, 4, 6, 7).foreach { m =>
        val (fx, fy, bx, by) = Multimodal.mpeg1BVec(id, m)
        val r = b.find(_.mb == m).get
        assert((r.dx, r.dy, r.bdx, r.bdy) == ((fx, fy, bx, by)),
          s"id=$id mb=$m got (${r.dx},${r.dy},${r.bdx},${r.bdy}) " +
            s"want ($fx,$fy,$bx,$by)")
      }
      // I and P rows are byte-identical to the no-B stream's rows
      val noB = Multimodal.mpeg1IPDecode(Multimodal.mpeg1IPBytes(id)).get._2
      assert(mbs.filter(_.pic < 2) == noB)
    }
  }
}
