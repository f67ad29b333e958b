package graft

import graft.pipeline.Multimodal
import org.scalatest.funsuite.AnyFunSuite

/** Polyphase synthesis machinery (ISO/IEC 11172-3 §2.4.3.2.2) — the
  * 1024-sample V shift register, closed-form matrixing, U-vector
  * extraction and 16-tap windowed sum behind `multimodal_mp3_synth`.
  * Since round 14 [[Multimodal.l3SynthD]] is the REAL ISO Table C.1
  * window (exact multiples of 2^-16; functionally pinned by the
  * near-PR cascade in L3IsoSynthSpec); everything verified here is
  * window-independent register/matrixing STRUCTURE. */
class L3SynthSpec extends AnyFunSuite {

  private def zeroV = new Array[Double](1024)
  private def vec(f: Int => Double) = Array.tabulate(32)(f)

  test("matrixing constants are the closed form cos((16+k)(2i+1)π/64)") {
    assert(Multimodal.l3SynthN.length == 64 * 32)
    for (k <- 0 until 64; i <- 0 until 32) {
      val expect = math.rint(
        math.cos((16 + k) * (2 * i + 1) * math.Pi / 64.0) * 1e12) / 1e12
      assert(Multimodal.l3SynthN(k * 32 + i) == expect, s"N($k,$i)")
    }
    // quantization idempotent (oracle interpolates the same literals)
    assert(Multimodal.l3SynthN.forall(x => math.rint(x * 1e12) / 1e12 == x))
    assert(Multimodal.l3SynthD.length == 512)
    // real Table C.1 taps are exact multiples of 2^-16 — no
    // quantization step, both engines fold identical doubles
    assert(Multimodal.l3SynthD.forall(x =>
      (x * 65536.0) == math.rint(x * 65536.0)))
  }

  test("window same-tap aliasing limited to the 3 mirror pairs at i=0") {
    // With the round-13 synthetic window, NO two taps of one output
    // sample carried equal weights (that property proved the
    // U-extraction indexing). The real Table C.1 window's mirror
    // symmetry D[a] = D[512-a] (matching block signs) creates exactly
    // three equal-weight pairs, all at output sample 0 (taps j and
    // 16-j for j = 2, 4, 6); every other (i, j1, j2) stays distinct,
    // so an extraction index bug is still caught at 31 of 32 samples.
    val d = Multimodal.l3SynthD
    val dup = for {
      i <- 0 until 32; j1 <- 0 until 16; j2 <- 0 until j1
      if d(j1 * 32 + i) == d(j2 * 32 + i)
    } yield (i, j1, j2)
    assert(dup.toSet == Set((0, 10, 6), (0, 12, 4), (0, 14, 2)))
    val syn = Multimodal.l3SynthDSynthetic
    for (i <- 0 until 32; j1 <- 0 until 16; j2 <- 0 until j1)
      assert(syn(j1 * 32 + i) != syn(j2 * 32 + i), s"alias at i=$i $j1/$j2")
  }

  test("first step from zero state: out = N-row dot s, windowed at tap 0") {
    // With an all-zero register only the freshly matrixed block (depth 0,
    // even ⇒ U offset i) contributes: out[i] = M[i] * D[i].
    val v = zeroV
    val s = vec(sb => (sb * 7 % 11) - 5.0)
    val out = Multimodal.l3SynthStep(v, s)
    for (i <- 0 until 32) {
      var m = 0.0
      var sb = 0
      while (sb < 32) { m += s(sb) * Multimodal.l3SynthN(i * 32 + sb); sb += 1 }
      assert(out(i) == m * Multimodal.l3SynthD(i), s"sample $i")
    }
  }

  test("register depth is exactly 16 steps") {
    // An impulse step followed by zero input: the impulse's matrixed
    // block marches down the register and must influence outputs for
    // exactly 15 further steps, then vanish bit-exactly.
    val v = zeroV
    val zero = vec(_ => 0.0)
    Multimodal.l3SynthStep(v, vec(sb => if (sb == 3) 1.0 else 0.0))
    var last = -1
    for (t <- 1 until 20) {
      val out = Multimodal.l3SynthStep(v, zero)
      if (out.exists(_ != 0.0)) last = t
    }
    assert(last == 15, s"impulse last visible at step $last, want 15")
  }

  test("register equals the M-history formulation (the oracle's model)") {
    // Independent model: out(t)[i] = Σ_{d=0..15} M(t-d)[off(d,i)]·D[d·32+i],
    // off = i (d even) / 32+i (d odd), zero history before the start —
    // exactly the relational formulation multimodal_mp3_synth's oracle
    // replays. Must agree bit-for-bit with the shift register.
    val rnd = new scala.util.Random(42)
    val v = zeroV
    val hist = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (t <- 0 until 40) {
      val s = vec(_ => rnd.nextInt(17) - 8.0)
      // model matrixing with the same fold order
      val m = Array.tabulate(64) { k =>
        var acc = 0.0
        var sb = 0
        while (sb < 32) { acc += s(sb) * Multimodal.l3SynthN(k * 32 + sb); sb += 1 }
        acc
      }
      hist += m
      val out = Multimodal.l3SynthStep(v, s)
      for (i <- 0 until 32) {
        var acc = 0.0
        for (d <- 0 until 16) {
          val u = if (t - d < 0) 0.0
                  else if (d % 2 == 0) hist(t - d)(i)
                  else hist(t - d)(32 + i)
          acc += u * Multimodal.l3SynthD(d * 32 + i)
        }
        assert(out(i) == acc, s"t=$t i=$i")
      }
    }
  }

  test("decode emits one PCM row per granule with energy and carry-over") {
    (0 until 24).foreach { id =>
      val nf = (id % 3) + 1
      val (_, grans, _, pcms) = Multimodal.layer3DecodeFull(
        Multimodal.layer3BytesFull(id.toLong, nf)).get
      assert(pcms.size == grans.size, s"id=$id pcm rows ${pcms.size}")
      assert(pcms.exists(_.pcmMsq > 0.0), s"id=$id all-silent PCM")
    }
    // the register carries across granules: decoding 2 frames and
    // decoding the same first frame alone must disagree on no granule-0
    // rows but the register state feeds granule 2+ (can't equal a fresh
    // start unless the stream is degenerate)
    val two = Multimodal.layer3DecodeFull(
      Multimodal.layer3BytesFull(7L, 2)).get._4
    val one = Multimodal.layer3DecodeFull(
      Multimodal.layer3BytesFull(7L, 1)).get._4
    assert(two.take(2).map(p => (p.pcmSum, p.pcmMsq)) ==
           one.take(2).map(p => (p.pcmSum, p.pcmMsq)))
  }

  test("stereo decode keeps one independent register per channel") {
    val (_, grans, _, pcms) = Multimodal.layer3DecodeFull(
      Multimodal.layer3StereoBytes(3L, 2)).get
    assert(pcms.size == grans.size)
    assert(pcms.exists(p => p.channel == 1 && p.pcmMsq > 0.0))
  }

  // ---- full-chain round trips (reservoir + count1 + scalefactors +
  // ---- requant + IMDCT + stereo) through layer3DecodeFull ----

  test("layer3 full round trip across 24 seeds") {
    var mdbNonzero = 0
    (0 until 24).foreach { id =>
      val nf = (id % 3) + 1
      val bytes = Multimodal.layer3BytesFull(id, nf)
      val decoded = Multimodal.layer3DecodeFull(bytes)
      assert(decoded.isDefined, s"id=$id decode failed")
      val (_, grans, subs, _) = decoded.get
      assert(grans.size == nf * 2, s"id=$id grans=${grans.size}")
      assert(subs.size == nf * 2 * 32, s"id=$id subs=${subs.size}")
      mdbNonzero += grans.count(_.mainDataBegin > 0)
    }
    assert(mdbNonzero > 10, s"reservoir exercised: $mdbNonzero granules")
  }

  test("layer3 MS-stereo round trip across 16 seeds") {
    (0 until 16).foreach { id =>
      val nf = (id % 2) + 1
      val bytes = Multimodal.layer3StereoBytes(id, nf)
      val decoded = Multimodal.layer3DecodeFull(bytes)
      assert(decoded.isDefined, s"id=$id stereo decode failed")
      val (meta, grans, subs, _) = decoded.get
      assert(meta.channels == 2)
      assert(grans.size == nf * 2 * 2, s"id=$id grans=${grans.size}")
      assert(subs.size == nf * 2 * 2 * 32, s"id=$id subs=${subs.size}")
      assert(grans.exists(_.channel == 1))
      // MS recombination: channel sums differ unless M or S is silent
      if (id == 0) {
        val l = subs.filter(s => s.frame == 0 && s.granule == 0 &&
          s.channel == 0).map(_.sSum).sum
        val r = subs.filter(s => s.frame == 0 && s.granule == 0 &&
          s.channel == 1).map(_.sSum).sum
        assert(l != r)
      }
    }
    // mono streams still decode identically through the same entry
    val mono = Multimodal.layer3DecodeFull(Multimodal.layer3BytesFull(5, 2))
    assert(mono.get._1.channels == 1)
    assert(mono.get._2.forall(_.channel == 0))
  }

  test("layer3 intensity-stereo round trip across 16 seeds") {
    (0 until 16).foreach { id =>
      val nf = (id % 2) + 1
      val bytes = Multimodal.layer3StereoBytes(id, nf, intensity = true)
      val decoded = Multimodal.layer3DecodeFull(bytes)
      assert(decoded.isDefined, s"id=$id intensity decode failed")
      val (meta, _, subs, _) = decoded.get
      assert(meta.channels == 2)
      assert(subs.size == nf * 2 * 2 * 32)
      // right channel must carry panned (nonzero) energy in subbands the
      // entropy layer gave it nothing in (bands above line 15 live in
      // subband 1+): proof the intensity panning actually ran.
      val rHigh = subs.filter(s => s.channel == 1 && s.subband >= 1)
        .map(_.sMsq).sum
      assert(rHigh > 0, s"id=$id right channel high subbands silent")
    }
  }
}
