package graft.pipeline

import Multimodal.{AudioMeta, quant6}

/** AAC-LC payload decode — the round-17 conversion of the last large
  * declared audio seam ("ADTS container metadata only") into real
  * machinery with user-pluggable spec data, the same policy the MP3
  * chain ships under ([[L3IsoHuff]], loadable LSF geometry):
  *
  *   - REAL machinery: ADTS payload walk, raw_data_block element loop
  *     (SCE/CPE/DSE/FIL/END), ics_info, section data with escape run
  *     lengths, dpcm scalefactors, 4-tuple/2-tuple spectral Huffman with
  *     sign bits and book-11 escape sequences, x^(4/3)·2^(0.25(sf−100))
  *     dequantization, M/S stereo, the four window sequences
  *     (ONLY_LONG / LONG_START / EIGHT_SHORT / LONG_STOP) with per-half
  *     window-SHAPE switching (sine and Kaiser–Bessel-derived), IMDCT
  *     (N = 2048 long / 256 short, n0 = N/4 + 1/2), short-window
  *     grouping, and 50 %-overlap-add (ISO/IEC 14496-3 §4.5–4.6).
  *   - PLUGGABLE data: Huffman codebooks mount at runtime through
  *     [[AacHuff.load]]'s closure gate; scalefactor-band geometry (the
  *     per-sample-rate swb_offset tables) mounts through
  *     [[Aac.parseGeometry]]'s monotone-tiling gate. Without loaded
  *     data the decoder REFUSES unless the caller opts into the
  *     GRAFT-SYNTHETIC books/geometry — a real AAC file can never be
  *     silently decoded against non-ISO tables.
  *
  * Round-17 second pass adds the fully-FORMULAIC side tools (no spec
  * tables involved): intensity stereo (books 14/15, right =
  * ±left·0.5^(is_pos/4) with the ms_used phase interaction), pulse
  * data (transmitted amplitudes added to the quantized coefficients
  * pre-dequant, long windows only), LFE elements (SCE syntax,
  * long-window-only restriction), TNS (sine-dequant reflection coefs →
  * LPC step-up → all-pole synthesis, loadable per-rate band caps), PNS
  * (portable-hash noise, §4.6.13.3 ms_used correlation in CPEs), and
  * multi-rdb ADTS frames (consecutive byte-aligned blocks).
  *
  * Declared NOT implemented (refused when present, honest seams):
  * CCE/PCE elements, ADTS CRC (protection_absent = 0), LTP/
  * main-profile prediction — each a spec-recall risk where a
  * self-consistent wrong parser would pass its own round trip.
  *
  * Float determinism (the DuckDB-oracle contract, after the MP3 chain):
  * every transcendental constant is quantized to 1e-12 at table-build
  * time and the oracle interpolates the SAME literal doubles — all IMDCT
  * basis values and sine windows live on ONE π/4096 cosine lattice
  * ([[cosLattice]]: cos of any angle π·m/4096 for integer m), KBD
  * windows and requant/gain factors get their own quantized tables, and
  * every float fold is order-pinned (k ascending, then window, then
  * overlap pair), so the replay is bit-identical. */
object Aac {

  // ------------------------------------------------------------------
  // Quantized trig lattice
  // ------------------------------------------------------------------

  private def q12(x: Double): Double =
    math.rint(x * 1e12) / 1e12

  /** cos(π·m/4096) quantized to 1e-12 for m ∈ 0..4096 — the ONE table
    * every IMDCT basis value and sine-window sample reduces to:
    * long basis cos((2π/2048)(n+512.5)(k+0.5)) = C[(2n+1025)(2k+1)],
    * short basis = C[8(2n+129)(2k+1)], long sine window sin(π(n+0.5)
    * /2048) = C[2047−2n], short sine window = C[8(255−2n)] (indices mod
    * 8192, folded by cosine symmetry m → 8192−m into 0..4096). */
  val cosLattice: Array[Double] =
    Array.tabulate(4097)(m => q12(math.cos(math.Pi * m / 4096.0)))

  /** Lattice lookup at any integer multiple of π/4096. */
  def latticeAt(m: Long): Double = {
    val mm = ((m % 8192) + 8192) % 8192
    cosLattice(if (mm > 4096) (8192 - mm).toInt else mm.toInt)
  }

  // ------------------------------------------------------------------
  // Windows: sine (on the lattice) and Kaiser–Bessel-derived
  // ------------------------------------------------------------------

  /** Modified Bessel I0 by its power series, summed to convergence at
    * double precision (terms fall superexponentially; deterministic
    * fixed evaluation order). */
  private def besselI0(x: Double): Double = {
    var term = 1.0
    var sum = 1.0
    var k = 1
    while (k < 80 && term > sum * 1e-18) {
      val t = x / (2.0 * k)
      term *= t * t
      sum += term
      k += 1
    }
    sum
  }

  /** KBD window rise half for transform size N (N/2 samples), kernel
    * alpha per ISO 14496-3 §4.6.11.3.2: 4 for long, 6 for short.
    * w(n) = sqrt(Σ_{j≤n} ker(j) / Σ_{j≤N/2} ker(j)),
    * ker(j) = I0(πα·sqrt(1 − ((j − N/4)/(N/4))²)); quantized to 1e-12.
    * The fall half is the mirror w(N/2 − 1 − n). */
  private def kbdHalf(halfLen: Int, alpha: Double): Array[Double] = {
    val kern = Array.tabulate(halfLen + 1) { j =>
      val t = (j - halfLen / 2.0) / (halfLen / 2.0)
      besselI0(math.Pi * alpha * math.sqrt(math.max(0.0, 1.0 - t * t)))
    }
    val total = kern.sum
    val out = new Array[Double](halfLen)
    var cum = 0.0
    var n = 0
    while (n < halfLen) {
      cum += kern(n)
      out(n) = q12(math.sqrt(cum / total))
      n += 1
    }
    out
  }

  /** KBD long-window rise half (1024 samples, alpha 4), 1e-12-quantized
    * — exposed for the oracle's literal interpolation. */
  val kbdLongHalf: Array[Double] = kbdHalf(1024, 4.0)

  /** KBD short-window rise half (128 samples, alpha 6). */
  val kbdShortHalf: Array[Double] = kbdHalf(128, 6.0)

  /** Window rise half value: shape 0 = sine (lattice), 1 = KBD. */
  private def riseLong(shape: Int, n: Int): Double =
    if (shape == 0) latticeAt(2047L - 2L * n) else kbdLongHalf(n)
  private def riseShort(shape: Int, n: Int): Double =
    if (shape == 0) latticeAt(8L * (255L - 2L * n)) else kbdShortHalf(n)
  private def fallLong(shape: Int, n: Int): Double =
    riseLong(shape, 1023 - n)
  private def fallShort(shape: Int, n: Int): Double =
    riseShort(shape, 127 - n)

  // ------------------------------------------------------------------
  // Requant tables (1e-12-quantized; oracle interpolates the same)
  // ------------------------------------------------------------------

  /** |q|^(4/3) quantized to 1e-12. */
  def pow43(q: Int): Double = q12(math.pow(q.toDouble, 4.0 / 3.0))

  /** 2^(0.25·(sf − 100)) quantized to 1e-12 (SF_OFFSET = 100). */
  def sfGain(sf: Int): Double = q12(math.pow(2.0, 0.25 * (sf - 100)))

  /** Intensity-stereo scale 0.5^(0.25·is_pos) quantized to 1e-12
    * (ISO 14496-3 §4.6.8.2.3: right = left · 2^(−is_pos/4)). */
  def isScale(isPos: Int): Double = q12(math.pow(0.5, 0.25 * isPos))

  /** PNS noise sample for (frame, line): the spec leaves the noise
    * PRNG implementation-defined (§4.6.13 requires only a uniform-ish
    * random vector); this engine uses its portable md5-prefix hash so
    * the DuckDB oracle replays the identical values —
    * r = (md5Prefix60("aacpns|f|line") mod 2001 − 1000)/1000 ∈ [−1, 1]. */
  def pnsNoise(frame: Int, line: Int, tag: Int = 0): Double = {
    val key = if (tag == 0) s"aacpns|$frame|$line"
              else s"aacpnsr|$frame|$line"
    val h = graft.functions.Md5Prefix60.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(key))
    (h % 2001 - 1000) / 1000.0
  }

  /** TNS reflection coefficient from a transmitted signed index v at
    * resolution `resBits` (3 or 4): sin(v / iqfac±) with iqfac =
    * (2^(resBits−1) ∓ 0.5)/(π/2) (§4.6.9.3 tns_decode_coef), quantized
    * to 1e-12 — FORMULAIC, no spec table involved. */
  def tnsCoef(resBits: Int, v: Int): Double = {
    val iqfac =
      if (v >= 0) ((1 << (resBits - 1)) - 0.5) / (math.Pi / 2.0)
      else ((1 << (resBits - 1)) + 0.5) / (math.Pi / 2.0)
    q12(math.sin(v / iqfac))
  }

  // ------------------------------------------------------------------
  // Scalefactor-band geometry: synthetic + loadable (tiling gate)
  // ------------------------------------------------------------------

  /** GRAFT-SYNTHETIC swb geometry (NOT the ISO per-rate tables): 32
    * uniform long bands of 32 lines tiling 0..1024 and 8 uniform short
    * bands of 16 tiling 0..128. Used for any sample rate, but ONLY
    * under `allowSyntheticGeometry` — real 14496-3 Table 4.110-4.129
    * data mounts via [[parseGeometry]]. */
  val synthSwbLong: Array[Int] = Array.tabulate(33)(_ * 32)
  val synthSwbShort: Array[Int] = Array.tabulate(9)(_ * 16)

  /** Gate one swb offset tiling: starts at 0, strictly increasing, ends
    * exactly at the spectral length (1024 long / 128 short). */
  def gateSwb(label: String, offs: Array[Int], end: Int): Array[Int] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"swb $label: $msg")
    if (offs.length < 2) fail("needs at least one band")
    if (offs.head != 0) fail(s"must start at 0, got ${offs.head}")
    if (offs.last != end) fail(s"must end at $end, got ${offs.last}")
    offs.zip(offs.drop(1)).foreach { case (a, b) =>
      if (b <= a) fail(s"not strictly increasing at $a -> $b")
    }
    if (offs.length - 1 > 64) fail("more than 64 bands")
    offs
  }

  /** Parse + gate a geometry file: per sample-rate-index blocks
    * `swb <srIdx> long <n>` / `swb <srIdx> short <n>` each followed by
    * n+1 offset lines. Returns srIdx → (longOffsets, shortOffsets);
    * both kinds must be present for an index. */
  def parseGeometry(text: String): Map[Int, (Array[Int], Array[Int])] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"aac geometry file: $msg")
    val lines = text.split("\n", -1).iterator
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty).toSeq
    val longs = scala.collection.mutable.Map[Int, Array[Int]]()
    val shorts = scala.collection.mutable.Map[Int, Array[Int]]()
    var i = 0
    while (i < lines.length) {
      val hdr = lines(i).split("\\s+")
      if (hdr.headOption.contains("tnsmax")) { i += 1 }
      else {
      if (hdr.length != 4 || hdr(0) != "swb")
        fail(s"bad header '${lines(i)}' (want: swb <srIdx> long|short <n>)")
      val (sr, kind, n) =
        try ((hdr(1).toInt, hdr(2), hdr(3).toInt))
        catch { case _: NumberFormatException =>
          fail(s"non-integer field in '${lines(i)}'") }
      if (sr < 0 || sr > 12) fail(s"srIdx $sr out of 0..12")
      if (kind != "long" && kind != "short") fail(s"kind '$kind'")
      if (n < 1 || n > 64) fail(s"band count $n out of 1..64")
      val offs = new Array[Int](n + 1)
      var k = 0
      while (k <= n) {
        if (i + 1 + k >= lines.length) fail(s"srIdx $sr $kind: truncated")
        try offs(k) = lines(i + 1 + k).toInt
        catch { case _: NumberFormatException =>
          fail(s"srIdx $sr $kind offset $k: non-integer") }
        k += 1
      }
      val tgt = if (kind == "long") longs else shorts
      if (tgt.contains(sr)) fail(s"srIdx $sr $kind appears twice")
      tgt(sr) = gateSwb(s"$sr/$kind", offs, if (kind == "long") 1024 else 128)
      i += 2 + n
      }
    }
    val both = longs.keySet.intersect(shorts.keySet)
    val dangling = (longs.keySet ++ shorts.keySet) -- both
    if (dangling.nonEmpty)
      fail(s"srIdx ${dangling.min} has only one of long/short")
    if (both.isEmpty) fail("no complete (long + short) geometry found")
    both.map(sr => sr -> ((longs(sr), shorts(sr)))).toMap
  }

  /** Load + gate-validate swb geometry from a file. */
  def loadGeometry(path: String): Map[Int, (Array[Int], Array[Int])] =
    parseGeometry(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      "UTF-8"))

  /** Parse the OPTIONAL per-rate TNS band caps from a geometry file:
    * `tnsmax <srIdx> <long> <short>` lines (the 14496-3 Table 4.139
    * family — data, so loadable like the swb offsets; absent = no cap,
    * which is what the GRAFT-SYNTHETIC geometry uses). */
  def parseTnsMax(text: String): Map[Int, (Int, Int)] = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"aac tnsmax: $msg")
    val out = scala.collection.mutable.Map[Int, (Int, Int)]()
    text.split("\n", -1).iterator
      .map(_.takeWhile(_ != '#').trim).filter(_.nonEmpty)
      .filter(_.split("\\s+").headOption.contains("tnsmax"))
      .foreach { line =>
        val h = line.split("\\s+")
        if (h.length != 4) fail(s"bad line '$line'")
        val (sr, lo, sh) =
          try ((h(1).toInt, h(2).toInt, h(3).toInt))
          catch { case _: NumberFormatException =>
            fail(s"non-integer in '$line'") }
        if (sr < 0 || sr > 12) fail(s"srIdx $sr out of 0..12")
        if (lo < 1 || lo > 64 || sh < 1 || sh > 64)
          fail(s"cap out of 1..64 in '$line'")
        if (out.contains(sr)) fail(s"srIdx $sr appears twice")
        out(sr) = (lo, sh)
      }
    out.toMap
  }

  /** Walks one codeword of `book`; a miss refuses the frame. */
  private def huff(r: BitReader, book: AacHuff.Book): Int =
    r.code(book.decode.get, book.maxLen)
      .getOrElse(throw new IllegalStateException("no codeword"))

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  /** Per-band time-domain stats of one decoded frame: 8 bands of 128
    * PCM samples each, 1e-6-quantized sums (the cross-engine-exact stat
    * convention of the MP3 chain). */
  final case class AacBandOut(frame: Int, channel: Int, band: Int,
                              sSum: Double, sMsq: Double)

  /** Per-frame structural record (first channel element). */
  final case class AacFrameOut(frame: Int, windowSequence: Int,
                               windowShape: Int, maxSfb: Int,
                               nSections: Int, nNonzero: Int,
                               globalGain: Int, channels: Int)

  private final case class Ics(
      windowSequence: Int, windowShape: Int, maxSfb: Int,
      groups: Array[Int],                  // window count per group
      globalGain: Int,
      nSections: Int,
      cbOf: Array[Array[Int]],             // codebook per (group, sfb)
      isPos: Array[Array[Int]],            // intensity position per (g, sfb)
      nrg: Array[Array[Int]],              // PNS noise energy per (g, sfb)
      tns: Array[List[TnsFilter]],         // per window, top-down order
      // dequantized spectra: long → (1 window)(1024); short → (8)(128)
      spec: Array[Array[Double]],
      nNonzero: Int)

  /** One decoded TNS filter: all-pole lpc (lpc(0) = 1 implicit, taps
    * lpc(1..order)) over spectral lines [start, end), applied upward
    * (dir 0) or downward (dir 1) with zero state at the region edge. */
  private final case class TnsFilter(order: Int, dir: Int,
                                     lpc: Array[Double],
                                     start: Int, end: Int)

  /** Decode an ADTS AAC-LC stream's payloads. Returns per-frame
    * structural rows and per-band PCM stats, or None when the stream
    * is malformed or uses a declared-unsupported feature. Codebooks /
    * geometry mount via `books` / `geometry` ([[AacHuff.load]],
    * [[loadGeometry]]); absent data REFUSES unless the caller opts
    * into the GRAFT-SYNTHETIC fixtures. */
  def aacLcDecode(bytes: Array[Byte],
                  books: Map[Int, AacHuff.Book] = Map.empty,
                  geometry: Map[Int, (Array[Int], Array[Int])] = Map.empty,
                  allowSyntheticBooks: Boolean = false,
                  allowSyntheticGeometry: Boolean = false,
                  tnsMaxBands: Map[Int, (Int, Int)] = Map.empty)
      : Option[(AudioMeta, Seq[AacFrameOut], Seq[AacBandOut])] = {
    val effBooks =
      if (allowSyntheticBooks) AacHuff.synthetic ++ books else books

    // ---- ADTS frame walk (header fields as in aacAdtsMeta) ----
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val len = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + len
    }
    final case class Hdr(pos: Int, frameLen: Int, srIdx: Int, ch: Int,
                         profile: Int, rdb: Int, protAbsent: Int)
    def frameAt(p: Int): Option[Hdr] = {
      if (p + 7 > bytes.length) return None
      val b0 = bytes(p) & 0xff; val b1 = bytes(p + 1) & 0xff
      val b2 = bytes(p + 2) & 0xff; val b3 = bytes(p + 3) & 0xff
      val b4 = bytes(p + 4) & 0xff; val b5 = bytes(p + 5) & 0xff
      val b6 = bytes(p + 6) & 0xff
      if (b0 != 0xff || (b1 & 0xf0) != 0xf0) return None
      if ((b1 & 0x06) != 0) return None
      val srIdx = (b2 >> 2) & 0xf
      if (srIdx >= Multimodal.AdtsSampleRates.length) return None
      val ch = ((b2 & 1) << 2) | ((b3 >> 6) & 0x3)
      val frameLen = ((b3 & 0x3) << 11) | (b4 << 3) | ((b5 >> 5) & 0x7)
      val hdrLen = if ((b1 & 1) == 1) 7 else 9
      if (frameLen < hdrLen) return None
      Some(Hdr(p, frameLen, srIdx, ch, (b2 >> 6) & 3, b6 & 3, b1 & 1))
    }
    var found = -1
    while (found < 0 && off + 7 <= bytes.length) {
      frameAt(off) match {
        case Some(h)
            if off + h.frameLen + 7 > bytes.length ||
              frameAt(off + h.frameLen).isDefined =>
          found = off
        case _ => off += 1
      }
    }
    if (found < 0) return None
    val frames = Seq.newBuilder[Hdr]
    var p = found
    var walking = true
    while (walking) frameAt(p) match {
      case Some(h) if p + h.frameLen <= bytes.length =>
        frames += h; p += h.frameLen
      case _ => walking = false
    }
    val hdrs = frames.result()
    if (hdrs.isEmpty) return None
    val srIdx = hdrs.head.srIdx
    // declared-unsupported container shapes refuse (multi-rdb frames
    // are supported since round 17: protection_absent = 1 blocks are
    // consecutive byte-aligned raw_data_blocks, 1024 samples each)
    if (hdrs.exists(h => h.protAbsent == 0 ||
          h.srIdx != srIdx)) return None

    val (swbL, swbS) = geometry.get(srIdx) match {
      case Some(g)                          => g
      case None if allowSyntheticGeometry  => (synthSwbLong, synthSwbShort)
      case None                             => return None
    }

    // ---- per-channel filterbank state ----
    val maxCh = 2
    val prevTail = Array.fill(maxCh)(new Array[Double](1024))
    val prevShape = Array.fill(maxCh)(0)

    val frameOut = Seq.newBuilder[AacFrameOut]
    val bandOut = Seq.newBuilder[AacBandOut]

    def parseIcsInfo(r: BitReader): Option[(Int, Int, Int, Array[Int])] = {
      if (r.bits(1) != 0) return None // ics_reserved_bit
      val wseq = r.bits(2)
      val shape = r.bits(1)
      if (wseq == 2) {
        val maxSfb = r.bits(4)
        val grouping = r.bits(7)
        // bit i (MSB-first, windows 1..7): 1 = same group as previous
        val groups = scala.collection.mutable.ArrayBuffer(1)
        var w = 1
        while (w < 8) {
          if (((grouping >> (7 - w)) & 1) == 1)
            groups(groups.length - 1) += 1
          else groups += 1
          w += 1
        }
        if (maxSfb > swbS.length - 1) return None
        Some((wseq, shape, maxSfb, groups.toArray))
      } else {
        val maxSfb = r.bits(6)
        if (r.bits(1) != 0) return None // predictor_data_present: LC = 0
        if (maxSfb > swbL.length - 1) return None
        Some((wseq, shape, maxSfb, Array(1)))
      }
    }

    /** individual_channel_stream; commonIcs = the CPE common_window
      * ics_info, if present. */
    /** individual_channel_stream. Intensity codebooks (14/15) are legal
      * ONLY on the second channel of a CPE (`intensityAllowed`); their
      * bands transmit dpcm is_positions instead of scalefactors and no
      * spectral data — reconstruction from the left channel happens at
      * the CPE level. Pulse data (long windows only) adds transmitted
      * amplitudes to the QUANTIZED coefficients before dequant
      * (§4.6.3.3), which is why decode is quantize-then-dequant. */
    def parseIcs(r: BitReader,
                 commonIcs: Option[(Int, Int, Int, Array[Int])],
                 intensityAllowed: Boolean,
                 noiseAllowed: Boolean = false, frameIdx: Int = 0,
                 noiseTag: Int = 0)
        : Option[Ics] = {
      val gg = r.bits(8)
      val (wseq, shape, maxSfb, groups) = commonIcs match {
        case Some(i) => i
        case None    => parseIcsInfo(r).getOrElse(return None)
      }
      val short = wseq == 2
      val swb = if (short) swbS else swbL
      val specLen = if (short) 128 else 1024
      val nWin = if (short) 8 else 1
      // section_data: per group, runs of (codebook, length)
      val sectBits = if (short) 3 else 5
      val sectEsc = (1 << sectBits) - 1
      // cb per (group, sfb)
      val cbOf = Array.fill(groups.length, math.max(maxSfb, 1))(0)
      var nSections = 0
      var g = 0
      while (g < groups.length) {
        var k = 0
        while (k < maxSfb) {
          val cb = r.bits(4)
          if (cb == 12) return None // reserved
          if (cb == 13 && !noiseAllowed) return None // PNS element gate
          if (cb >= 14 && !intensityAllowed) return None
          var len = 0
          var incr = r.bits(sectBits)
          while (incr == sectEsc) { len += sectEsc; incr = r.bits(sectBits) }
          len += incr
          if (len == 0 || k + len > maxSfb) return None
          var j = 0
          while (j < len) { cbOf(g)(k + j) = cb; j += 1 }
          k += len
          nSections += 1
        }
        g += 1
      }
      // scale_factor_data: TWO dpcm chains over the coded bands — sf
      // from global_gain for spectral books, is_position from 0 for
      // intensity books (both through the scalefactor codebook)
      val sfBook = effBooks.getOrElse(0, return None)
      val sf = Array.fill(groups.length, math.max(maxSfb, 1))(0)
      val isPos = Array.fill(groups.length, math.max(maxSfb, 1))(0)
      val nrg = Array.fill(groups.length, math.max(maxSfb, 1))(0)
      var last = gg
      var lastIs = 0
      var lastNrg = gg - 90 // NOISE_OFFSET
      var firstNoise = true
      g = 0
      while (g < groups.length) {
        var k = 0
        while (k < maxSfb) {
          val cb = cbOf(g)(k)
          if (cb >= 14) {
            lastIs += huff(r, sfBook) - 60
            if (lastIs < -60 || lastIs > 60) return None
            isPos(g)(k) = lastIs
          } else if (cb == 13) {
            // first noise band: 9-bit PCM dpcm; later bands: codebook
            if (firstNoise) { lastNrg += r.bits(9) - 256; firstNoise = false }
            else lastNrg += huff(r, sfBook) - 60
            if (lastNrg < -100 || lastNrg > 155) return None
            nrg(g)(k) = lastNrg
          } else if (cb != 0) {
            last += huff(r, sfBook) - 60
            if (last < 0 || last > 255) return None
            sf(g)(k) = last
          }
          k += 1
        }
        g += 1
      }
      // pulse_data (§4.6.3.3): long windows only; amplitudes collected
      // here, applied after spectral decode on the quantized values
      var pulses: List[(Int, Int)] = Nil // (line, amp)
      if (r.bits(1) == 1) {
        if (short) return None
        val nPulse = r.bits(2) + 1
        val startSfb = r.bits(6)
        if (startSfb >= swb.length - 1) return None
        var line = swb(startSfb)
        var i = 0
        while (i < nPulse) {
          line += r.bits(5)
          val amp = r.bits(4)
          if (line >= specLen) return None
          pulses = (line, amp) :: pulses
          i += 1
        }
        pulses = pulses.reverse
      }
      // tns_data (§4.6.9): per window, filters anchored at the top
      // band (min(loaded tns_max_bands, max_sfb); the GRAFT-SYNTHETIC
      // geometry carries no cap) stacking downward; reflection coefs
      // through the FORMULAIC sine dequant + the LPC step-up recursion.
      // LC order caps: 12 long / 7 short.
      val tns = Array.fill(nWin)(List.empty[TnsFilter])
      if (r.bits(1) == 1) {
        val capPair = tnsMaxBands.get(srIdx)
        val cap = capPair.map(p => if (short) p._2 else p._1)
          .getOrElse(swb.length - 1)
        val anchor = math.min(cap, maxSfb)
        var w = 0
        while (w < nWin) {
          val nFilt = r.bits(if (short) 1 else 2)
          if (nFilt > 0) {
            val coefRes = r.bits(1)
            val resBits = coefRes + 3
            var topBand = anchor
            var fi = 0
            val acc = List.newBuilder[TnsFilter]
            while (fi < nFilt) {
              val len = r.bits(if (short) 4 else 6)
              val order = r.bits(if (short) 3 else 5)
              if (order > (if (short) 7 else 12)) return None
              val botBand = math.max(0, topBand - len)
              if (order > 0) {
                val dir = r.bits(1)
                val compress = r.bits(1)
                val lenBits = resBits - compress
                val refl = new Array[Double](order)
                var i = 0
                while (i < order) {
                  val raw = r.bits(lenBits)
                  val v =
                    if (raw >= (1 << (lenBits - 1))) raw - (1 << lenBits)
                    else raw
                  refl(i) = tnsCoef(resBits, v)
                  i += 1
                }
                // step-up: reflection → all-pole lpc (lpc(0) = 1)
                val a = new Array[Double](order + 1)
                a(0) = 1.0
                var m = 1
                while (m <= order) {
                  val b = new Array[Double](order + 1)
                  b(0) = 1.0
                  var j = 1
                  while (j < m) {
                    b(j) = a(j) + refl(m - 1) * a(m - j); j += 1
                  }
                  b(m) = refl(m - 1)
                  System.arraycopy(b, 0, a, 0, order + 1)
                  m += 1
                }
                if (botBand < topBand)
                  acc += TnsFilter(order, dir, a, swb(botBand), swb(topBand))
              }
              topBand = botBand
              fi += 1
            }
            tns(w) = acc.result()
          }
          w += 1
        }
      }
      if (r.bits(1) != 0) return None // gain_control_data_present: refuse
      // spectral_data: (group, sfb, window-in-group, line) order, into
      // QUANTIZED coefficients (intensity/zero bands carry none)
      val qspec = Array.fill(nWin)(new Array[Int](specLen))
      var winBase = 0
      g = 0
      while (g < groups.length) {
        var k = 0
        while (k < maxSfb) {
          val cb = cbOf(g)(k)
          if (cb != 0 && cb != 13 && cb < 14) {
            val book = effBooks.getOrElse(cb, return None)
            val (_, dim, _, signed) = AacHuff.spec(cb)
            val width = swb(k + 1) - swb(k)
            if (width % dim != 0) return None
            var w = 0
            while (w < groups(g)) {
              val win = winBase + w
              var line = swb(k)
              while (line < swb(k + 1)) {
                val idx = huff(r, book)
                val vals = AacHuff.indexTuple(cb, idx)
                if (!signed) {
                  var j = 0
                  while (j < dim) {
                    if (vals(j) != 0 && r.bits(1) == 1) vals(j) = -vals(j)
                    j += 1
                  }
                }
                if (cb == 11) {
                  var j = 0
                  while (j < dim) {
                    if (math.abs(vals(j)) == 16) {
                      var n1 = 0
                      while (r.bits(1) == 1) {
                        n1 += 1
                        if (n1 > 16) return None
                      }
                      val word = r.bits(n1 + 4)
                      val mag = (1 << (n1 + 4)) + word
                      vals(j) = if (vals(j) < 0) -mag else mag
                    }
                    j += 1
                  }
                }
                var j = 0
                while (j < dim) {
                  qspec(win)(line + j) = vals(j); j += 1
                }
                line += dim
              }
              w += 1
            }
          }
          k += 1
        }
        winBase += groups(g)
        g += 1
      }
      // apply pulses to the quantized values: amp adds to |q| (a zero
      // coefficient becomes +amp). A pulse landing outside a spectral-
      // coded band has no scalefactor to dequantize under — refuse.
      pulses.foreach { case (line, amp) =>
        var kb = 0
        while (kb < swb.length - 1 && swb(kb + 1) <= line) kb += 1
        if (kb >= maxSfb || cbOf(0)(kb) == 0 || cbOf(0)(kb) == 13 ||
            cbOf(0)(kb) >= 14)
          return None
        val q = qspec(0)(line)
        qspec(0)(line) = if (q < 0) q - amp else q + amp
      }
      // dequant: x = sign(q)·|q|^(4/3)·2^((sf−100)/4) per coded band
      val spec = Array.fill(nWin)(new Array[Double](specLen))
      var nNonzero = 0
      winBase = 0
      g = 0
      while (g < groups.length) {
        var k = 0
        while (k < maxSfb) {
          val cb = cbOf(g)(k)
          if (cb == 13) {
            // PNS: hash-noise vector normalized to band energy
            // 2^(noise_nrg/2): scale = 2^(nrg/4)/sqrt(Σr²) (sqrt and
            // divide are correctly-rounded IEEE — deterministic)
            var w = 0
            while (w < groups(g)) {
              val win = winBase + w
              var energy = 0.0
              var line = swb(k)
              while (line < swb(k + 1)) {
                val rv = pnsNoise(frameIdx, line, noiseTag)
                energy += rv * rv
                line += 1
              }
              val scale =
                if (energy == 0.0) 0.0
                else sfGain(nrg(g)(k) + 100) / math.sqrt(energy)
              line = swb(k)
              while (line < swb(k + 1)) {
                val rv = pnsNoise(frameIdx, line, noiseTag)
                if (rv != 0.0) {
                  spec(win)(line) = rv * scale
                  nNonzero += 1
                }
                line += 1
              }
              w += 1
            }
          } else if (cb != 0 && cb < 14) {
            val gainV = sfGain(sf(g)(k))
            var w = 0
            while (w < groups(g)) {
              val win = winBase + w
              var line = swb(k)
              while (line < swb(k + 1)) {
                val q = qspec(win)(line)
                if (q != 0) {
                  val mag = pow43(math.abs(q)) * gainV
                  spec(win)(line) = if (q < 0) -mag else mag
                  nNonzero += 1
                }
                line += 1
              }
              w += 1
            }
          }
          k += 1
        }
        winBase += groups(g)
        g += 1
      }
      Some(Ics(wseq, shape, maxSfb, groups, gg, nSections, cbOf, isPos,
               nrg, tns, spec, nNonzero))
    }

    /** IMDCT + window + sequence composition → the 2048-sample windowed
      * buffer of this frame (before overlap-add). */
    def filterbank(ics: Ics, pShape: Int): Array[Double] = {
      val buf = new Array[Double](2048)
      if (ics.windowSequence == 2) {
        var w = 0
        while (w < 8) {
          val x = ics.spec(w)
          val nz = (0 until 128).filter(k => x(k) != 0.0)
          val base = 448 + 128 * w
          var n = 0
          while (n < 256) {
            var z = 0.0
            nz.foreach { k =>
              z += x(k) * latticeAt(8L * (2L * n + 129L) * (2L * k + 1L))
            }
            z *= 1.0 / 128.0
            val wv =
              if (n < 128)
                riseShort(if (w == 0) pShape else ics.windowShape, n)
              else fallShort(ics.windowShape, n - 128)
            buf(base + n) += z * wv
            n += 1
          }
          w += 1
        }
      } else {
        val x = ics.spec(0)
        val nz = (0 until 1024).filter(k => x(k) != 0.0)
        var n = 0
        while (n < 2048) {
          var z = 0.0
          nz.foreach { k =>
            z += x(k) * latticeAt((2L * n + 1025L) * (2L * k + 1L))
          }
          z *= 1.0 / 1024.0
          val wv = ics.windowSequence match {
            case 0 =>
              if (n < 1024) riseLong(pShape, n)
              else fallLong(ics.windowShape, n - 1024)
            case 1 =>
              if (n < 1024) riseLong(pShape, n)
              else if (n < 1472) 1.0
              else if (n < 1600) fallShort(ics.windowShape, n - 1472)
              else 0.0
            case _ => // 3 = LONG_STOP
              if (n < 448) 0.0
              else if (n < 576) riseShort(pShape, n - 448)
              else if (n < 1024) 1.0
              else fallLong(ics.windowShape, n - 1024)
          }
          buf(n) = z * wv
          n += 1
        }
      }
      buf
    }

    /** All-pole TNS synthesis over a window's spectrum, in place:
      * x(i) ← x(i) − Σ_j lpc(j)·x(i∓j), taps beyond the region edge
      * are zero (fresh state per region), direction 0 = upward. */
    def applyTns(spec: Array[Double], flt: TnsFilter): Unit = {
      var sIdx = 0
      val len = flt.end - flt.start
      while (sIdx < len) {
        val line =
          if (flt.dir == 0) flt.start + sIdx else flt.end - 1 - sIdx
        var acc = spec(line)
        var j = 1
        while (j <= flt.order) {
          val tap = if (flt.dir == 0) line - j else line + j
          if (tap >= flt.start && tap < flt.end)
            acc -= flt.lpc(j) * spec(tap)
          j += 1
        }
        spec(line) = acc
        sIdx += 1
      }
    }

    /** Returns false (→ the stream refuses) when a sample exceeds the
      * exact-stat range: |v| ≤ 1e5 keeps quant6(v²) ≤ 1e16 and the
      * 128-term band sum < 2^63 — beyond it the Long accumulators
      * would saturate/wrap and silently diverge from the oracle's
      * BIGINT arithmetic (round-17 review #3). Real loaded-table
      * streams with extreme sf + escape magnitudes hit this. */
    def emit(f: Int, ch: Int, ics: Ics): Boolean = {
      var wI = 0
      while (wI < ics.tns.length) {
        ics.tns(wI).foreach(applyTns(ics.spec(wI), _))
        wI += 1
      }
      val buf = filterbank(ics, prevShape(ch))
      prevShape(ch) = ics.windowShape
      var band = 0
      while (band < 8) {
        var ss = 0L; var sq = 0L
        var n = band * 128
        while (n < (band + 1) * 128) {
          val v = buf(n) + prevTail(ch)(n)
          if (math.abs(v) > 1e5) return false
          ss += quant6(v); sq += quant6(v * v)
          n += 1
        }
        bandOut += AacBandOut(f, ch, band, ss / 1e6 + 0.0, sq / 1e6 + 0.0)
        band += 1
      }
      System.arraycopy(buf, 1024, prevTail(ch), 0, 1024)
      true
    }

    // ---- per-raw_data_block decode (an ADTS frame carries rdb+1
    // consecutive byte-aligned blocks; `f` is the GLOBAL block index,
    // i.e. the output-frame counter) ----
    var f = 0
    var ok = true
    var hi = 0
    var blkLeft = 0
    var r: BitReader = null
    while (ok && (hi < hdrs.length || blkLeft > 0)) {
      if (blkLeft == 0) {
        val h = hdrs(hi)
        r = new BitReader(bytes, (h.pos + 7) * 8L, (h.pos + h.frameLen) * 8L)
        blkLeft = h.rdb + 1
        hi += 1
      }
      blkLeft -= 1
      var ended = false
      var sawAudio = false
      try {
        while (!ended) {
          r.bits(3) match {
            case el @ (0 | 3) => // SCE, or LFE (SCE syntax, long-only)
              r.bits(4) // element_instance_tag
              parseIcs(r, None, intensityAllowed = false,
                       noiseAllowed = true, frameIdx = f) match {
                case Some(ics) =>
                  if (sawAudio || (el == 3 && ics.windowSequence != 0)) {
                    ok = false; ended = true
                  } else {
                    sawAudio = true
                    frameOut += AacFrameOut(f, ics.windowSequence,
                      ics.windowShape, ics.maxSfb, ics.nSections,
                      ics.nNonzero, ics.globalGain, 1)
                    if (!emit(f, 0, ics)) { ok = false; ended = true }
                  }
                case None => ok = false; ended = true
              }
            case 1 => // CPE
              r.bits(4)
              val common = r.bits(1) == 1
              if (!common) { ok = false; ended = true }
              else {
                val icsInfo = parseIcsInfo(r)
                if (icsInfo.isEmpty) { ok = false; ended = true }
                else {
                  val msMask = r.bits(2)
                  val info = icsInfo.get
                  val nGroups = info._4.length
                  val maxSfb = info._3
                  val msUsed = Array.fill(nGroups, math.max(maxSfb, 1))(false)
                  if (msMask == 1) {
                    var g = 0
                    while (g < nGroups) {
                      var k = 0
                      while (k < maxSfb) {
                        msUsed(g)(k) = r.bits(1) == 1; k += 1
                      }
                      g += 1
                    }
                  } else if (msMask == 2) {
                    msUsed.foreach(a => java.util.Arrays.fill(a, true))
                  } else if (msMask == 3) { ok = false }
                  if (ok) {
                    (parseIcs(r, icsInfo, intensityAllowed = false,
                        noiseAllowed = true, frameIdx = f, noiseTag = 0),
                     parseIcs(r, icsInfo, intensityAllowed = true,
                        noiseAllowed = true, frameIdx = f, noiseTag = 1))
                    match {
                      case (Some(l), Some(rr)) =>
                        if (sawAudio) { ok = false; ended = true }
                        else {
                          sawAudio = true
                          // Joint stereo on the dequantized spectra.
                          // Per band: an INTENSITY band on the right
                          // (cb 14 in-phase-inverted semantics XOR the
                          // band's ms_used bit, §4.6.8.2) rebuilds
                          // right = ±left·0.5^(is_pos/4) and M/S does
                          // NOT apply; otherwise ms_used bands do the
                          // mid/side sum/difference.
                          val short = l.windowSequence == 2
                          val swb = if (short) swbS else swbL
                          var winBase = 0
                          var g = 0
                          while (g < nGroups) {
                            var k = 0
                            while (k < maxSfb) {
                              val cbR = rr.cbOf(g)(k)
                              val noiseBand =
                                cbR == 13 || l.cbOf(g)(k) == 13
                              if (cbR == 13 && l.cbOf(g)(k) == 13 &&
                                  msUsed(g)(k)) {
                                // CORRELATED noise (§4.6.13.3): ms_used
                                // on a both-channels noise band means
                                // the right reuses the LEFT's noise
                                // vector, scaled by its own noise_nrg
                                var w = 0
                                while (w < l.groups(g)) {
                                  val win = winBase + w
                                  var energy = 0.0
                                  var i = swb(k)
                                  while (i < swb(k + 1)) {
                                    val rv = pnsNoise(f, i, 0)
                                    energy += rv * rv
                                    i += 1
                                  }
                                  val scale =
                                    if (energy == 0.0) 0.0
                                    else sfGain(rr.nrg(g)(k) + 100) /
                                      math.sqrt(energy)
                                  i = swb(k)
                                  while (i < swb(k + 1)) {
                                    rr.spec(win)(i) =
                                      pnsNoise(f, i, 0) * scale
                                    i += 1
                                  }
                                  w += 1
                                }
                              } else if (cbR >= 14) {
                                val scale = isScale(rr.isPos(g)(k))
                                val inv = (cbR == 14) != msUsed(g)(k)
                                var w = 0
                                while (w < l.groups(g)) {
                                  var i = swb(k)
                                  while (i < swb(k + 1)) {
                                    val v = l.spec(winBase + w)(i) * scale
                                    rr.spec(winBase + w)(i) =
                                      if (inv) -v else v
                                    i += 1
                                  }
                                  w += 1
                                }
                              } else if (msUsed(g)(k) && !noiseBand) {
                                var w = 0
                                while (w < l.groups(g)) {
                                  var i = swb(k)
                                  while (i < swb(k + 1)) {
                                    val m = l.spec(winBase + w)(i)
                                    val s = rr.spec(winBase + w)(i)
                                    l.spec(winBase + w)(i) = m + s
                                    rr.spec(winBase + w)(i) = m - s
                                    i += 1
                                  }
                                  w += 1
                                }
                              }
                              k += 1
                            }
                            winBase += l.groups(g)
                            g += 1
                          }
                          // rr.nNonzero was counted from the
                          // pre-rewrite spectra (independent noise /
                          // pre-intensity); recount from the actual
                          // reconstructed right spectrum (r17 review #2)
                          val rrNz = rr.spec.iterator
                            .map(w0 => w0.count(_ != 0.0)).sum
                          frameOut += AacFrameOut(f, l.windowSequence,
                            l.windowShape, l.maxSfb, l.nSections,
                            l.nNonzero + rrNz, l.globalGain, 2)
                          if (!emit(f, 0, l) || !emit(f, 1, rr)) {
                            ok = false; ended = true
                          }
                        }
                      case _ => ok = false; ended = true
                    }
                  } else ended = true
                }
              }
            case 4 => // DSE: skip
              r.bits(4)
              val align = r.bits(1) == 1
              var cnt = r.bits(8)
              if (cnt == 255) cnt += r.bits(8)
              if (align) r.byteAlign()
              var i = 0
              while (i < cnt) { r.bits(8); i += 1 }
            case 6 => // FIL: skip
              var cnt = r.bits(4)
              if (cnt == 15) cnt += r.bits(8) - 1
              var i = 0
              while (i < cnt) { r.bits(8); i += 1 }
            case 7 => // END
              r.byteAlign()
              ended = true
            case _ => // CCE/PCE: declared unsupported
              ok = false; ended = true
          }
        }
      } catch {
        case _: IllegalStateException => ok = false
        case _: IllegalArgumentException => ok = false
      }
      if (!sawAudio) ok = false
      f += 1
    }
    if (!ok) None
    else {
      val sr = Multimodal.AdtsSampleRates(srIdx)
      Some((AudioMeta(sr, hdrs.head.ch, -1, f),
            frameOut.result(), bandOut.result()))
    }
  }

  // ------------------------------------------------------------------
  // Fixture generator (the encode half of the round trip)
  // ------------------------------------------------------------------

  /** Spectral book id used by media `id` frame `f` scope `s` (a band
    * index for long frames, a group index for short ones). */
  private def cbSel(id: Long, f: Int, s: Int): Int =
    Array(1, 3, 5, 7, 9, 11)(((id + f + 2L * s) % 6).toInt)

  /** The per-field closed forms shared by the generator and the DuckDB
    * oracle (the `(id*3 + f*7) % 400` idiom of the MP3 rows):
    *
    *   global_gain         = 130 + (id·5 + f·9 + ch·13) mod 20
    *   window_shape        = (id + f) mod 2
    *   long: max_sfb       = 10 + id mod 5; coded sfbs a, a+1 with
    *         a               = (id + f + ch) mod 8 + 1
    *         book            = [1,3,5,7,9,11][(id + f + 2ch) mod 6]
    *         sf dpcm         = ((id·3 + f·5 + b·11 + ch·17) mod 21) − 10
    *         one nonzero line per coded band: tuple (id + 2f + b) mod
    *         nTuples, slot (id + b) mod dim, magnitude 1 + (id+f+b) mod
    *         min(lav, 12) (book 11: 16 + (id+f+b) mod 8, an escape),
    *         negative iff (id + f + b) odd
    *   short: max_sfb 8, grouping 1101101₂ → windows [3,3,2]; per group
    *         g: coded sfb c = (id + f + g) mod 6, book cbSel(id,f,g),
    *         sf dpcm ((id·3 + f·5 + g·7) mod 21) − 10, one nonzero
    *         tuple in window (id + g) mod |group| at tuple
    *         (id + 2f + g) mod nTuples, slot (id + g) mod dim,
    *         magnitude as long with b → g
    *
    * Modes: "long" = ONLY_LONG SCE; "short" = EIGHT_SHORT SCE;
    * "cycle" = window_sequence f mod 4 (ONLY_LONG → LONG_START →
    * EIGHT_SHORT → LONG_STOP) SCE; "ms" = ONLY_LONG CPE common_window
    * with ms_mask_present (id + f) mod 3 and (mask 1) per-band ms_used
    * = (id + f + sfb) odd. Frames (id + f) ≡ 0 mod 3 carry a 2-byte
    * FIL element before END (skip-machinery coverage). */
  def aacLcBytes(id: Long, nFrames: Int, mode: String = "long",
                 rdbGroup: Int = 1): Array[Byte] = {
    require(rdbGroup >= 1 && rdbGroup <= 4, "rdbGroup out of 1..4")
    val out = new java.io.ByteArrayOutputStream()
    val srIdx = 3 // 48 kHz
    val chCfg =
      if (mode == "ms" || mode == "is" || mode == "pns2") 2 else 1
    val enc = AacHuff.syntheticEncode
    // rdbGroup > 1 packs consecutive blocks into ONE ADTS frame
    // (number_of_raw_data_blocks = rdbGroup − 1): the same per-block
    // content as the unpacked stream, so packed ≡ unpacked rows
    val pend = new java.io.ByteArrayOutputStream()
    var pendBlocks = 0
    var f = 0
    while (f < nFrames) {
      val w = new BitWriter
      val shape = ((id + f) % 2).toInt
      val wseq = mode match {
        case "short" | "tns_short" => 2
        case "cycle"               => f % 4
        case _                     => 0
      }

      def writeIcsInfo(): Unit = {
        w.bits(0, 1) // ics_reserved
        w.bits(wseq, 2)
        w.bits(shape, 1)
        if (wseq == 2) {
          w.bits(8, 4)         // max_sfb
          w.bits(0x6d, 7)      // grouping 1101101 → [3,3,2]
        } else {
          // "tns" mode pins max_sfb to a+2 so the single top-anchored
          // TNS filter region IS the two coded bands (64 lines)
          val msfb =
            if (mode == "tns") ((id + f) % 8).toInt + 3
            else 10 + (id % 5).toInt
          w.bits(msfb, 6)                // max_sfb
          w.bits(0, 1)                   // predictor_data_present
        }
      }

      def writeShortSectLen(len0: Int): Unit = {
        var len = len0
        while (len >= 7) { w.bits(7, 3); len -= 7 }
        w.bits(len, 3)
      }

      def writeTuple(cb: Int, dim: Int, signed: Boolean, neg: Boolean,
                     vals: Array[Int]): Unit = {
        // codeword over the book-domain values (escapes cap at 16)
        val domainVals = vals.map { v =>
          val m = math.abs(v)
          val capped = if (cb == 11 && m >= 16) 16 else m
          if (signed) (if (v < 0) -capped else capped) else capped
        }
        w.str(enc(cb)(AacHuff.tupleIndex(cb, domainVals)))
        if (!signed)
          vals.foreach(v => if (v != 0) w.bits(if (neg) 1 else 0, 1))
        if (cb == 11) vals.foreach { v =>
          val m = math.abs(v)
          if (m >= 16) {
            // escape, N = 0: terminator bit then 4-bit word (mag − 16)
            w.bits(0, 1); w.bits(m - 16, 4)
          }
        }
      }

      /** One channel's ICS payload (after the shared/per-channel
        * ics_info); `ch` parameterizes the closed forms. `intensity`
        * (the "is" mode's right channel) emits two intensity bands
        * (alternating books 15/14) instead of spectral content: is_pos
        * dpcm ((id·7 + f·3 + b·5) mod 25 − 12 per band, chained from
        * 0) through the scalefactor codebook, no spectral data. */
      def writeIcsBody(ch: Int, icsInfoInline: Boolean,
                       intensity: Boolean = false): Unit = {
        // tns_short rings its all-pole filters near the stability edge
        // (|refl| up to ~0.98); a lower gain keeps the output inside
        // the exact-stat range the emit guard enforces
        val gg = (if (mode == "tns_short") 100 else 130) +
          ((id * 5 + f * 9 + ch * 13) % 20).toInt
        w.bits(gg, 8)
        if (icsInfoInline) writeIcsInfo()
        if (wseq == 2) {
          // sections per group
          val groups = Array(3, 3, 2)
          for (g <- 0 until 3) {
            val c = ((id + f + g) % 6).toInt
            val cb = cbSel(id, f, g)
            if (c > 0) { w.bits(0, 4); writeShortSectLen(c) }
            w.bits(cb, 4); writeShortSectLen(1)
            if (8 - c - 1 > 0) { w.bits(0, 4); writeShortSectLen(8 - c - 1) }
          }
          // scalefactors: one coded band per group, dpcm chain
          for (g <- 0 until 3) {
            val d = ((id * 3 + f * 5 + g * 7) % 21).toInt - 10
            w.str(enc(0)(d + 60))
          }
          if (mode == "tns_short") {
            // per-window filters over ALL 8 bands (length 8 → the
            // region covers the coded lines), alternating windows
            w.bits(0, 1) // pulse absent
            w.bits(1, 1) // tns_data_present
            for (win <- 0 until 8) {
              val nf2 = if ((id + f + win) % 2 == 0) 1 else 0
              w.bits(nf2, 1)
              if (nf2 == 1) {
                val coefRes = ((id + f) % 2).toInt
                w.bits(coefRes, 1)
                w.bits(8, 4) // length: all 8 bands
                val order = 1 + ((id + win) % 2).toInt
                w.bits(order, 3)
                w.bits(((id + win) % 2).toInt, 1) // direction
                w.bits(0, 1)                      // coef_compress
                val lenBits = coefRes + 3
                for (i <- 0 until order)
                  w.bits(((id * 3 + f * 7 + win * 5 + i * 11)
                    % (1 << lenBits)).toInt, lenBits)
              }
            }
            w.bits(0, 1) // gain_control absent
          } else w.bits(0, 3) // pulse/tns/gain_control absent
          // spectral: per group, each window of the group (the coded
          // sfb's POSITION is fixed by the section layout above; the
          // spectral stream itself carries only the coded tuples)
          for (g <- 0 until 3) {
            val cb = cbSel(id, f, g)
            val (_, dim, lav, signed) = AacHuff.spec(cb)
            val nTuples = 16 / dim
            val wSel = ((id + g) % groups(g)).toInt
            val tSel = ((id + 2 * f + g) % nTuples).toInt
            val pSel = ((id + g) % dim).toInt
            val neg = (id + f + g) % 2 == 1
            val mag =
              if (cb == 11) 16 + ((id + f + g) % 8).toInt
              else 1 + ((id + f + g) % math.min(lav, 12)).toInt
            for (win <- 0 until groups(g); t <- 0 until nTuples) {
              val vals = new Array[Int](dim)
              if (win == wSel && t == tSel)
                vals(pSel) = if (signed && neg) -mag else mag
              writeTuple(cb, dim, signed, neg, vals)
            }
          }
        } else {
          val maxSfb =
            if (mode == "tns") ((id + f) % 8).toInt + 3
            else 10 + (id % 5).toInt
          val a = ((id + f + ch) % 8).toInt + 1
          if (intensity) {
            val cbI = 14 + ((id + f) % 2).toInt
            w.bits(0, 4); w.bits(a, 5)
            w.bits(cbI, 4); w.bits(2, 5)
            if (maxSfb - a - 2 > 0) { w.bits(0, 4); w.bits(maxSfb - a - 2, 5) }
            for (b <- 0 until 2) {
              val d = ((id * 7 + f * 3 + b * 5) % 25).toInt - 12
              w.str(enc(0)(d + 60))
            }
            w.bits(0, 3) // pulse/tns/gain absent; no spectral data
            return
          }
          val cb = cbSel(id, f, ch)
          if (mode == "pns2") {
            // CPE noise: BOTH channels carry a noise band at the SAME
            // sfb (a2+1) so the ms_used correlation rule is exercised,
            // plus a per-channel spectral band at a2
            val a2 = ((id + f) % 8).toInt + 1
            w.bits(0, 4); w.bits(a2, 5)
            w.bits(cb, 4); w.bits(1, 5)
            w.bits(13, 4); w.bits(1, 5)
            if (maxSfb - a2 - 2 > 0) { w.bits(0, 4); w.bits(maxSfb - a2 - 2, 5) }
            val d = ((id * 3 + f * 5 + ch * 17) % 21).toInt - 10
            w.str(enc(0)(d + 60))
            w.bits(166 + ((id * 11 + f * 3 + ch * 7) % 80).toInt, 9)
            w.bits(0, 3)
            val (_, dim, lav, signed) = AacHuff.spec(cb)
            val nTuples = 32 / dim
            val tSel = ((id + 2 * f + ch) % nTuples).toInt
            val pSel = ((id + ch) % dim).toInt
            val neg = (id + f + ch) % 2 == 1
            val mag =
              if (cb == 11) 16 + ((id + f + ch) % 8).toInt
              else 1 + ((id + f + ch) % math.min(lav, 12)).toInt
            for (t <- 0 until nTuples) {
              val vals = new Array[Int](dim)
              if (t == tSel) vals(pSel) = if (signed && neg) -mag else mag
              writeTuple(cb, dim, signed, neg, vals)
            }
            return
          }
          if (mode == "pns") {
            // spectral band a + NOISE band a+1: the noise band's
            // energy arrives as the FIRST noise dpcm — a 9-bit PCM
            // against the gg − 90 offset chain
            w.bits(0, 4); w.bits(a, 5)
            w.bits(cb, 4); w.bits(1, 5)
            w.bits(13, 4); w.bits(1, 5)
            if (maxSfb - a - 2 > 0) { w.bits(0, 4); w.bits(maxSfb - a - 2, 5) }
            val d = ((id * 3 + f * 5) % 21).toInt - 10
            w.str(enc(0)(d + 60))
            w.bits(166 + ((id * 11 + f * 3) % 80).toInt, 9)
            w.bits(0, 3) // pulse/tns/gain absent
            // spectral data: only band a (the noise band carries none)
            val (_, dim, lav, signed) = AacHuff.spec(cb)
            val nTuples = 32 / dim
            val tSel = ((id + 2 * f) % nTuples).toInt
            val pSel = (id % dim).toInt
            val neg = (id + f) % 2 == 1
            val mag =
              if (cb == 11) 16 + ((id + f) % 8).toInt
              else 1 + ((id + f) % math.min(lav, 12)).toInt
            for (t <- 0 until nTuples) {
              val vals = new Array[Int](dim)
              if (t == tSel) vals(pSel) = if (signed && neg) -mag else mag
              writeTuple(cb, dim, signed, neg, vals)
            }
            return
          }
          // sections (long: 5-bit incrs, lengths < 31 here)
          w.bits(0, 4); w.bits(a, 5)
          w.bits(cb, 4); w.bits(2, 5)
          if (maxSfb - a - 2 > 0) { w.bits(0, 4); w.bits(maxSfb - a - 2, 5) }
          // scalefactors for the two coded bands
          for (b <- 0 until 2) {
            val d = ((id * 3 + f * 5 + b * 11 + ch * 17) % 21).toInt - 10
            w.str(enc(0)(d + 60))
          }
          if (mode == "tns") {
            // one top-anchored filter over the coded bands: formulaic
            // reflection coefs, direction/resolution/compression all
            // exercised by the closed forms
            w.bits(0, 1) // pulse absent
            w.bits(1, 1) // tns_data_present
            w.bits(1, 2) // n_filt = 1
            val coefRes = ((id + f) % 2).toInt
            w.bits(coefRes, 1)
            w.bits(2, 6) // length = 2 sfbs
            val order = 1 + ((id + f) % 3).toInt
            w.bits(order, 5)
            w.bits((id % 2).toInt, 1) // direction
            val compress = (f % 2).toInt
            w.bits(compress, 1)
            val lenBits = coefRes + 3 - compress
            for (i <- 0 until order)
              w.bits(((id * 3 + f * 7 + i * 5) % (1 << lenBits)).toInt,
                     lenBits)
            w.bits(0, 1) // gain_control absent
          } else if (mode == "pulse" && (id + f) % 2 == 0) {
            // pulse_data: 1 + (id mod 2) pulses inside the coded bands,
            // offsets (id·3 + f·7) mod 30 then +1 + (id·5 + f) mod 30,
            // amplitudes 1 + (id + f + 3j) mod 8
            w.bits(1, 1)
            val nP = (id % 2).toInt
            w.bits(nP, 2)
            w.bits(a, 6) // pulse_start_sfb
            w.bits(((id * 3 + f * 7) % 30).toInt, 5)
            w.bits(1 + ((id + f) % 8).toInt, 4)
            if (nP == 1) {
              w.bits(1 + ((id * 5 + f) % 30).toInt, 5)
              w.bits(1 + ((id + f + 3) % 8).toInt, 4)
            }
            w.bits(0, 2)
          } else w.bits(0, 3)
          // spectral: the two coded bands (32 lines each)
          val (_, dim, lav, signed) = AacHuff.spec(cb)
          val nTuples = 32 / dim
          for (b <- 0 until 2) {
            val tSel = ((id + 2 * f + b) % nTuples).toInt
            val pSel = ((id + b) % dim).toInt
            val neg = (id + f + b) % 2 == 1
            val mag =
              if (cb == 11) 16 + ((id + f + b) % 8).toInt
              else 1 + ((id + f + b) % math.min(lav, 12)).toInt
            for (t <- 0 until nTuples) {
              val vals = new Array[Int](dim)
              if (t == tSel) vals(pSel) = if (signed && neg) -mag else mag
              writeTuple(cb, dim, signed, neg, vals)
            }
          }
        }
      }

      if (mode == "ms" || mode == "is" || mode == "pns2") {
        w.bits(1, 3) // CPE
        w.bits(0, 4)
        w.bits(1, 1) // common_window
        writeIcsInfo()
        val msMask = ((id + f) % 3).toInt
        w.bits(msMask, 2)
        if (msMask == 1) {
          val maxSfb = 10 + (id % 5).toInt
          for (k <- 0 until maxSfb)
            w.bits(if ((id + f + k) % 2 == 1) 1 else 0, 1)
        }
        writeIcsBody(0, icsInfoInline = false)
        writeIcsBody(1, icsInfoInline = false, intensity = mode == "is")
      } else {
        w.bits(if (mode == "lfe") 3 else 0, 3) // SCE (or LFE: same syntax)
        w.bits(0, 4)
        writeIcsBody(0, icsInfoInline = true)
      }
      if ((id + f) % 3 == 0) {
        if ((id + f) % 6 == 0) {
          w.bits(6, 3) // FIL
          w.bits(2, 4)
          w.bits(0xa5, 8); w.bits(0x5a, 8)
        } else {
          w.bits(4, 3) // DSE (skip-machinery coverage)
          w.bits(1, 4) // element_instance_tag
          w.bits(1, 1) // data_byte_align_flag
          w.bits(3, 8) // count
          w.byteAlign()
          w.bits(0x11, 8); w.bits(0x22, 8); w.bits(0x33, 8)
        }
      }
      w.bits(7, 3) // END
      val payload = w.toBytes
      pend.write(payload)
      pendBlocks += 1
      if (pendBlocks == rdbGroup || f == nFrames - 1) {
        val body = pend.toByteArray
        val frameLen = 7 + body.length
        out.write(0xff)
        out.write(0xf1) // MPEG-4, layer 00, protection_absent 1
        out.write((1 << 6) | (srIdx << 2) | ((chCfg >> 2) & 1))
        out.write(((chCfg & 0x3) << 6) | ((frameLen >> 11) & 0x3))
        out.write((frameLen >> 3) & 0xff)
        out.write(((frameLen & 0x7) << 5) | 0x1f)
        out.write(0xfc | (pendBlocks - 1))
        out.write(body)
        pend.reset()
        pendBlocks = 0
      }
      f += 1
    }
    out.toByteArray
  }
}
