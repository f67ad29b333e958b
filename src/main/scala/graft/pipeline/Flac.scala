package graft.pipeline

/** REAL FLAC payload codec (public FLAC format spec, RFC 9639) — the
  * audio-frame decode layer under the container metadata walk that
  * [[Multimodal.flacMeta]] already provides.
  *
  * Scope: the complete frame chain — 14-bit sync + blocking strategy,
  * all blocksize/sample-rate/sample-size code families (common codes,
  * 8/16-bit explicit fields, from-STREAMINFO), the UTF-8-style coded
  * frame/sample number up to 36 bits, header CRC-8 (poly 0x07, init 0),
  * subframe types CONSTANT / VERBATIM / FIXED order 0–4 / LPC order
  * 1–32 (4-bit precision−1, 5-bit shift, signed quantized coefficients,
  * first coefficient applying to the most recent sample), wasted-bits
  * unary prefix, partitioned Rice/Rice2 residuals with raw-bits escape
  * partitions (including the 0-bit all-zero escape), the four channel
  * assignments (independent, left/side, right/side, mid/side — the side
  * channel carrying one extra bit), byte-alignment padding, and the
  * whole-frame CRC-16 (poly 0x8005, init 0).
  *
  * Honesty note (the MP3/AAC-chain policy): encoder and decoder are
  * both this file, so a misremembered bit-field ORDER would round-trip
  * self-consistently. Mitigations: the layout is cited to RFC 9639
  * section by section; the CRC polynomials and the UTF-8 number scheme
  * are independent public algorithms checked by their own specs; the
  * STREAMINFO path is shared with the separately-verified
  * [[Multimodal.flacMeta]]; and — decisively for the VALUES — FLAC is
  * lossless, so the oracle contract is exact equality of decoded PCM
  * with the closed-form generator input, replayed in DuckDB as pure
  * integer arithmetic (no codec replay at all). A self-consistent
  * wrong *transform* (predictor, zigzag, stereo fold) cannot pass that
  * gate; only a wrong pure-syntax field order could, and FlacSpec pins
  * the exact bytes of hand-assembled minimal frames against the spec
  * layout for that.
  *
  * Everything is integer-exact (Long samples; Long prediction sums —
  * coefficient magnitudes and bit depths are kept inside the no-wrap
  * envelope by the fixture generators, matching real encoders' 64-bit
  * accumulator discipline).
  */
object Flac {

  // ------------------------------------------------------------------
  // CRCs (RFC 9639 §9.2 / §9.3: CRC-8 poly 0x07, CRC-16 poly 0x8005,
  // both init 0, MSB-first, no reflection, no final xor)
  // ------------------------------------------------------------------

  def crc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
              else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  def crc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  // ------------------------------------------------------------------
  // UTF-8-style coded number (RFC 9639 §9.1.2 — the UTF-8 byte
  // patterns extended through a 7-byte / 36-bit form)
  // ------------------------------------------------------------------

  def writeCodedNumber(w: BitWriter, v: Long): Unit = {
    require(v >= 0 && v < (1L << 36), s"coded number out of range: $v")
    if (v < 0x80L) w.bits(v, 8)
    else {
      // cont = number of continuation bytes (1..6)
      val cont =
        if (v < (1L << 11)) 1
        else if (v < (1L << 16)) 2
        else if (v < (1L << 21)) 3
        else if (v < (1L << 26)) 4
        else if (v < (1L << 31)) 5
        else 6
      // lead byte: (cont+1) ones, a zero, then the top payload bits
      val leadPayloadBits = if (cont == 6) 0 else 6 - cont
      var i = 0
      while (i <= cont) { w.bits(1, 1); i += 1 }
      w.bits(0, 1)
      w.bits(v >>> (6 * cont), leadPayloadBits)
      var c = cont - 1
      while (c >= 0) {
        w.bits(0x2, 2) // 10
        w.bits((v >>> (6 * c)) & 0x3f, 6)
        c -= 1
      }
    }
  }

  /** Returns the decoded value, or -1 on a malformed sequence. */
  def readCodedNumber(r: BitReader): Long = {
    val first = r.long(8)
    if ((first & 0x80L) == 0) return first
    var cont = 0
    var mask = 0x40L
    while (cont < 7 && (first & mask) != 0) { cont += 1; mask >>= 1 }
    if (cont < 1 || cont > 6) return -1 // 10xxxxxx lead or 0xFF: invalid
    var v = first & (mask - 1)
    var c = 0
    while (c < cont) {
      val b = r.long(8)
      if ((b & 0xc0L) != 0x80L) return -1
      v = (v << 6) | (b & 0x3f)
      c += 1
    }
    v
  }

  // ------------------------------------------------------------------
  // Field-code tables (RFC 9639 §9.1.1)
  // ------------------------------------------------------------------

  /** blocksize for codes 1..5 and 8..15; -1 for explicit/reserved. */
  private def blockSizeOfCode(c: Int): Int = c match {
    case 1          => 192
    case x if x >= 2 && x <= 5 => 576 << (x - 2)
    case x if x >= 8 => 256 << (x - 8)
    case _           => -1
  }

  private val rateOfCode = Array(-1, 88200, 176400, 192000, 8000, 16000,
    22050, 24000, 32000, 44100, 48000, 96000, -1, -1, -1, -1)

  /** bits-per-sample for 3-bit code; 0 = from STREAMINFO; -1 reserved. */
  private def bpsOfCode(c: Int): Int = c match {
    case 0 => 0
    case 1 => 8
    case 2 => 12
    case 4 => 16
    case 5 => 20
    case 6 => 24
    case 7 => 32
    case _ => -1
  }

  // ------------------------------------------------------------------
  // Encoder plans
  // ------------------------------------------------------------------

  sealed trait SubPlan
  case object PlanConstant extends SubPlan
  case object PlanVerbatim extends SubPlan
  final case class PlanFixed(order: Int) extends SubPlan
  /** coefs(0) applies to the most recent sample (transmission order). */
  final case class PlanLpc(order: Int, precision: Int, shift: Int,
                           coefs: Array[Long]) extends SubPlan

  /** method: 0 = Rice (4-bit params), 1 = Rice2 (5-bit).
    * escapeSel: partitions routed through the raw-bits escape. */
  final case class ResidualPlan(method: Int, partOrder: Int,
                                escapeSel: Int => Boolean = _ => false)

  final case class ChannelPlan(sub: SubPlan, wasted: Int,
                               res: ResidualPlan)

  /** Everything the frame header needs. rateCode 12/13/14 write the
    * explicit trailing field from `sampleRate`; bpsCode 0 / rateCode 0 /
    * blockSizeCode 6/7 exercise the from-STREAMINFO / explicit paths. */
  final case class FrameHeaderPlan(blockSizeCode: Int, rateCode: Int,
                                   bpsCode: Int, strategy: Int,
                                   codedNumber: Long)

  // ------------------------------------------------------------------
  // Fixed predictors (RFC 9639 §9.5.1: binomial-coefficient polynomials)
  // ------------------------------------------------------------------

  private def fixedPredict(s: Array[Long], i: Int, order: Int): Long =
    order match {
      case 0 => 0L
      case 1 => s(i - 1)
      case 2 => 2 * s(i - 1) - s(i - 2)
      case 3 => 3 * s(i - 1) - 3 * s(i - 2) + s(i - 3)
      case 4 => 4 * s(i - 1) - 6 * s(i - 2) + 4 * s(i - 3) - s(i - 4)
    }

  private def lpcPredict(s: Array[Long], i: Int, coefs: Array[Long],
                         shift: Int): Long = {
    var sum = 0L
    var j = 0
    while (j < coefs.length) { sum += coefs(j) * s(i - 1 - j); j += 1 }
    sum >> shift // arithmetic shift of the signed accumulator
  }

  private def zigzag(r: Long): Long = (r << 1) ^ (r >> 63)
  private def unzigzag(u: Long): Long = (u >>> 1) ^ -(u & 1L)

  /** Two's-complement bit width of r (0 for 0) — the escape-partition
    * raw sample size. */
  private def signedBits(r: Long): Int =
    if (r == 0) 0
    else if (r > 0) 65 - java.lang.Long.numberOfLeadingZeros(r)
    else 65 - java.lang.Long.numberOfLeadingZeros(~r)

  // ------------------------------------------------------------------
  // Frame encode
  // ------------------------------------------------------------------

  /** Encode one frame. `pcm` is physical channels × blockSize; for
    * stereo modes 8/9/10 exactly 2 channels. `chAssign` is the 4-bit
    * channel-assignment code (0..7 independent n−1, 8 L/S, 9 S/R,
    * 10 M/S). `bps`/`sampleRate` are the true stream values (needed
    * even when the header code defers to STREAMINFO). */
  def frameBytes(pcm: Array[Array[Long]], chAssign: Int, bps: Int,
                 sampleRate: Int, hdr: FrameHeaderPlan,
                 plans: Array[ChannelPlan]): Array[Byte] = {
    val blockSize = pcm(0).length
    val w = new BitWriter
    // sync (14) + reserved (1) + blocking strategy (1)
    w.bits(0xff, 8)
    w.bits(0xf8 | hdr.strategy, 8)
    w.bits(hdr.blockSizeCode, 4)
    w.bits(hdr.rateCode, 4)
    w.bits(chAssign, 4)
    w.bits(hdr.bpsCode, 3)
    w.bits(0, 1) // reserved
    writeCodedNumber(w, hdr.codedNumber)
    hdr.blockSizeCode match {
      case 6 => w.bits(blockSize - 1, 8)
      case 7 => w.bits(blockSize - 1, 16)
      case c => require(blockSizeOfCode(c) == blockSize,
        s"blocksize $blockSize does not match code $c")
    }
    hdr.rateCode match {
      case 12 => w.bits(sampleRate / 1000, 8)
      case 13 => w.bits(sampleRate, 16)
      case 14 => w.bits(sampleRate / 10, 16)
      case _  => ()
    }
    val headerBytes = w.toBytes
    w.bits(crc8(headerBytes, 0, headerBytes.length), 8)

    // channel decorrelation → encoded channels (+1 bit on the side)
    val enc: Array[(Array[Long], Int)] = chAssign match {
      case m if m <= 7 => pcm.map(c => (c, bps))
      case 8 => // left/side
        Array((pcm(0), bps),
              (Array.tabulate(blockSize)(t => pcm(0)(t) - pcm(1)(t)), bps + 1))
      case 9 => // side/right
        Array((Array.tabulate(blockSize)(t => pcm(0)(t) - pcm(1)(t)), bps + 1),
              (pcm(1), bps))
      case 10 => // mid/side
        Array((Array.tabulate(blockSize)(t => (pcm(0)(t) + pcm(1)(t)) >> 1), bps),
              (Array.tabulate(blockSize)(t => pcm(0)(t) - pcm(1)(t)), bps + 1))
      case m => throw new IllegalArgumentException(s"channel assignment $m")
    }

    enc.zip(plans).foreach { case ((samplesFull, ebps), plan) =>
      writeSubframe(w, samplesFull, ebps, plan)
    }
    w.byteAlign()
    val body = w.toBytes
    w.bits(crc16(body, 0, body.length), 16)
    w.toBytes
  }

  private def writeSubframe(w: BitWriter, samplesFull: Array[Long], ebps: Int,
                            plan: ChannelPlan): Unit = {
    w.bits(0, 1) // zero pad bit
    val typeCode = plan.sub match {
      case PlanConstant    => 0
      case PlanVerbatim    => 1
      case PlanFixed(o)    => 8 + o
      case PlanLpc(o, _, _, _) => 32 + (o - 1)
    }
    w.bits(typeCode, 6)
    if (plan.wasted > 0) {
      w.bits(1, 1)
      w.unary(plan.wasted - 1)
    } else w.bits(0, 1)
    val eb = ebps - plan.wasted
    val s = if (plan.wasted == 0) samplesFull
            else samplesFull.map { v =>
              require((v & ((1L << plan.wasted) - 1)) == 0,
                "wasted-bits plan on non-divisible samples")
              v >> plan.wasted
            }
    plan.sub match {
      case PlanConstant =>
        require(s.forall(_ == s(0)), "CONSTANT plan on varying samples")
        w.signed(s(0), eb)
      case PlanVerbatim =>
        s.foreach(w.signed(_, eb))
      case PlanFixed(order) =>
        (0 until order).foreach(i => w.signed(s(i), eb))
        val residual =
          Array.tabulate(s.length - order)(k =>
            s(k + order) - fixedPredict(s, k + order, order))
        writeResiduals(w, residual, s.length, order, plan.res)
      case PlanLpc(order, precision, shift, coefs) =>
        require(coefs.length == order && precision >= 2 && precision <= 15 &&
          shift >= 0 && shift <= 15)
        (0 until order).foreach(i => w.signed(s(i), eb))
        w.bits(precision - 1, 4)
        w.signed(shift, 5)
        coefs.foreach(w.signed(_, precision))
        val residual =
          Array.tabulate(s.length - order)(k =>
            s(k + order) - lpcPredict(s, k + order, coefs, shift))
        writeResiduals(w, residual, s.length, order, plan.res)
    }
  }

  private def writeResiduals(w: BitWriter, residual: Array[Long],
                             blockSize: Int, predOrder: Int,
                             res: ResidualPlan): Unit = {
    val escapeCode = if (res.method == 0) 15 else 31
    val paramBits = if (res.method == 0) 4 else 5
    require(blockSize % (1 << res.partOrder) == 0,
      "blocksize not divisible by partition count")
    w.bits(res.method, 2)
    w.bits(res.partOrder, 4)
    val nParts = 1 << res.partOrder
    val partLen = blockSize >> res.partOrder
    require(partLen > predOrder, "first partition would be non-positive")
    var base = 0
    var part = 0
    while (part < nParts) {
      val n = if (part == 0) partLen - predOrder else partLen
      val slice = residual.slice(base, base + n)
      val escBits = slice.foldLeft(0)((m, r) => math.max(m, signedBits(r)))
      // The raw-bits field is 5 bits wide, so escape partitions cap at
      // 31-bit residuals; past that the encoder falls back to Rice
      // (which has no magnitude limit) — a real encoder's choice.
      if (res.escapeSel(part) && escBits <= 31) {
        w.bits(escapeCode, paramBits)
        w.bits(escBits, 5)
        if (escBits > 0) slice.foreach(w.signed(_, escBits))
      } else {
        val maxU = slice.foldLeft(0L)((m, r) => math.max(m, zigzag(r)))
        var p = 0
        while ((maxU >> p) > 15 && p < escapeCode - 1) p += 1
        w.bits(p, paramBits)
        slice.foreach { r =>
          val u = zigzag(r)
          w.unary(u >>> p)
          if (p > 0) w.bits(u & ((1L << p) - 1), p)
        }
      }
      base += n
      part += 1
    }
  }

  /** Whole-stream assembly: fLaC + STREAMINFO (via
    * [[Multimodal.flacBytes]] — the independently verified header
    * writer) followed by the frame sequence. */
  def streamBytes(sampleRate: Int, channels: Int, bps: Int,
                  totalSamples: Long,
                  frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Multimodal.flacBytes(sampleRate, channels, bps, totalSamples))
    frames.foreach(out.write)
    out.toByteArray
  }

  // ------------------------------------------------------------------
  // Metadata blocks beyond STREAMINFO (RFC 9639 §8.3/§8.6/§8.8):
  // SEEKTABLE (big-endian 18-byte points), VORBIS_COMMENT (the format's
  // ONLY little-endian section — u32-LE length-prefixed UTF-8 strings),
  // PICTURE (big-endian lengths and dimensions).
  // ------------------------------------------------------------------

  final case class FlacPicture(picType: Int, mime: String, desc: String,
                               width: Int, height: Int, depth: Int,
                               colors: Int, dataLen: Int)

  final case class FlacTags(vendor: String, comments: Seq[(String, String)],
                            seekpoints: Seq[(Long, Long, Int)],
                            picture: Option[FlacPicture])

  private def le32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }
  private def be32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }

  def vorbisCommentBytes(vendor: String,
                         comments: Seq[(String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val vb = vendor.getBytes("UTF-8")
    le32(out, vb.length); out.write(vb)
    le32(out, comments.length)
    comments.foreach { case (k, v) =>
      val cb = s"$k=$v".getBytes("UTF-8")
      le32(out, cb.length); out.write(cb)
    }
    out.toByteArray
  }

  def seekTableBytes(points: Seq[(Long, Long, Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    points.foreach { case (sample, offset, n) =>
      (7 to 0 by -1).foreach(i => out.write(((sample >>> (8 * i)) & 0xff).toInt))
      (7 to 0 by -1).foreach(i => out.write(((offset >>> (8 * i)) & 0xff).toInt))
      out.write((n >> 8) & 0xff); out.write(n & 0xff)
    }
    out.toByteArray
  }

  def pictureBytes(p: FlacPicture, data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    be32(out, p.picType)
    val mb = p.mime.getBytes("US-ASCII")
    be32(out, mb.length); out.write(mb)
    val db = p.desc.getBytes("UTF-8")
    be32(out, db.length); out.write(db)
    be32(out, p.width); be32(out, p.height); be32(out, p.depth)
    be32(out, p.colors)
    be32(out, data.length); out.write(data)
    out.toByteArray
  }

  /** fLaC + STREAMINFO (via the verified [[Multimodal.flacBytes]]
    * packing, last-flag cleared) + the given (type, payload) blocks,
    * the final one carrying the last-flag. */
  def streamBytesWithMeta(sampleRate: Int, channels: Int, bps: Int,
                          totalSamples: Long,
                          blocks: Seq[(Int, Array[Byte])],
                          frames: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val head = Multimodal.flacBytes(sampleRate, channels, bps, totalSamples)
    if (blocks.nonEmpty) head(4) = (head(4) & 0x7f).toByte
    out.write(head)
    blocks.zipWithIndex.foreach { case ((typ, payload), i) =>
      val lastFlag = if (i == blocks.length - 1) 0x80 else 0x00
      out.write(lastFlag | typ)
      out.write((payload.length >> 16) & 0xff)
      out.write((payload.length >> 8) & 0xff)
      out.write(payload.length & 0xff)
      out.write(payload)
    }
    frames.foreach(out.write)
    out.toByteArray
  }

  /** Walk the metadata chain and parse VORBIS_COMMENT / SEEKTABLE /
    * PICTURE. Refuses (None) on truncated chains, comment lengths
    * overrunning the block, or malformed comment entries (no '='). */
  def parseTags(bytes: Array[Byte]): Option[FlacTags] = {
    if (bytes.length < 42 ||
        new String(bytes.slice(0, 4), "US-ASCII") != "fLaC") return None
    var p = 4
    var last = false
    var vendor = ""
    var comments = Seq.empty[(String, String)]
    var seekpoints = Seq.empty[(Long, Long, Int)]
    var picture: Option[FlacPicture] = None
    def rdLe32(d: Array[Byte], o: Int): Long =
      (d(o) & 0xffL) | ((d(o + 1) & 0xffL) << 8) |
        ((d(o + 2) & 0xffL) << 16) | ((d(o + 3) & 0xffL) << 24)
    def rdBe32(d: Array[Byte], o: Int): Long =
      ((d(o) & 0xffL) << 24) | ((d(o + 1) & 0xffL) << 16) |
        ((d(o + 2) & 0xffL) << 8) | (d(o + 3) & 0xffL)
    while (!last) {
      if (p + 4 > bytes.length) return None
      val hdr = bytes(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
        (bytes(p + 3) & 0xff)
      if (p + 4 + len > bytes.length) return None
      val d = bytes.slice(p + 4, p + 4 + len)
      typ match {
        case 4 => // VORBIS_COMMENT — little-endian lengths
          if (d.length < 8) return None
          val vLen = rdLe32(d, 0).toInt
          if (4 + vLen + 4 > d.length) return None
          vendor = new String(d, 4, vLen, "UTF-8")
          val n = rdLe32(d, 4 + vLen).toInt
          var o = 8 + vLen
          var i = 0
          val cs = Seq.newBuilder[(String, String)]
          while (i < n) {
            if (o + 4 > d.length) return None
            val cLen = rdLe32(d, o).toInt
            if (o + 4 + cLen > d.length) return None
            val s = new String(d, o + 4, cLen, "UTF-8")
            val eq = s.indexOf('=')
            if (eq < 0) return None
            cs += ((s.substring(0, eq), s.substring(eq + 1)))
            o += 4 + cLen
            i += 1
          }
          comments = cs.result()
        case 3 => // SEEKTABLE — big-endian 18-byte points
          if (d.length % 18 != 0) return None
          seekpoints = (0 until d.length / 18).map { i =>
            val o = i * 18
            var sample = 0L
            var off = 0L
            (0 until 8).foreach(j => sample = (sample << 8) | (d(o + j) & 0xffL))
            (0 until 8).foreach(j => off = (off << 8) | (d(o + 8 + j) & 0xffL))
            val n = ((d(o + 16) & 0xff) << 8) | (d(o + 17) & 0xff)
            (sample, off, n)
          }
        case 6 => // PICTURE — big-endian
          if (d.length < 32) return None
          val picType = rdBe32(d, 0).toInt
          val mLen = rdBe32(d, 4).toInt
          if (8 + mLen + 4 > d.length) return None
          val mime = new String(d, 8, mLen, "US-ASCII")
          var o = 8 + mLen
          val dLen = rdBe32(d, o).toInt
          if (o + 4 + dLen + 20 > d.length) return None
          val desc = new String(d, o + 4, dLen, "UTF-8")
          o += 4 + dLen
          val width = rdBe32(d, o).toInt
          val height = rdBe32(d, o + 4).toInt
          val depth = rdBe32(d, o + 8).toInt
          val colors = rdBe32(d, o + 12).toInt
          val dataLen = rdBe32(d, o + 16).toInt
          if (o + 20 + dataLen > d.length) return None
          picture = Some(FlacPicture(picType, mime, desc, width, height,
            depth, colors, dataLen))
        case _ => ()
      }
      p += 4 + len
    }
    Some(FlacTags(vendor, comments, seekpoints, picture))
  }

  // ------------------------------------------------------------------
  // Decode
  // ------------------------------------------------------------------

  final case class FrameInfo(index: Int, codedNumber: Long, blockSize: Int,
                             sampleRate: Int, chAssign: Int, bps: Int,
                             strategy: Int, subTypes: Array[Int],
                             wasted: Array[Int])

  /** samples = physical channels × blockSize (decorrelation undone). */
  final case class DecodedFrame(info: FrameInfo,
                                samples: Array[Array[Long]])

  /** Decode a full stream (metadata chain + frames). Refuses — with an
    * error class, never a silently-wrong result — on bad sync, reserved
    * codes, malformed coded numbers, CRC-8/CRC-16 mismatches, non-zero
    * alignment padding, truncation, or trailing garbage. */
  def decode(bytes: Array[Byte]): Either[String, Seq[DecodedFrame]] = {
    // metadata walk (same layout flacMeta parses; here we need the
    // frame-region offset and the STREAMINFO defaults)
    if (bytes.length < 42 ||
        new String(bytes.slice(0, 4), "US-ASCII") != "fLaC")
      return Left("magic")
    var p = 4
    var last = false
    var sRate = -1
    var sCh = -1
    var sBps = -1
    while (!last) {
      if (p + 4 > bytes.length) return Left("truncated")
      val hdr = bytes(p) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
        (bytes(p + 3) & 0xff)
      if (p + 4 + len > bytes.length) return Left("truncated")
      if (typ == 0 && len >= 34) {
        var acc = 0L
        val d = p + 4
        (0 until 8).foreach(i => acc = (acc << 8) | (bytes(d + 10 + i) & 0xffL))
        sRate = (acc >>> 44).toInt
        sCh = ((acc >>> 41) & 0x7).toInt + 1
        sBps = ((acc >>> 36) & 0x1f).toInt + 1
      }
      p += 4 + len
    }
    if (sRate <= 0) return Left("no-streaminfo")

    val frames = Seq.newBuilder[DecodedFrame]
    var idx = 0
    try {
      while (p < bytes.length) {
        decodeFrame(bytes, p, idx, sRate, sBps) match {
          case Right((f, next)) => frames += f; p = next; idx += 1
          case Left(err)        => return Left(err)
        }
      }
      Right(frames.result())
    } catch {
      case _: Bits.PastEnd => Left("truncated")
    }
  }

  /** The byte offset of a reader standing on a byte boundary. */
  private def bytePos(r: BitReader): Int = {
    require((r.pos & 7) == 0, "byte offset at a non-aligned position")
    (r.pos >> 3).toInt
  }

  private def decodeFrame(bytes: Array[Byte], start: Int, index: Int,
                          sRate: Int, sBps: Int)
      : Either[String, (DecodedFrame, Int)] = {
    val r = new BitReader(bytes, start)
    if (r.remaining < 40) return Left("truncated")
    if (r.long(8) != 0xffL) return Left("sync")
    val b2 = r.long(8)
    if ((b2 & 0xfc) != 0xf8) return Left("sync")
    if ((b2 & 0x02) != 0) return Left("reserved")
    val strategy = (b2 & 1).toInt
    val bsCode = r.long(4).toInt
    val rateCode = r.long(4).toInt
    val chAssign = r.long(4).toInt
    val bpsCode = r.long(3).toInt
    if (r.long(1) != 0) return Left("reserved")
    if (bsCode == 0 || rateCode == 15 || chAssign > 10) return Left("reserved")
    val codedNumber = readCodedNumber(r)
    if (codedNumber < 0) return Left("coded-number")
    val blockSize = bsCode match {
      case 6 => r.long(8).toInt + 1
      case 7 => r.long(16).toInt + 1
      case c => blockSizeOfCode(c)
    }
    val sampleRate = rateCode match {
      case 0  => sRate
      case 12 => r.long(8).toInt * 1000
      case 13 => r.long(16).toInt
      case 14 => r.long(16).toInt * 10
      case c  => rateOfCode(c)
    }
    val bps = bpsOfCode(bpsCode) match {
      case 0  => sBps
      case -1 => return Left("reserved")
      case v  => v
    }
    val headerEnd = bytePos(r)
    val wantCrc8 = r.long(8).toInt
    if (crc8(bytes, start, headerEnd) != wantCrc8) return Left("crc8")

    val nCh = if (chAssign <= 7) chAssign + 1 else 2
    val subTypes = new Array[Int](nCh)
    val wastedArr = new Array[Int](nCh)
    val enc = new Array[Array[Long]](nCh)
    var ch = 0
    while (ch < nCh) {
      val sideBit = chAssign match {
        case 8  => if (ch == 1) 1 else 0
        case 9  => if (ch == 0) 1 else 0
        case 10 => if (ch == 1) 1 else 0
        case _  => 0
      }
      readSubframe(r, blockSize, bps + sideBit) match {
        case Right((samples, typeCode, wasted)) =>
          enc(ch) = samples; subTypes(ch) = typeCode; wastedArr(ch) = wasted
        case Left(err) => return Left(err)
      }
      ch += 1
    }
    if (r.byteAlign() != 0) return Left("padding")
    val frameEnd = bytePos(r)
    val wantCrc16 = r.long(16).toInt
    if (crc16(bytes, start, frameEnd) != wantCrc16) return Left("crc16")

    // undo channel decorrelation
    val pcm: Array[Array[Long]] = chAssign match {
      case m if m <= 7 => enc
      case 8 =>
        Array(enc(0), Array.tabulate(blockSize)(t => enc(0)(t) - enc(1)(t)))
      case 9 =>
        Array(Array.tabulate(blockSize)(t => enc(1)(t) + enc(0)(t)), enc(1))
      case 10 =>
        val l = new Array[Long](blockSize)
        val rr = new Array[Long](blockSize)
        var t = 0
        while (t < blockSize) {
          val side = enc(1)(t)
          val mid2 = (enc(0)(t) << 1) | (side & 1L)
          l(t) = (mid2 + side) >> 1
          rr(t) = (mid2 - side) >> 1
          t += 1
        }
        Array(l, rr)
    }
    val info = FrameInfo(index, codedNumber, blockSize, sampleRate, chAssign,
      bps, strategy, subTypes, wastedArr)
    Right((DecodedFrame(info, pcm), bytePos(r))) // pos is already past CRC-16
  }

  private def readSubframe(r: BitReader, blockSize: Int, ebps: Int)
      : Either[String, (Array[Long], Int, Int)] = {
    if (r.bit() != 0) return Left("subframe-pad")
    val typeCode = r.long(6).toInt
    val wasted =
      if (r.bit() == 1) { val k = r.unary(); (k + 1).toInt } else 0
    val eb = ebps - wasted
    if (eb <= 0) return Left("wasted-range")
    val s = new Array[Long](blockSize)
    val decoded: Either[String, Unit] = typeCode match {
      case 0 =>
        val v = r.signed(eb)
        java.util.Arrays.fill(s, v)
        Right(())
      case 1 =>
        var t = 0
        while (t < blockSize) { s(t) = r.signed(eb); t += 1 }
        Right(())
      case tc if tc >= 8 && tc <= 12 =>
        val order = tc - 8
        var i = 0
        while (i < order) { s(i) = r.signed(eb); i += 1 }
        readResiduals(r, blockSize, order).map { residual =>
          var k = 0
          while (k < blockSize - order) {
            s(k + order) = fixedPredict(s, k + order, order) + residual(k)
            k += 1
          }
        }
      case tc if tc >= 32 =>
        val order = tc - 31
        var i = 0
        while (i < order) { s(i) = r.signed(eb); i += 1 }
        val precM1 = r.long(4).toInt
        if (precM1 == 15) return Left("lpc-precision")
        val precision = precM1 + 1
        val shift = r.signed(5)
        if (shift < 0) return Left("lpc-shift")
        val coefs = Array.fill(order)(r.signed(precision))
        readResiduals(r, blockSize, order).map { residual =>
          var k = 0
          while (k < blockSize - order) {
            s(k + order) =
              lpcPredict(s, k + order, coefs, shift.toInt) + residual(k)
            k += 1
          }
        }
      case _ => Left("subframe-type")
    }
    decoded match {
      case Left(err) => Left(err)
      case Right(_) =>
        if (wasted > 0) {
          var t = 0
          while (t < blockSize) { s(t) = s(t) << wasted; t += 1 }
        }
        Right((s, typeCode, wasted))
    }
  }

  private def readResiduals(r: BitReader, blockSize: Int, predOrder: Int)
      : Either[String, Array[Long]] = {
    val method = r.long(2).toInt
    if (method > 1) return Left("residual-method")
    val escapeCode = if (method == 0) 15 else 31
    val paramBits = if (method == 0) 4 else 5
    val partOrder = r.long(4).toInt
    if (blockSize % (1 << partOrder) != 0) return Left("partition")
    val partLen = blockSize >> partOrder
    if (partLen <= predOrder) return Left("partition")
    val residual = new Array[Long](blockSize - predOrder)
    var base = 0
    var part = 0
    while (part < (1 << partOrder)) {
      val n = if (part == 0) partLen - predOrder else partLen
      val param = r.long(paramBits).toInt
      if (param == escapeCode) {
        val nBits = r.long(5).toInt
        var k = 0
        while (k < n) { residual(base + k) = r.signed(nBits); k += 1 }
      } else {
        var k = 0
        while (k < n) {
          val q = r.unary()
          val low = if (param > 0) r.long(param) else 0L
          residual(base + k) = unzigzag((q << param) | low)
          k += 1
        }
      }
      base += n
      part += 1
    }
    Right(residual)
  }
}
