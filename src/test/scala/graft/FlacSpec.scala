package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{BitWriter, Flac, Multimodal}
import graft.pipeline.Flac._

/** FLAC payload codec: independent CRC check-vector pins, a
  * hand-assembled bit-layout pin (the second in-file expression of the
  * RFC 9639 frame layout), coded-number boundary round trips, the full
  * subframe × stereo × residual matrix as lossless round trips, and the
  * refusal fuzz (every bit flip in the frame region must refuse — CRC
  * coverage is total there; silent wrong PCM is structurally
  * impossible). */
class FlacSpec extends AnyFunSuite {

  // ---- CRC pins against the published check values ----
  // CRC-8 poly 0x07 init 0 ("CRC-8/SMBUS"): check("123456789") = 0xF4.
  // CRC-16 poly 0x8005 init 0 non-reflected ("CRC-16/UMTS a.k.a.
  // BUYPASS"): check("123456789") = 0xFEE8. These are independent
  // public vectors, not derived from this codec.

  private val checkBytes = "123456789".getBytes("US-ASCII")

  test("crc8 matches the CRC-8/SMBUS check value") {
    assert(Flac.crc8(checkBytes, 0, checkBytes.length) == 0xf4)
  }

  test("crc16 matches the CRC-16/UMTS check value") {
    assert(Flac.crc16(checkBytes, 0, checkBytes.length) == 0xfee8)
  }

  // ---- hand-assembled layout pin ----

  test("minimal constant mono frame has the hand-assembled byte layout") {
    // mono, bps 16 (code 100), rate 44100 (code 1001), blocksize 192
    // (code 0001), fixed strategy, frame number 0, CONSTANT value 5.
    val frame = Flac.frameBytes(
      Array(Array.fill(192)(5L)), chAssign = 0, bps = 16, sampleRate = 44100,
      FrameHeaderPlan(blockSizeCode = 1, rateCode = 9, bpsCode = 4,
        strategy = 0, codedNumber = 0L),
      Array(ChannelPlan(PlanConstant, 0, ResidualPlan(0, 0))))
    // Hand assembly straight from RFC 9639 §9.1:
    //   FF                            sync high byte
    //   F8                            111110 sync | 0 reserved | 0 fixed
    //   19                            0001 bs=192 | 1001 rate=44.1k
    //   08                            0000 mono | 100 bps16 | 0 reserved
    //   00                            coded frame number 0
    //   crc8 of the 5 header bytes
    //   00                            0 pad | 000000 CONSTANT | 0 wasted
    //   00 05                         16-bit constant value
    //   crc16 (2 bytes) of everything before it
    val hdr = Array[Byte](0xff.toByte, 0xf8.toByte, 0x19, 0x08, 0x00)
    val expected =
      hdr ++ Array[Byte](Flac.crc8(hdr, 0, 5).toByte, 0x00, 0x00, 0x05)
    val c16 = Flac.crc16(expected, 0, expected.length)
    val full = expected ++ Array[Byte]((c16 >> 8).toByte, c16.toByte)
    assert(frame.toSeq == full.toSeq)
  }

  test("rice-coded fixed-order-1 bits are the hand-assembled layout") {
    // mono, bps 8, blocksize 192, samples 0,1,2,...: order-1 residuals
    // are all 1 after the warmup. One partition, param forced to 0 by
    // the encoder's quotient rule (maxU = 2 → p stays 0 while 2>>0<=15).
    val frame = Flac.frameBytes(
      Array(Array.tabulate(192)(_.toLong)), chAssign = 0, bps = 8,
      sampleRate = 8000,
      FrameHeaderPlan(1, 4, 1, 0, 3L),
      Array(ChannelPlan(PlanFixed(1), 0, ResidualPlan(0, 0))))
    // header: FF F8 | 14 (bs 192, rate 8k=0100) | 02 (mono, bps8=001) | 03
    val hdr = Array[Byte](0xff.toByte, 0xf8.toByte, 0x14, 0x02, 0x03)
    val bits = new StringBuilder
    bits ++= "0" + "001001" + "0"      // pad, FIXED order 1, no wasted
    bits ++= "00000000"                // warmup sample 0, 8 bits
    bits ++= "00" + "0000"             // method 0, partition order 0
    bits ++= "0000"                    // rice param 0
    (1 until 192).foreach(_ => bits ++= "001") // zigzag(1)=2 unary: 2 zeros+1
    while (bits.length % 8 != 0) bits += '0'
    val body = hdr ++ Array(Flac.crc8(hdr, 0, 5).toByte) ++
      bits.toString.grouped(8).map(s => Integer.parseInt(s, 2).toByte).toArray
    val c16 = Flac.crc16(body, 0, body.length)
    assert(frame.toSeq == (body ++ Array[Byte]((c16 >> 8).toByte, c16.toByte)).toSeq)
  }

  // ---- coded number boundaries ----

  test("coded number round-trips at every byte-length boundary") {
    val vals = Seq(0L, 1L, 127L, 128L, 0x7ffL, 0x800L, 0xffffL, 0x10000L,
      0x1fffffL, 0x200000L, 0x3ffffffL, 0x4000000L, 0x7fffffffL,
      0x80000000L, (1L << 36) - 1)
    vals.foreach { v =>
      val w = new BitWriter
      Flac.writeCodedNumber(w, v)
      val bytes = w.toBytes
      // decode through a 1-frame-header-free reader: use the public
      // decode path indirectly via a frame round trip below; here pin
      // the byte lengths against the UTF-8 pattern spec.
      val expLen =
        if (v < 0x80L) 1
        else if (v < 0x800L) 2
        else if (v < 0x10000L) 3
        else if (v < 0x200000L) 4
        else if (v < 0x4000000L) 5
        else if (v < 0x80000000L) 6
        else 7
      assert(bytes.length == expLen, s"v=$v")
      // full round trip through a real frame header
      val frame = Flac.frameBytes(
        Array(Array.fill(192)(1L)), 0, 16, 44100,
        FrameHeaderPlan(1, 9, 4, 1, v),
        Array(ChannelPlan(PlanConstant, 0, ResidualPlan(0, 0))))
      val stream = Flac.streamBytes(44100, 1, 16, 192, Seq(frame))
      val Right(frames) = Flac.decode(stream)
      assert(frames.head.info.codedNumber == v)
    }
  }

  // ---- deterministic pseudo-PCM for the matrix tests ----

  /** Amplitude capped at 2^20 so fixed/LPC residuals stay Rice-sized at
    * every bps; full-scale field widths are pinned separately below. */
  private def pcmGen(seed: Int, bps: Int, n: Int): Array[Long] = {
    val amp = 1L << math.min(bps - 2, 20)
    Array.tabulate(n) { t =>
      val x = (seed * 37L + t * 13L + (t.toLong * t % 251) * 7 +
        ((seed + t) % 17) * 29)
      (x % amp) - amp / 2
    }
  }

  test("lossless round trip across the subframe x stereo x residual matrix") {
    val bs = 64
    for {
      chAssign <- Seq(0, 1, 8, 9, 10)
      subSel <- 0 to 3
      method <- 0 to 1
      partOrder <- 0 to 2
      bps <- Seq(8, 16, 24, 32)
    } {
      val nCh = if (chAssign == 0) 1 else 2
      val pcm = Array.tabulate(nCh) { ch =>
        if (subSel == 0 && chAssign <= 7)
          Array.fill(bs)((chAssign * 19 + ch * 7 - 31).toLong)
        else pcmGen(chAssign * 100 + subSel * 10 + ch, bps, bs)
      }
      val encCh = nCh
      val plans = Array.tabulate(encCh) { ch =>
        val sub: SubPlan = subSel match {
          case 0 if chAssign <= 7 => PlanConstant
          case 0 => PlanVerbatim
          case 1 => PlanVerbatim
          case 2 => PlanFixed((chAssign + ch) % 5)
          case 3 =>
            val order = 2 + (chAssign + ch) % 4
            PlanLpc(order, precision = 6 + ch, shift = 3 + ch,
              coefs = Array.tabulate(order)(j => (j * 5 - 7).toLong))
        }
        ChannelPlan(sub, 0,
          ResidualPlan(method, partOrder, p => (p + ch) % 3 == 2))
      }
      val frame = Flac.frameBytes(pcm, chAssign, bps, 48000,
        FrameHeaderPlan(6, 10, if (bps == 16) 4 else 0, 0, 7L), plans)
      val stream = Flac.streamBytes(48000, nCh, bps, bs, Seq(frame))
      Flac.decode(stream) match {
        case Right(frames) =>
          assert(frames.length == 1)
          val f = frames.head
          assert(f.info.blockSize == bs && f.info.chAssign == chAssign &&
            f.info.bps == bps)
          (0 until nCh).foreach { ch =>
            assert(f.samples(ch).toSeq == pcm(ch).toSeq,
              s"mode=$chAssign sub=$subSel m=$method po=$partOrder bps=$bps ch=$ch")
          }
        case Left(err) =>
          fail(s"refused: $err (mode=$chAssign sub=$subSel m=$method po=$partOrder bps=$bps)")
      }
    }
  }

  test("full-scale 32-bit samples round-trip, incl. the 33-bit side channel") {
    val bs = 16
    val l = Array.tabulate(bs)(t =>
      if (t % 2 == 0) Int.MaxValue.toLong else Int.MinValue.toLong)
    val r = l.map(v => -v - 1) // side = l - r spans ±(2^32-1): 33 bits
    for (mode <- Seq(8, 9, 10)) {
      val frame = Flac.frameBytes(Array(l, r), mode, 32, 44100,
        FrameHeaderPlan(6, 9, 7, 0, 0),
        Array(ChannelPlan(PlanVerbatim, 0, ResidualPlan(0, 0)),
              ChannelPlan(PlanVerbatim, 0, ResidualPlan(0, 0))))
      val Right(fs) = Flac.decode(Flac.streamBytes(44100, 2, 32, bs, Seq(frame)))
      assert(fs.head.samples(0).toSeq == l.toSeq, s"mode=$mode L")
      assert(fs.head.samples(1).toSeq == r.toSeq, s"mode=$mode R")
    }
    // full-scale CONSTANT at 32 bits
    val c = Flac.frameBytes(Array(Array.fill(bs)(Int.MinValue.toLong)), 0, 32,
      44100, FrameHeaderPlan(6, 9, 7, 0, 1),
      Array(ChannelPlan(PlanConstant, 0, ResidualPlan(0, 0))))
    val Right(cf) = Flac.decode(Flac.streamBytes(44100, 1, 32, bs, Seq(c)))
    assert(cf.head.samples(0).forall(_ == Int.MinValue.toLong))
  }

  test("wasted bits round-trip and are reported") {
    val bs = 32
    for (w <- 1 to 3) {
      val base = pcmGen(w, 12, bs).map(_ << w)
      val frame = Flac.frameBytes(Array(base), 0, 16, 44100,
        FrameHeaderPlan(6, 9, 4, 0, 0),
        Array(ChannelPlan(PlanFixed(2), w, ResidualPlan(0, 0))))
      val Right(fs) = Flac.decode(Flac.streamBytes(44100, 1, 16, bs, Seq(frame)))
      assert(fs.head.samples(0).toSeq == base.toSeq)
      assert(fs.head.info.wasted(0) == w)
    }
  }

  test("explicit blocksize, rate-field, and from-streaminfo paths decode") {
    // 16-bit explicit blocksize + rate in Hz (code 13) + bps from streaminfo
    val bs = 300
    val pcm = pcmGen(5, 20, bs)
    val frame = Flac.frameBytes(Array(pcm), 0, 20, 22050,
      FrameHeaderPlan(7, 13, 0, 0, 2), // 16-bit bs, 16-bit rate, bps<-streaminfo
      Array(ChannelPlan(PlanVerbatim, 0, ResidualPlan(0, 0))))
    val Right(fs) = Flac.decode(Flac.streamBytes(22050, 1, 20, bs, Seq(frame)))
    assert(fs.head.info.blockSize == 300 && fs.head.info.sampleRate == 22050 &&
      fs.head.info.bps == 20)
    assert(fs.head.samples(0).toSeq == pcm.toSeq)
    // kHz (code 12) and tens-of-Hz (code 14) fields
    val f2 = Flac.frameBytes(Array(pcm), 0, 20, 8000,
      FrameHeaderPlan(7, 12, 5, 0, 2),
      Array(ChannelPlan(PlanVerbatim, 0, ResidualPlan(0, 0))))
    assert(Flac.decode(Flac.streamBytes(8000, 1, 20, bs, Seq(f2)))
      .toOption.get.head.info.sampleRate == 8000)
    val f3 = Flac.frameBytes(Array(pcm), 0, 20, 44100,
      FrameHeaderPlan(7, 14, 5, 0, 2),
      Array(ChannelPlan(PlanVerbatim, 0, ResidualPlan(0, 0))))
    assert(Flac.decode(Flac.streamBytes(44100, 1, 20, bs, Seq(f3)))
      .toOption.get.head.info.sampleRate == 44100)
  }

  test("zero-bit escape encodes an all-zero residual run") {
    val bs = 48
    val const = Array.fill(bs)(123L)
    // order-1 fixed on a constant signal: all residuals 0; escape with
    // n=0 writes NOTHING for the partition bodies.
    val frame = Flac.frameBytes(Array(const), 0, 16, 44100,
      FrameHeaderPlan(6, 9, 4, 0, 0),
      Array(ChannelPlan(PlanFixed(1), 0, ResidualPlan(0, 1, _ => true))))
    val Right(fs) = Flac.decode(Flac.streamBytes(44100, 1, 16, bs, Seq(frame)))
    assert(fs.head.samples(0).toSeq == const.toSeq)
  }

  test("multi-frame streams decode in sequence with frame indices") {
    val bs = 64
    val frames = (0 until 5).map { f =>
      Flac.frameBytes(Array(pcmGen(f, 16, bs)), 0, 16, 44100,
        FrameHeaderPlan(6, 9, 4, 0, f.toLong),
        Array(ChannelPlan(PlanFixed(2), 0, ResidualPlan(f % 2, f % 3))))
    }
    val Right(fs) = Flac.decode(Flac.streamBytes(44100, 1, 16, 5L * bs, frames))
    assert(fs.map(_.info.codedNumber) == (0 until 5).map(_.toLong))
    fs.zipWithIndex.foreach { case (f, i) =>
      assert(f.samples(0).toSeq == pcmGen(i, 16, bs).toSeq)
    }
  }

  // ---- refusal fuzz: no silent wrong PCM ----

  test("every bit flip in the frame region refuses") {
    val bs = 64
    val frame = Flac.frameBytes(
      Array(pcmGen(1, 16, bs), pcmGen(2, 16, bs)), 10, 16, 44100,
      FrameHeaderPlan(6, 9, 4, 0, 11),
      Array(
        ChannelPlan(PlanLpc(3, 7, 4, Array(3L, -2L, 1L)), 0,
          ResidualPlan(0, 1)),
        ChannelPlan(PlanFixed(2), 0, ResidualPlan(1, 2, _ == 1))))
    val stream = Flac.streamBytes(44100, 2, 16, bs, Seq(frame))
    val frameStart = stream.length - frame.length
    val baseline = Flac.decode(stream)
    assert(baseline.isRight)
    var flips = 0
    (frameStart * 8 until stream.length * 8).foreach { bitPos =>
      val mutated = stream.clone
      mutated(bitPos / 8) = (mutated(bitPos / 8) ^ (1 << (7 - bitPos % 8))).toByte
      Flac.decode(mutated) match {
        case Left(_) => flips += 1
        case Right(_) =>
          fail(s"bit flip at $bitPos decoded without refusal")
      }
    }
    assert(flips == frame.length * 8)
  }

  test("every truncation of the frame region refuses") {
    val bs = 64
    val frame = Flac.frameBytes(Array(pcmGen(3, 16, bs)), 0, 16, 44100,
      FrameHeaderPlan(6, 9, 4, 0, 0),
      Array(ChannelPlan(PlanFixed(3), 0, ResidualPlan(0, 0))))
    val stream = Flac.streamBytes(44100, 1, 16, bs, Seq(frame))
    val frameStart = stream.length - frame.length
    // cut == frameStart is a legal zero-frame stream; every cut INSIDE
    // the frame must refuse.
    assert(Flac.decode(stream.take(frameStart)).exists(_.isEmpty))
    (frameStart + 1 until stream.length - 1).foreach { cut =>
      assert(Flac.decode(stream.take(cut)).isLeft, s"cut=$cut")
    }
  }

  test("vorbis-comment block bytes are little-endian (hand-assembled pin)") {
    // The one little-endian section of the format: u32-LE lengths.
    val block = Flac.vorbisCommentBytes("AB", Seq("K" -> "V"))
    val expected = Array[Byte](
      2, 0, 0, 0, 'A', 'B',        // vendor length LE + vendor
      1, 0, 0, 0,                  // comment count LE
      3, 0, 0, 0, 'K', '=', 'V')   // comment length LE + "K=V"
    assert(block.toSeq == expected.toSeq)
  }

  test("tags round-trip through the metadata chain, incl. non-ASCII UTF-8") {
    val pic = Flac.FlacPicture(3, "image/png", "cover é", 32, 48, 24, 0, 5)
    val stream = Flac.streamBytesWithMeta(44100, 2, 16, 0L,
      Seq(4 -> Flac.vorbisCommentBytes("vnd", Seq("TITLE" -> "Trâck 1",
            "ARTIST" -> "Å")),
          3 -> Flac.seekTableBytes(Seq((0L, 10L, 4096), (4096L, 99L, 4096))),
          6 -> Flac.pictureBytes(pic, Array.fill(5)(7.toByte)),
          1 -> Array.fill(4)(0.toByte))) // PADDING is skipped, not refused
    val tags = Flac.parseTags(stream).get
    assert(tags.vendor == "vnd")
    assert(tags.comments == Seq("TITLE" -> "Trâck 1", "ARTIST" -> "Å"))
    assert(tags.seekpoints == Seq((0L, 10L, 4096), (4096L, 99L, 4096)))
    assert(tags.picture.contains(pic))
    // frames still decode when tags are present
    val pcm = pcmGen(9, 16, 64)
    val frame = Flac.frameBytes(Array(pcm), 0, 16, 44100,
      FrameHeaderPlan(6, 9, 4, 0, 0),
      Array(ChannelPlan(PlanFixed(2), 0, ResidualPlan(0, 0))))
    val full = Flac.streamBytesWithMeta(44100, 1, 16, 64L,
      Seq(4 -> Flac.vorbisCommentBytes("v", Nil)), Seq(frame))
    assert(Flac.decode(full).toOption.get.head.samples(0).toSeq == pcm.toSeq)
  }

  test("malformed tag blocks refuse") {
    val good = Flac.streamBytesWithMeta(44100, 2, 16, 0L,
      Seq(4 -> Flac.vorbisCommentBytes("v", Seq("A" -> "B"))))
    assert(Flac.parseTags(good).isDefined)
    // comment length overrunning its block
    val bad = good.clone
    bad(good.length - 7) = 0x7f // the LE low byte of the "A=B" length
    assert(Flac.parseTags(bad).isEmpty)
    // comment without '='
    val noEq = Flac.streamBytesWithMeta(44100, 2, 16, 0L,
      Seq(4 -> Flac.vorbisCommentBytes("v", Seq("AB" -> ""))))
    assert(Flac.parseTags(noEq).isDefined) // "AB=" is legal
    // claims one comment, provides none (count field is the last data)
    val raw = Array[Byte](1, 0, 0, 0, 'v', 1, 0, 0, 0)
    assert(Flac.parseTags(Flac.streamBytesWithMeta(44100, 2, 16, 0L,
      Seq(4 -> raw))).isEmpty)
    // seektable not a multiple of 18
    assert(Flac.parseTags(Flac.streamBytesWithMeta(44100, 2, 16, 0L,
      Seq(3 -> Array.fill(17)(0.toByte)))).isEmpty)
  }

  test("streaminfo fields flow into codes 0 and agree with flacMeta") {
    val stream = Flac.streamBytes(96000, 2, 24, 1000, Nil)
    val meta = Multimodal.flacMeta(stream)
    assert(meta.exists(m => m._1.sampleRate == 96000 && m._1.channels == 2 &&
      m._1.bitsPerSample == 24))
  }
}
