package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Aac, AudioDispatch, Flac, L3IsoHuff, Multimodal}
import graft.pipeline.Flac._

/** Byte-identity pins for the codec seam. SHA-256 digests of every
  * generator's output at fixed seeds, and of each decoder's rendered
  * result on those streams and on [[CodecFuzzSpec]]'s seeded random
  * blobs, truncations and single-byte corruptions. A change to bit
  * order, field widths, refusal points or decoded values moves a digest;
  * a pure refactor of the bit I/O moves none. */
class CodecGoldenSpec extends AnyFunSuite {
  import CodecGoldenSpec._

  private def check(got: Seq[(String, String)],
                    want: Map[String, String]): Unit = {
    val diff = got.filter { case (k, d) => !want.get(k).contains(d) }
    assert(got.map(_._1).toSet == want.keySet && diff.isEmpty,
      diff.map { case (k, d) => s"""\n    "$k" -> "$d",""" }.mkString)
  }

  test("generator output is byte-identical to the pinned digests") {
    check(streams.map { case (k, b) => k -> sha(b) }, GeneratorDigests)
  }

  test("Layer III generators over seeds 0-23 and 1-4 frames match the pinned digests") {
    check(layer3Variants.map { case (k, gen) =>
      k -> sha((for (seed <- 0L until 24L; n <- 1 to 4) yield gen(seed, n))
        .flatten.toArray)
    }, Layer3SweepDigests)
  }

  test("decoded results on the generator streams match the pinned digests") {
    check(decoders.map { case (name, fn) =>
      name -> sha(streams.map { case (k, b) => k + "=" + outcome(fn, b) }
        .mkString("\n"))
    }, DecodeDigests)
  }

  test("decoded results on fuzzed streams match the pinned digests") {
    val rnd = new scala.util.Random(17)
    val blobs = CodecFuzzSpec.randomBlobs(rnd)
    val fuzzDecoders = CodecFuzzSpec.decoders
    val fuzzStreams = CodecFuzzSpec.validStreams
    val got = fuzzDecoders.flatMap { case (name, fn) =>
      Seq(s"$name/random" -> sha(blobs.map(outcome(fn, _)).mkString("\n")),
        s"$name/truncation" -> sha((for (v <- fuzzStreams;
          cut <- CodecFuzzSpec.cuts(v)) yield outcome(fn, v.take(cut)))
          .mkString("\n")))
    } ++ fuzzDecoders.map { case (name, fn) =>
      // the corruption sweep draws from `rnd` in CodecFuzzSpec's order
      s"$name/corruption" -> sha((for (v <- fuzzStreams; _ <- 0 until 8)
        yield outcome(fn, CodecFuzzSpec.corrupt(v, rnd))).mkString("\n"))
    }
    // the codec-only decoders over every generator stream's malformed forms
    val rnd2 = new scala.util.Random(17)
    val more = decoders.map { case (name, fn) =>
      s"$name/malformed" -> sha((for ((_, v) <- streams;
        b <- CodecFuzzSpec.cuts(v).map(v.take(_)) ++
          (0 until 3).map(_ => CodecFuzzSpec.corrupt(v, rnd2)))
        yield outcome(fn, b)).mkString("\n"))
    }
    check(got ++ more, FuzzDigests)
  }
}

object CodecGoldenSpec {

  def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  def sha(s: String): String = sha(s.getBytes("UTF-8"))

  /** A deterministic deep rendering: arrays and collections by element
    * (never by identity hash), maps sorted, products by field. */
  def render(x: Any): String = x match {
    case null                          => "null"
    case a: Array[_]                   => a.iterator.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, v) => render(k) + "->" + render(v) }
        .sorted.mkString("{", ",", "}")
    case s: Iterable[_]                => s.iterator.map(render).mkString("[", ",", "]")
    case p: Product if p.productArity > 0 =>
      p.productIterator.map(render).mkString(p.productPrefix + "(", ",", ")")
    case other                         => other.toString
  }

  /** The rendered result, or the exception class when a decoder throws. */
  def outcome(fn: Array[Byte] => Any, b: Array[Byte]): String =
    try render(fn(b)) catch { case e: Throwable => "threw " + e.getClass.getName }

  private val loadedTables =
    L3IsoHuff.parse(L3IsoHuff.synthLoadFileText(Seq((13, 0), (24, 4))))

  private def pcmGen(seed: Int, bps: Int, n: Int): Array[Long] = {
    val amp = 1L << math.min(bps - 2, 20)
    Array.tabulate(n) { t =>
      val x = seed * 37L + t * 13L + (t.toLong * t % 251) * 7 +
        ((seed + t) % 17) * 29
      (x % amp) - amp / 2
    }
  }

  private def flacFrame(chAssign: Int, subSel: Int, method: Int,
                        partOrder: Int, bps: Int): Array[Byte] = {
    val nCh = if (chAssign <= 7) chAssign + 1 else 2
    def wasted(ch: Int) = if (subSel == 1 && chAssign <= 7) ch % 2 else 0
    val pcm = Array.tabulate(nCh) { ch =>
      val s = pcmGen(chAssign * 100 + subSel * 10 + ch, bps, 64)
      if (subSel == 0) Array.fill(64)(s(0))
      else s.map(x => (x >> wasted(ch)) << wasted(ch))
    }
    val plans = Array.tabulate(nCh) { ch =>
      val sub: SubPlan = subSel match {
        case 0 => PlanConstant
        case 1 => PlanVerbatim
        case 2 => PlanFixed((chAssign + ch) % 5)
        case _ =>
          val order = 2 + (chAssign + ch) % 4
          PlanLpc(order, precision = 6 + ch, shift = 3 + ch,
            coefs = Array.tabulate(order)(j => (j * 5 - 7).toLong))
      }
      ChannelPlan(sub, wasted(ch),
        ResidualPlan(method, partOrder, p => (p + ch) % 3 == 2))
    }
    Flac.frameBytes(pcm, chAssign, bps, 48000,
      FrameHeaderPlan(6, 10, if (bps == 16) 4 else 0, 0, 7L), plans)
  }

  private def dcBlock(v: Int): Array[Int] = {
    val c = new Array[Int](64); c(0) = 8 * (v - 128); c
  }

  private def acBlock(b: Int, c: Int): Array[Int] = {
    val z = new Array[Int](64)
    z(0) = ((b * 37 + c * 191) % 256) - 128
    if (b % 3 == 0) z(2) = 7 - (b % 5) * 3
    if (b % 4 == 1) { z(6) = 5; z(30) = -9 }
    if (b % 2 == 0) z(63) = b - 3
    z
  }

  /** Every generator of the codec seam, at fixed seeds. */
  lazy val streams: Seq[(String, Array[Byte])] = {
    val M = Multimodal
    val pix = Array.tabulate(8 * 6)(i => ((i * 7) % 16).toByte)
    Seq(
      "mp3Bytes" -> M.mp3Bytes(3),
      "mp3Bytes/id3/mpeg2" -> M.mp3Bytes(2, id3Pad = 20, mpeg2 = true),
      "mp3BytesXing/0" -> M.mp3BytesXing(0, 3),
      "mp3BytesXing/1" -> M.mp3BytesXing(1, 3),
      "mp3BytesFree" -> M.mp3BytesFree(3, id3Pad = 10),
      "id3v2Bytes/3" -> M.id3v2Bytes(3),
      "id3v2Bytes/4" -> M.id3v2Bytes(4),
      "aacBytes" -> M.aacBytes(3, id3Pad = 20, rdb = 1),
      "aacBytes/stereo" -> M.aacBytes(2, channels = 2),
      "wavBytes" -> M.wavBytes(22050, 2, 16,
        Array.tabulate(80)(i => (i * 13).toByte)),
      "bmpBytes" -> M.bmpBytes(8, 8, Array.tabulate(8 * 8 * 3)(i => i.toByte)),
      "bmpBytesRle4" -> M.bmpBytesRle4(8, 6, pix),
      "bmpBytesRle8" -> M.bmpBytesRle8(8, 6, pix),
      "tiffBytes/le" -> M.tiffBytes(4, 3, 3, 8, 2, littleEndian = true),
      "tiffBytes/be" -> M.tiffBytes(4, 3, 1, 16, 1, littleEndian = false),
      "webpBytes/VP8" -> M.webpBytes(30, 20, "VP8 "),
      "webpBytes/VP8L" -> M.webpBytes(30, 20, "VP8L", alpha = true),
      "webpBytes/VP8X" -> M.webpBytes(30, 20, "VP8X", alpha = true),
      "flacBytes" -> M.flacBytes(44100, 2, 16, 1000L, extraBlocks = 1),
      "layer1Bytes/3" -> M.layer1Bytes(3, 2),
      "layer1Bytes/7" -> M.layer1Bytes(7, 3),
      "layer2Bytes/3" -> M.layer2Bytes(3, 2),
      "layer2Bytes/7" -> M.layer2Bytes(7, 3),
      "layer3Bytes/3" -> M.layer3Bytes(3, 2),
      "layer3Bytes/8" -> M.layer3Bytes(8, 3),
      "layer3BytesFull" -> M.layer3BytesFull(3, 3),
      "layer3BytesFull/crc" -> M.layer3BytesFull(4, 2, crc = true),
      "layer3ShortBytes" -> M.layer3ShortBytes(3, 2),
      "layer3StereoShortBytes" -> M.layer3StereoShortBytes(3, 2),
      "layer3StereoShortBytes/is" ->
        M.layer3StereoShortBytes(3, 2, intensity = true),
      "layer3MixedBytes" -> M.layer3MixedBytes(3, 2),
      "layer3MixedStereoBytes" -> M.layer3MixedStereoBytes(3, 2),
      "layer3MixedStereoBytes/is" ->
        M.layer3MixedStereoBytes(3, 2, intensity = true),
      "layer3LsfBytes" -> M.layer3LsfBytes(3, 2),
      "layer3LsfBytes/v25" -> M.layer3LsfBytes(3, 2, v25 = true),
      "layer3LsfShortBytes" -> M.layer3LsfShortBytes(3, 2),
      "layer3LsfShortBytes/mixed" -> M.layer3LsfShortBytes(3, 2, mixed = true),
      "layer3LsfIntensityBytes" -> M.layer3LsfIntensityBytes(3, 2),
      "layer3LsfIntensityBytes/short" ->
        M.layer3LsfIntensityBytes(3, 2, shortBlocks = true),
      "layer3StartStopBytes" -> M.layer3StartStopBytes(3, 2),
      "layer3LinbitsBytes" -> M.layer3LinbitsBytes(3, 2),
      "layer3HuffRealBytes" -> M.layer3HuffRealBytes(3, 2),
      "layer3Huff12Bytes" -> M.layer3Huff12Bytes(3, 2),
      "layer3HuffLoadBytes" -> M.layer3HuffLoadBytes(4, 2, 13, 24,
        L3IsoHuff.synthLoadEncode, 4),
      "layer3Bytes44k" -> M.layer3Bytes44k(3, 2),
      "layer3Bytes44k/sr32" -> M.layer3Bytes44k(3, 2, sr32 = true),
      "layer3StereoBytes" -> M.layer3StereoBytes(3, 2),
      "layer3StereoBytes/is" -> M.layer3StereoBytes(3, 2, intensity = true),
      "layer3StereoBytes/is67" ->
        M.layer3StereoBytes(3, 2, intensity = true, isPos67 = true),
      "mpeg1IFrameBytes" -> M.mpeg1IFrameBytes(3, nPictures = 2),
      "mpeg1IFrameBytes/48x32" -> M.mpeg1IFrameBytes(5, 48, 32),
      "mpeg1IPBytes" -> M.mpeg1IPBytes(3),
      "mpeg1IPBytes/B" -> M.mpeg1IPBytes(3, withB = true),
      "mpeg1SliceBytes" -> M.mpeg1SliceBytes(3),
      "mpeg1SliceBytes/midRow" -> M.mpeg1SliceBytes(3, midRow = true),
      "mpeg1DBytes" -> M.mpeg1DBytes(3, 2),
      "mpeg1PResidualBytes" -> M.mpeg1PResidualBytes(3),
      "mpeg1PResidualBytes/B" -> M.mpeg1PResidualBytes(3, withB = true),
      "mpeg1PResidualBytes/Bq" ->
        M.mpeg1PResidualBytes(3, withB = true, bQuant = true),
      "mpeg1PResidualBytes/fcode2" -> M.mpeg1PResidualBytes(3, fcode2 = true),
      "mpeg1PResidualBytes/big" -> M.mpeg1PResidualBytes(3, bigMotion = true),
      "mp4Bytes" -> M.mp4Bytes(9000L, 600, 64, 48, "avc1", withAudio = true,
        v1 = false),
      "aviBytes" -> M.aviBytes(40000, 5, 64, 48, withAudio = true),
      "pngBytes" -> M.pngBytes(4, 3, 3, Array.tabulate(36)(i => (i * 9).toByte),
        filterOf = y => y % 5),
      "pngBytes/interlaced" -> M.pngBytes(5, 5, 1,
        Array.tabulate(25)(i => (i * 11).toByte), interlaced = true),
      "pngBytesPalette" -> M.pngBytesPalette(4, 3,
        Array.tabulate(12)(i => (i % 5).toByte)),
      "pngBytes16" -> M.pngBytes16(3, 2, 3, Array.tabulate(18)(i => i * 3631)),
      "jpegBytes" -> M.jpegBytes(16, 16, Array(10, 250, 0, 131)),
      "jpegBytesFromCoefs" -> M.jpegBytesFromCoefs(16, 8,
        Array(acBlock(0, 0), acBlock(1, 0))),
      "jpegBytesInterleaved" -> M.jpegBytesInterleaved(24, 16,
        Array.tabulate(6)(m => Array(dcBlock(20 * m + 10),
          dcBlock(200 - 13 * m), dcBlock(7 * m)))),
      "jpegBytesInterleaved/rst" -> M.jpegBytesInterleaved(16, 16,
        Array.tabulate(4)(m => Array(acBlock(m, 0))), restartInterval = 1),
      "jpegBytesSampled" -> M.jpegBytesSampled(32, 24,
        Array((2, 2), (1, 1), (1, 1)),
        Array.tabulate(4)(m => Array(Array.tabulate(4)(k => acBlock(m * 4 + k, 0)),
          Array(dcBlock(128)), Array(acBlock(m, 2))))),
      "jpegBytesProgressive/1" -> M.jpegBytesProgressive(32, 24,
        Array(Array.tabulate(12)(b => acBlock(b, 0)))),
      "jpegBytesProgressive/3" -> M.jpegBytesProgressive(16, 16,
        Array.tabulate(3)(c => Array.tabulate(4)(b => acBlock(b, c)))),
      "oggBytes" -> M.oggBytes("opus", 2, 48000, 312, 3, 960L,
        oggVendor = "v", oggComments = Seq("T" -> "x")),
      "gifBytes" -> M.gifBytes(8, 6, pix, withGce = true, localTable = true),
      "tarBytes" -> M.tarBytes(Seq("a.txt" -> "hello".getBytes("UTF-8"))),
      "aacLcBytes/rdb" -> Aac.aacLcBytes(5, 4, "cycle", rdbGroup = 2)) ++
    Seq("long", "short", "cycle", "ms", "is", "pulse", "lfe", "tns", "pns",
        "pns2", "tns_short").flatMap(mode => Seq(2L, 5L).map(id =>
      s"aacLcBytes/$mode/$id" -> Aac.aacLcBytes(id, 2, mode))) ++
    (for (chAssign <- Seq(0, 2, 8, 9, 10); subSel <- 0 to 3;
          method <- 0 to 1; bps <- Seq(8, 16, 24)) yield {
      val nCh = if (chAssign <= 7) chAssign + 1 else 2
      s"flac/$chAssign/$subSel/$method/$bps" -> Flac.streamBytes(48000, nCh,
        bps, 64, Seq(flacFrame(chAssign, subSel, method, (subSel + method) % 3,
          bps)))
    }) ++ Seq(
      "flac/meta" -> Flac.streamBytesWithMeta(44100, 2, 16, 0L,
        Seq(4 -> Flac.vorbisCommentBytes("vnd", Seq("TITLE" -> "Trâck 1")),
          3 -> Flac.seekTableBytes(Seq((0L, 10L, 4096))),
          6 -> Flac.pictureBytes(
            Flac.FlacPicture(3, "image/png", "cover", 32, 48, 24, 0, 5),
            Array.fill(5)(7.toByte)),
          1 -> Array.fill(4)(0.toByte)),
        Seq(flacFrame(8, 2, 0, 1, 16))),
      "flac/codedNumber" -> Flac.streamBytes(44100, 1, 16, 192,
        Seq(Flac.frameBytes(Array(Array.fill(192)(1L)), 0, 16, 44100,
          FrameHeaderPlan(1, 9, 4, 1, 0x7fffffffL),
          Array(ChannelPlan(PlanConstant, 0, ResidualPlan(0, 0)))))))
  }

  /** Every Layer III generator variant of [[streams]], as a function of
    * seed and frame count. */
  val layer3Variants: Seq[(String, (Long, Int) => Array[Byte])] = {
    val M = Multimodal
    Seq(
      "layer3Bytes" -> (M.layer3Bytes(_, _)),
      "layer3BytesFull" -> (M.layer3BytesFull(_, _)),
      "layer3BytesFull/crc" -> (M.layer3BytesFull(_, _, crc = true)),
      "layer3ShortBytes" -> (M.layer3ShortBytes(_, _)),
      "layer3StereoShortBytes" -> (M.layer3StereoShortBytes(_, _)),
      "layer3StereoShortBytes/is" ->
        (M.layer3StereoShortBytes(_, _, intensity = true)),
      "layer3MixedBytes" -> (M.layer3MixedBytes(_, _)),
      "layer3MixedStereoBytes" -> (M.layer3MixedStereoBytes(_, _)),
      "layer3MixedStereoBytes/is" ->
        (M.layer3MixedStereoBytes(_, _, intensity = true)),
      "layer3LsfBytes" -> (M.layer3LsfBytes(_, _)),
      "layer3LsfBytes/v25" -> (M.layer3LsfBytes(_, _, v25 = true)),
      "layer3LsfShortBytes" -> (M.layer3LsfShortBytes(_, _)),
      "layer3LsfShortBytes/mixed" -> (M.layer3LsfShortBytes(_, _, mixed = true)),
      "layer3LsfIntensityBytes" -> (M.layer3LsfIntensityBytes(_, _)),
      "layer3LsfIntensityBytes/short" ->
        (M.layer3LsfIntensityBytes(_, _, shortBlocks = true)),
      "layer3StartStopBytes" -> (M.layer3StartStopBytes(_, _)),
      "layer3LinbitsBytes" -> (M.layer3LinbitsBytes(_, _)),
      "layer3HuffRealBytes" -> (M.layer3HuffRealBytes(_, _)),
      "layer3Huff12Bytes" -> (M.layer3Huff12Bytes(_, _)),
      "layer3HuffLoadBytes" -> (M.layer3HuffLoadBytes(_, _, 13, 24,
        L3IsoHuff.synthLoadEncode, 4)),
      "layer3Bytes44k" -> (M.layer3Bytes44k(_, _)),
      "layer3Bytes44k/sr32" -> (M.layer3Bytes44k(_, _, sr32 = true)),
      "layer3StereoBytes" -> (M.layer3StereoBytes(_, _)),
      "layer3StereoBytes/is" -> (M.layer3StereoBytes(_, _, intensity = true)),
      "layer3StereoBytes/is67" ->
        (M.layer3StereoBytes(_, _, intensity = true, isPos67 = true)))
  }

  /** The codec-seam decoders that read bit fields, plus the dispatcher. */
  val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "layer1Decode" -> (Multimodal.layer1Decode(_)),
    "layer2Decode" -> (Multimodal.layer2Decode(_)),
    "layer3Decode" -> (Multimodal.layer3Decode(_)),
    "layer3DecodeFull" -> (Multimodal.layer3DecodeFull(_)),
    "layer3DecodeFullSynth" -> ((b: Array[Byte]) =>
      Multimodal.layer3DecodeFull(b, extraTables = loadedTables,
        allowSyntheticGeometry = true)),
    "mpegSubbandStats" -> (Multimodal.mpegSubbandStats(_)),
    "mpeg1IFrameDecode" -> (Multimodal.mpeg1IFrameDecode(_)),
    "mpeg1IPDecode" -> (Multimodal.mpeg1IPDecode(_)),
    "mpeg1FrameOffsets" -> (Multimodal.mpeg1FrameOffsets(_)),
    "jpegChannelStats" -> (Multimodal.jpegChannelStats(_)),
    "aacLcDecode" -> ((b: Array[Byte]) => Aac.aacLcDecode(b,
      allowSyntheticBooks = true, allowSyntheticGeometry = true)),
    "flacDecode" -> (Flac.decode(_)),
    "flacParseTags" -> (Flac.parseTags(_)),
    "dispatch" -> ((b: Array[Byte]) =>
      AudioDispatch.dispatch(b, allowSyntheticAac = true)))

  // Recorded at the commit before the Layer III generators moved onto
  // one stream writer.
  val Layer3SweepDigests: Map[String, String] = Map(
    "layer3Bytes" ->
      "68aa3690d5658c10bd443f70a55621a63e72ec95afbef3b6cb4f0f7653687a09",
    "layer3BytesFull" ->
      "5a703d7105246ae2f061712edbb1af656eb322e6f3149a975fd46ee5b1b08000",
    "layer3BytesFull/crc" ->
      "7a8bd49942772a3f889c01646378f16b39ad2f91aa1e47a906b7b6771ff562f6",
    "layer3ShortBytes" ->
      "fb19564d43be882ee0a57d78600d4d55a6423f7dcadf12c610d67fa719d963ce",
    "layer3StereoShortBytes" ->
      "9e7eaa6b5d00fc90ea91be2e83a401fc2c2feb2c9217e70a8cb5cdf7f04f9b0e",
    "layer3StereoShortBytes/is" ->
      "0065cff416c6700fa355951d07942bfe329661f66d7efb1b61fa47c53dc6389e",
    "layer3MixedBytes" ->
      "5411d29cf5f1617a7b7177def443670bd94ecdd04db7ba34ef1de2a9a10a3a30",
    "layer3MixedStereoBytes" ->
      "381ffdb56c94b0f0d2b7d6d002f8e08ec3255b124f83f2cabfb41e9fb557fb4c",
    "layer3MixedStereoBytes/is" ->
      "04c45c875bf1eabdaca740871bb029827005ed337f7e5e58018e2858e677619a",
    "layer3LsfBytes" ->
      "b8dd4d5c9bb73a30753b61c1b3aacfcfd7d7a8ca94076d7d366cfc7a1c444654",
    "layer3LsfBytes/v25" ->
      "f7b4b08299e287748161419a6cf63440477bcceb1c7722b768a8c0dfa23b51be",
    "layer3LsfShortBytes" ->
      "b55bfb13d3981e8f7b73fbb099e7979f2196f7391c77c9476c47fc38e8a3a9f5",
    "layer3LsfShortBytes/mixed" ->
      "9a17d984b3a45538fee975bbe032e57c66accd064d2e4e2816e9e0fb6da9bd87",
    "layer3LsfIntensityBytes" ->
      "c429806ecb6430ca7b94869b5ac3deffbcaea6a902f0d8a3e21820949b312265",
    "layer3LsfIntensityBytes/short" ->
      "90b606a058a00528e80257724ca660277b8630ea11dc91da24e93ca42d479bc8",
    "layer3StartStopBytes" ->
      "2fac38d085d1ee4d9b9451e0c5a7c8bcce8f7789a0eb5ede68a58545b7f34253",
    "layer3LinbitsBytes" ->
      "a1447628423cdc984ae8d7c6c1212449b879451fe1abbbc9150214782a723883",
    "layer3HuffRealBytes" ->
      "06a087cc761abb11e985779c1c33bc27c0ee1767da0ee0040e45618e950f1438",
    "layer3Huff12Bytes" ->
      "075fca24c0828949a561dcc6c17935319f993681f0ebfa67f442c03b28d65904",
    "layer3HuffLoadBytes" ->
      "4ac71c3089e7ae0af080ac6ef1579028674b41baa0f6d453226b56e71db18c13",
    "layer3Bytes44k" ->
      "97dca58aaba9aa512816d08fe9d845deed879f837486da3849f339dba0a40355",
    "layer3Bytes44k/sr32" ->
      "2a6644aa1281d807d4f31562691282ad5f890a5d5369354beb6aedba38196949",
    "layer3StereoBytes" ->
      "71757efc474b8adf34fd1399160b2e458691a94776663ae7398a6629d434abe1",
    "layer3StereoBytes/is" ->
      "b3a34b0a344aa1b805650d4798acd4a63b171176ed31798c82b6b81d4e8d114a",
    "layer3StereoBytes/is67" ->
      "b13fbd24f5cb3c2fe9bb61d9d19f7d83c17785aa40bbb8cf0ed7864b4ec9f90f")

  // Recorded at the commit before the bit I/O moved into pipeline/Bits.
  val GeneratorDigests: Map[String, String] = Map(
    "mp3Bytes" ->
      "bf6bc033e2796a0639a1c587ee4f0ed9a97b629224f4678aeeb1009f571dad7e",
    "mp3Bytes/id3/mpeg2" ->
      "415257383677a3c6a88588c4e652c4c5927b529d6eab60178954651884d8d067",
    "mp3BytesXing/0" ->
      "4a18b616c7e05ec9cde3abe16640002452f3dc528c3c0a8370e032450074dc95",
    "mp3BytesXing/1" ->
      "ae577fd85c5df5b7388f59c1647e87b3334cca9d7b8c7675435dedc4bafa2f87",
    "mp3BytesFree" ->
      "919729bb65b239cc4d91fc46d507e3938880b3ecf4e6ee204a21d52baa2bb7b6",
    "id3v2Bytes/3" ->
      "e334253145f3f8821f7ff8134f1c4f1b9c5e1f5f2bb48b0a72338265a0d379b8",
    "id3v2Bytes/4" ->
      "b65369e4e4fa90f1d0a0c2c1911d799f9fcaecc79cd930387154d0715257b402",
    "aacBytes" ->
      "fe3baa9e8e89b69fc72124ed10aff804b81bc403c38d9afef32154c8fb58df8f",
    "aacBytes/stereo" ->
      "75055509382957c3f816d37fbc4ac4cadbc096fc62e3a7e376e616a1a81c8752",
    "wavBytes" ->
      "3a0f0729513841486c55946c80a0385b1104cf8929b72b0da133cebde16426a5",
    "bmpBytes" ->
      "3c7920abc19ce84f8d31b080986a7667273cff032361a5fb64c7fb6e9a5d008c",
    "bmpBytesRle4" ->
      "8008816babe72b449fc21405b6da87238602ff7dec27299a0d9ce2ba9bb5eee2",
    "bmpBytesRle8" ->
      "4a9d63094fd34f9d4c8b0459a5e2487c270f87e37cc82866ce6c78fa23f9790d",
    "tiffBytes/le" ->
      "c80c6f92d081fbe6228fd87f4088016e425db377d23f95ff947df5bbfa36259b",
    "tiffBytes/be" ->
      "5ab3f5a2268f2b057243725af92bb8abb31612bed5dc251071b1c115a4cac3c7",
    "webpBytes/VP8" ->
      "dc52b85c03d21219cc7d793aef8513c60b12b3a446dc578f78f4ee2606d5f172",
    "webpBytes/VP8L" ->
      "36f09fbf2899371d76ddcb6548f469abe3c65e480fa60d8d1b25f315ea88a4d8",
    "webpBytes/VP8X" ->
      "a8e2754e45effe2fa145402cff6f383eb0b11e19967583b7af963ff9d2378644",
    "flacBytes" ->
      "ba8810d125d7b087f43f126875bde2cfc03603e4d845a76ec30640e1a331f096",
    "layer1Bytes/3" ->
      "0568affa48843f8ee5437d6fea971d550cc1672b6f8474045e891b482edc0c7c",
    "layer1Bytes/7" ->
      "8dc8273f47f70d39ec14c935ed8b1643e02076ca4628df874aef6857e0656b46",
    "layer2Bytes/3" ->
      "0ba5b91cb305f9e59ff11aee7ba6b310f9711e4bd6a906823e02c45517b86793",
    "layer2Bytes/7" ->
      "06097bf5d35902d2845233795ea581b1d317cadbf4741b1ef7a0d2aab34b285f",
    "layer3Bytes/3" ->
      "aaed6a58acec2221026bf0d0ecc1e387aa51620c9a6e307113d59afe63ede484",
    "layer3Bytes/8" ->
      "33bce63d11bf9d4255cc3d3bcf01507f4baf5369e2393b1cf12ad3a1b029343f",
    "layer3BytesFull" ->
      "3d54a6852e148b81b0aa1e2ee89a2195bb1aa3c16607ad8b6a966aa601ae1aa9",
    "layer3BytesFull/crc" ->
      "331df441e1ff04d04331ec0fd17c36d4be5dc784e1e57be658fad184707b901f",
    "layer3ShortBytes" ->
      "70b053624432f5cd1ba5344419a18024eed110fd0090c683474fd3e54e0107de",
    "layer3StereoShortBytes" ->
      "b0ec909b55a732c34d6ad851bfef39b3a5b385239c0486f3d5ab52fd0307dddf",
    "layer3StereoShortBytes/is" ->
      "ff2afcc720b70a67610905303d6d26e85ad3b51c9758ee43d8464d777b3556d2",
    "layer3MixedBytes" ->
      "b014640e3cbcbace895864edd7616ecb36f534d52dd42dca96ffc7d098fd4ee1",
    "layer3MixedStereoBytes" ->
      "01e9630c65192474a9cd6c5fdb3edd648c06885718898d3ec3953967bfdc37e5",
    "layer3MixedStereoBytes/is" ->
      "1599cf7accda40bb9213a9ec14658c386c8d32d21e27461d000f52939bae5d95",
    "layer3LsfBytes" ->
      "9747a8d02e4bd7e8f034a4f3b844ee6a5ab370a82639424b57735c6ea8a1117b",
    "layer3LsfBytes/v25" ->
      "c8bf85f19883f0e424be8b64f3f831e7c76ae722f4e8914d0d4ab8634b8e8d96",
    "layer3LsfShortBytes" ->
      "e93332e89a4c9be3b6a9683d5b54f9c92e4ec5594dfe68caa5e7a141580bd51c",
    "layer3LsfShortBytes/mixed" ->
      "83f2ae2e1e872e522804f61ab67524ec99d11af14602e19caefdc9c5733f78e6",
    "layer3LsfIntensityBytes" ->
      "8f865dc5989f2e36a899aff225fae7f23f4c36fb093d2e97e1333e0fb580541e",
    "layer3LsfIntensityBytes/short" ->
      "20ffc60a74d9b25239713bf499f5ce25308fee9f6baf6ac5ae7670d81a6be7b0",
    "layer3StartStopBytes" ->
      "b2792e90c3919381b3fdacda14d4ae3729da1c16df7c9635217d3c216523a8ff",
    "layer3LinbitsBytes" ->
      "79c443a55a3455a9da42d6864ad24692b26fdc5a7df2ac34c38f72a0ca692b28",
    "layer3HuffRealBytes" ->
      "100315171f758c7d54cd228bab26c1fa1b2df410d3769adc25c13252e89401fa",
    "layer3Huff12Bytes" ->
      "a0373d44d1f59e873ea983b249537c83d7248465b4e4e1fa128afec69044c9e2",
    "layer3HuffLoadBytes" ->
      "7369dd41f551e40fd25638595d780ad290cf4644f93156638cda0cac3c6ff8f5",
    "layer3Bytes44k" ->
      "2aed7852bb6d466ce7bba27b51cfa792a7b40d7f7a1198d71eea5b07b4a9188b",
    "layer3Bytes44k/sr32" ->
      "d70c1c19c467b6d0e5198242794015de1d0db73d06233946ccda016e29bc2250",
    "layer3StereoBytes" ->
      "9c5cd9e6b0af459823244d4a3cfb9333313f8f4d6e50142654a8f53105fe188e",
    "layer3StereoBytes/is" ->
      "bd4dd78e629fc25c6def4e38fed3035a6c673770635cb758ee42c7404b96b3e2",
    "layer3StereoBytes/is67" ->
      "7ff808b07d52101e90bec44228e42a0b5dd7f7bdc07affb887e61ead8e01cf95",
    "mpeg1IFrameBytes" ->
      "67aacef477c3c557346c68d1fa6bef2a33877fada1dce7966f16ffe4d3609942",
    "mpeg1IFrameBytes/48x32" ->
      "27ee14453df0e1b0006bc6b1f39c38189cdfd9f085240d2d9cd4b976a2b08bc4",
    "mpeg1IPBytes" ->
      "497827acd52f8e0f3de7501ea1340de97a7953b702e4c22387a47dceb7cfed61",
    "mpeg1IPBytes/B" ->
      "d4d7d678b14a38ac3e4fd44dee59b106e12762df1a2b46ab16c6d05b75408a5b",
    "mpeg1SliceBytes" ->
      "ea33c7691a8d920205a9ef53ec544e41631871a84893d6d020f139db4d9c2590",
    "mpeg1SliceBytes/midRow" ->
      "63a8b82a661060baf4e9450446e3d105e0110129ce1023f488d359d8e12f259e",
    "mpeg1DBytes" ->
      "3e821e8f6c3c240f7624bb4b6fbb9ea0ee057ca1ea8a31d7ae2c6a3c6c2e5332",
    "mpeg1PResidualBytes" ->
      "b4fcc7347833b2e8ead44c3d98dd16516a8f43dd4acc8e1586172dbfe0e49221",
    "mpeg1PResidualBytes/B" ->
      "8e4ce1fd9b247ca897e408675551f8264183cb3d36c3b740a1a215b82a0a7720",
    "mpeg1PResidualBytes/Bq" ->
      "f0fd79434bba467ce71bb571b5d6965f49fda7da9e6889568dff725af1cf09cd",
    "mpeg1PResidualBytes/fcode2" ->
      "bd2e0ce664893144b79bca097be812333f50cbea53cb6aad341eac6af4a7f15a",
    "mpeg1PResidualBytes/big" ->
      "62c1f7c6098ab842c5700e81b1d3acd4c5222d4819dc16de47e16123ff7f37b3",
    "mp4Bytes" ->
      "d4d8c9c655abb4acdd16a363ec2391a80d04248201781f2504a884d984e229e2",
    "aviBytes" ->
      "db450656999c68f91592bcd654f5832ec115dc966012a08ebe13379d64fb0fde",
    "pngBytes" ->
      "299b192e7674f81ce2ce0fd392e6fda59ed3644cbdd9173cbc6b816a14f3e015",
    "pngBytes/interlaced" ->
      "089dfbf5d7f8acaea06e7ad905e30d3a47c970bd9a44ffa8ec6759b2a752d778",
    "pngBytesPalette" ->
      "ef3af2e5bb6c503a9e841003bbfd516757ef8ed028297fe1e71cee79885b0828",
    "pngBytes16" ->
      "5a60ad2900504573812572d3b201553f662cf1edc7639d03c6999bebfaeb4afe",
    "jpegBytes" ->
      "10c472f89616a6e8ae7b477de1fb17fc84744f7d171be849e8687dedab61a887",
    "jpegBytesFromCoefs" ->
      "c664027ceef690c215116d5ed2e8dbbb1712a801da1d7402d5a18c419e6015df",
    "jpegBytesInterleaved" ->
      "8f2a3aa9fe079b9015bd0340deb10fa2643149b80f4ba48733239d37c26d6360",
    "jpegBytesInterleaved/rst" ->
      "094489c2b121f8cff04dc51d2c573680f02bddcc7e5c17f23b6c3e436e529f4c",
    "jpegBytesSampled" ->
      "280ff2acc660e852e6a99fd942031f4d7432719af3279ed18f7896a522ad4baa",
    "jpegBytesProgressive/1" ->
      "158807509d8f483209ba296701daef85db5f6130863d88c13c72d0635be0905a",
    "jpegBytesProgressive/3" ->
      "ff1e4b8de27d25b5fc4a7600c8f9bb02d39d3d3766f3de3ad645e4d46417dc4e",
    "oggBytes" ->
      "683acfd7fdf071a83b6159f884d9cb394326894db2e9001a832d00200fb7c677",
    "gifBytes" ->
      "443bb43b3131c84a22a1e74fbb8f37b90fa29088b277d842d2dfdfb13cc795ae",
    "tarBytes" ->
      "c5dde405679f01d1a4e842b1f1c98447a8d2f731c81bdcde757f690406e714fb",
    "aacLcBytes/rdb" ->
      "0191107dc830ef9b53e4f3ca70e2c3530169e0b14772a98f65cb29b1b60e9c3d",
    "aacLcBytes/long/2" ->
      "a043a2868ea432aa6567d257d3c24494bda9d5a44a1e8272b1a70a8fb06d5bd0",
    "aacLcBytes/long/5" ->
      "120c4d7f07ca0e4ffd9f39b855919f79b697b8cf5ba8ae1f9f47db26b61d0dc7",
    "aacLcBytes/short/2" ->
      "b816f72e107c7d2fb380da6ef344ef2506fb77e8c48e403e38364393ac10a50f",
    "aacLcBytes/short/5" ->
      "ab6808bd1613a94441ab259527bdc87775c8da416bd44f6e11389599b93b1c26",
    "aacLcBytes/cycle/2" ->
      "9727f44bd57d0ef57b9f6832ad535006833af74dd14fe38596417d95997fa161",
    "aacLcBytes/cycle/5" ->
      "61e373788463ca35ab18372ae416ffaa54ddc0ae93d0abb138cd82696b79ffbb",
    "aacLcBytes/ms/2" ->
      "4a7d45869333c99814f82e3206a7c2268e25de380cf39870ceb13efff5d5205a",
    "aacLcBytes/ms/5" ->
      "4cdec0aca63ac56fa5ef558804f7db62a2ecb00b500fd1888e152ed729ab8453",
    "aacLcBytes/is/2" ->
      "449ffcc104189f9cb871643396dbecf97baa52753222b314ba7e60e5cb494750",
    "aacLcBytes/is/5" ->
      "827737fb97a65e31827834a803de66e8de6f08c33dd18876e28e2f126525f40c",
    "aacLcBytes/pulse/2" ->
      "295010e7488e40dd81b2002baa6714a7631a80b9325df40dd53fc0a18dacdeb4",
    "aacLcBytes/pulse/5" ->
      "16ab28553ae5e854d916bdaf2430323223e4aecad3ce5478b336225fd3cece92",
    "aacLcBytes/lfe/2" ->
      "506998cddc0a4f8a6465004ab1dfbf0f9fa218c8304df85141b583b864ecbad5",
    "aacLcBytes/lfe/5" ->
      "d289018ea294688b2e87e688a0d208d5ebfd3c2e87edebba06466e1de99ffeb3",
    "aacLcBytes/tns/2" ->
      "e2318a4e69f2c78059d6ac140d47552e08737f306d047aad2628a7ea0b01ce7e",
    "aacLcBytes/tns/5" ->
      "646af69c3fb4a372fb375897e6d9e4b1e7e6dd00c9e2e273ac452f0a91c9be02",
    "aacLcBytes/pns/2" ->
      "3f049ce9b73634e78228c30ee6d1ebcabd4a39004fcbd8a37fa501cfb54163d2",
    "aacLcBytes/pns/5" ->
      "532b163dee9e5a3197145f0b5dc602c2c663b9d52fe61cc0b42d158f503fe1f1",
    "aacLcBytes/pns2/2" ->
      "ecf802f74123e161f17d0314903abc49e2affb6ca89309de257c0193a5d05819",
    "aacLcBytes/pns2/5" ->
      "f3689b2eafd1be07658a075bb960a89a09f2476d82a26fefc952b5adcfa4ee72",
    "aacLcBytes/tns_short/2" ->
      "b083e6f0c5935cc67d2c88c47b67b98ee717c40ca84e897dda8b3936b3fa5316",
    "aacLcBytes/tns_short/5" ->
      "436f596566f94e9352994ac09bb3b962f6ac76e29e80cd6ba44ab9c9c7a57b64",
    "flac/0/0/0/8" ->
      "f7c6936a2ef0be6321f3f14da1a3f27c4b84843e9068144967af5e839004a6d2",
    "flac/0/0/0/16" ->
      "3cfb74e6c82d49ee0aa30f79b14118c4895d7d78b22711854bfb5f4881dbd4a5",
    "flac/0/0/0/24" ->
      "44261411298cdd6c5247dcb011bd02afacf8e6a34e792265131bd8a7d2ce5315",
    "flac/0/0/1/8" ->
      "f7c6936a2ef0be6321f3f14da1a3f27c4b84843e9068144967af5e839004a6d2",
    "flac/0/0/1/16" ->
      "3cfb74e6c82d49ee0aa30f79b14118c4895d7d78b22711854bfb5f4881dbd4a5",
    "flac/0/0/1/24" ->
      "44261411298cdd6c5247dcb011bd02afacf8e6a34e792265131bd8a7d2ce5315",
    "flac/0/1/0/8" ->
      "74a8e50fac49b4b6abe09d4a235357bd8a46bdb0661faedc50106ce4d4fd0349",
    "flac/0/1/0/16" ->
      "64524a7f067c68de6ccb827dbd5cbb1531809d7ed492d552f88650f9db626ddf",
    "flac/0/1/0/24" ->
      "6958afcd90e3120a560ad9faa9e1156ebe044bc0c55ee003442582fd06a01a58",
    "flac/0/1/1/8" ->
      "74a8e50fac49b4b6abe09d4a235357bd8a46bdb0661faedc50106ce4d4fd0349",
    "flac/0/1/1/16" ->
      "64524a7f067c68de6ccb827dbd5cbb1531809d7ed492d552f88650f9db626ddf",
    "flac/0/1/1/24" ->
      "6958afcd90e3120a560ad9faa9e1156ebe044bc0c55ee003442582fd06a01a58",
    "flac/0/2/0/8" ->
      "d42874588b25963b92368ad2920121c5144565e308f1dccfb0bf29207b106c99",
    "flac/0/2/0/16" ->
      "813c09a0f0757e0c335d91e2a6336bf54bd650d885a6d5efbe36e52878b9ea00",
    "flac/0/2/0/24" ->
      "4eb22d9b6f578fe0b963bb7ae7218bd8f8d4ebe85c11bd92d122e19743a40620",
    "flac/0/2/1/8" ->
      "ccc1d16cabe9da3c41eae9b1250ea904e97755a24f7405312e6964c072832ffb",
    "flac/0/2/1/16" ->
      "193796a9fa3f9557f58d0a52b2547ffbeb60b9025d5947c54bcada11dfccad91",
    "flac/0/2/1/24" ->
      "5ff42b18b73236b5ebdb0323a73e727f27531af9fea5059d035eb6903aab01ad",
    "flac/0/3/0/8" ->
      "387068dbd4bc727f58c4336c526f2b714edd60f5964b788e80668cb68e90cd80",
    "flac/0/3/0/16" ->
      "fbdffebd9892bbe06f75cef67f6644fd5910b93c659a33ecd0713ac000752d1e",
    "flac/0/3/0/24" ->
      "e5768d4b8f24f3a7203d197726d053dfeec27e414adbe3aed6c3176b1ef016d3",
    "flac/0/3/1/8" ->
      "60a8a9411114aefb8eac71d97040d0410c9535eab4d78b83bfee435b93368058",
    "flac/0/3/1/16" ->
      "b2f308a4ea5b24ec6550eb1b38cf1330c75b9c3e3fa16137b702c1a460b52639",
    "flac/0/3/1/24" ->
      "fcf9dcd7958b636e6f6d0aeed0849e3be73510f39d6822a43d0456d20cadac11",
    "flac/2/0/0/8" ->
      "60078893511a7d5ef840dceb6df1a0e03f09a66f019304e11a23f1446541ec7b",
    "flac/2/0/0/16" ->
      "74dedf52f8a21f86d4f9c3f8fa746576f220e6b487535ffd5bd24960167da5c5",
    "flac/2/0/0/24" ->
      "7a04a9c8e89caa81bb6cb6b6e9a04c039c6d99ffee91d736708db385f3d5d66e",
    "flac/2/0/1/8" ->
      "60078893511a7d5ef840dceb6df1a0e03f09a66f019304e11a23f1446541ec7b",
    "flac/2/0/1/16" ->
      "74dedf52f8a21f86d4f9c3f8fa746576f220e6b487535ffd5bd24960167da5c5",
    "flac/2/0/1/24" ->
      "7a04a9c8e89caa81bb6cb6b6e9a04c039c6d99ffee91d736708db385f3d5d66e",
    "flac/2/1/0/8" ->
      "a5836bc371fde5c175bb3b8b97cbea8cbdca0cec37768e9d16bdbc187d31d551",
    "flac/2/1/0/16" ->
      "4f3290bd1b652ef3f41aba64121a1faebb37aff696c5453edd0e0b524eb29645",
    "flac/2/1/0/24" ->
      "9c46b303f940b16ad18683d9f7a13e4bdcda68174f003777c21a7621eae24a97",
    "flac/2/1/1/8" ->
      "a5836bc371fde5c175bb3b8b97cbea8cbdca0cec37768e9d16bdbc187d31d551",
    "flac/2/1/1/16" ->
      "4f3290bd1b652ef3f41aba64121a1faebb37aff696c5453edd0e0b524eb29645",
    "flac/2/1/1/24" ->
      "9c46b303f940b16ad18683d9f7a13e4bdcda68174f003777c21a7621eae24a97",
    "flac/2/2/0/8" ->
      "1e105bd857cf5c6c25090605aa74564522d5f8d16c3b1cb348ebc01382062ac0",
    "flac/2/2/0/16" ->
      "ad947229f8db3cbe4c18811ad0f729b74668e9a47d8f1ae7c0b001b58f508b26",
    "flac/2/2/0/24" ->
      "a23c5ba592f14d7bd04d434912f5a1174ed4103ebaa1875078527b79326d1365",
    "flac/2/2/1/8" ->
      "ea95f39b12d46066f6c3432f76752cf42c3336c5d9850514d75bc69e46a1504e",
    "flac/2/2/1/16" ->
      "17a1d26a35557a1ab8bb516b1e0a541a84370070a411c1694257325523e68dd8",
    "flac/2/2/1/24" ->
      "8becfab4649db005ddfbda382a5ee04f86ceb390cc917b2f2badeb5e95569056",
    "flac/2/3/0/8" ->
      "a449b0d361aa452a3bd3d4e44af6d682305effd1ab70da835f38371f8641be23",
    "flac/2/3/0/16" ->
      "787e6c2f72a85747766637723033618104f885d2498060697f1ab88ee2e52ce3",
    "flac/2/3/0/24" ->
      "dedb584d4c197c68b0b896466119062a409ffa05726fc556e5794bfcde3e34d4",
    "flac/2/3/1/8" ->
      "47e602b1217e9d0c4acf4e5100f1f9473c1b900bd717f872fccb146f1b086970",
    "flac/2/3/1/16" ->
      "7f1e47ed9d8146bc598fa8d24d3d2f076e9c3cb85b9c087bf01820140fd11401",
    "flac/2/3/1/24" ->
      "c86b1f57c063ba7dcde5b4eaf317d93528c683e3c315538cbb45f7fbe19fa9aa",
    "flac/8/0/0/8" ->
      "66b851dd38fb506192f19c88bd1e2a1afa4c76b4187fe7b8fa51e2c5b333cc6b",
    "flac/8/0/0/16" ->
      "5b681bc4163f717bf010c6c08f96cc0ebde54b9bc22c88ca4fb5408fcad42b5f",
    "flac/8/0/0/24" ->
      "db563af2b88fe3aa5e6f2580d49bdb91ffbd7316f5aa452b36b115491e4badf0",
    "flac/8/0/1/8" ->
      "66b851dd38fb506192f19c88bd1e2a1afa4c76b4187fe7b8fa51e2c5b333cc6b",
    "flac/8/0/1/16" ->
      "5b681bc4163f717bf010c6c08f96cc0ebde54b9bc22c88ca4fb5408fcad42b5f",
    "flac/8/0/1/24" ->
      "db563af2b88fe3aa5e6f2580d49bdb91ffbd7316f5aa452b36b115491e4badf0",
    "flac/8/1/0/8" ->
      "1ced1ee3a91408c49d0195473312a27e64ec0521e239b134eb89efeb7924eeb4",
    "flac/8/1/0/16" ->
      "fbdb9d94612199dbd910e8a406caacabab5f82440ca6e5c4b025e5dd2e43e42d",
    "flac/8/1/0/24" ->
      "fcc4489c520cd1518152e8f8e6decc35fb5af678f55b0e5409c6cd9e9c7498bb",
    "flac/8/1/1/8" ->
      "1ced1ee3a91408c49d0195473312a27e64ec0521e239b134eb89efeb7924eeb4",
    "flac/8/1/1/16" ->
      "fbdb9d94612199dbd910e8a406caacabab5f82440ca6e5c4b025e5dd2e43e42d",
    "flac/8/1/1/24" ->
      "fcc4489c520cd1518152e8f8e6decc35fb5af678f55b0e5409c6cd9e9c7498bb",
    "flac/8/2/0/8" ->
      "817f03f6158eca5e6d59a971a7ece10cb52dc6cf0d0c122dc8d800edec17556c",
    "flac/8/2/0/16" ->
      "39f5b75fca90bb415223b3793d7cac3b0838c7c0c2fc35f0d68b0f08e93c8853",
    "flac/8/2/0/24" ->
      "27124da5fcfb50bfde437e2536a9e11f7dc2e1277a7b2380e3f4a7aa8ae675f9",
    "flac/8/2/1/8" ->
      "70676a52ebd5e62567c133f619ba9d395643f49138b46e857fda7432ee7e0bd6",
    "flac/8/2/1/16" ->
      "53018d425f4474e2fb3f89d5ea0ea37e264a3b16750ef4a7334cf86c51440298",
    "flac/8/2/1/24" ->
      "e3996000fa95e39118c47c50947e943e1679c1f8968b99a0c4548534da4bfafc",
    "flac/8/3/0/8" ->
      "a63bce2c22d05a6abcb245eac0b39732c210f7b9004243bf20d529fd08ce749f",
    "flac/8/3/0/16" ->
      "a960193725fd39d79ecec59b79e569f21ae898bd3ff2591d4a40f974767466e5",
    "flac/8/3/0/24" ->
      "f8e7a6a019b4b44eb31c479435aa72880f2379c2c644cc35b408dd7974855c6e",
    "flac/8/3/1/8" ->
      "5152723c116ded26776eb1087c574a09a16abdc35d1e4a2dd2b402624c253bd2",
    "flac/8/3/1/16" ->
      "b6ff76a507f3cca7881ff4683dda7bcda9299d1161a70c45bfdcf96ed9cbff0c",
    "flac/8/3/1/24" ->
      "6f4fcdd05616a28427c88d2be294fd7b6e9dfab786658477bed1a253c0404455",
    "flac/9/0/0/8" ->
      "5889de3f66dfd70f2024cade48a63679515790354db130f4d8e6983516250f19",
    "flac/9/0/0/16" ->
      "16b8597b6419ab7d72774c7012426cb83fc01472c07a461e3a783b8ea3adddc1",
    "flac/9/0/0/24" ->
      "a585474cda6ab361e45e7ae55201c17c2d870e0870719a0a321d0438a406ff21",
    "flac/9/0/1/8" ->
      "5889de3f66dfd70f2024cade48a63679515790354db130f4d8e6983516250f19",
    "flac/9/0/1/16" ->
      "16b8597b6419ab7d72774c7012426cb83fc01472c07a461e3a783b8ea3adddc1",
    "flac/9/0/1/24" ->
      "a585474cda6ab361e45e7ae55201c17c2d870e0870719a0a321d0438a406ff21",
    "flac/9/1/0/8" ->
      "f401879ddde24c724a34a18481c6b7a46d103ac660a1c45df1178ad42f0c20a3",
    "flac/9/1/0/16" ->
      "98b9cfb670ec94789808afa83ca389813d932a017dacfd7a1c54d55e868a3965",
    "flac/9/1/0/24" ->
      "0bf65865bf8a933743eac3164bcfaee5e6eac4f35b85d20dc77f36c0cf43adb6",
    "flac/9/1/1/8" ->
      "f401879ddde24c724a34a18481c6b7a46d103ac660a1c45df1178ad42f0c20a3",
    "flac/9/1/1/16" ->
      "98b9cfb670ec94789808afa83ca389813d932a017dacfd7a1c54d55e868a3965",
    "flac/9/1/1/24" ->
      "0bf65865bf8a933743eac3164bcfaee5e6eac4f35b85d20dc77f36c0cf43adb6",
    "flac/9/2/0/8" ->
      "84e026163e080d63569b6da8e9754400f9331bb5a7fc0ed058f2392ce391cc60",
    "flac/9/2/0/16" ->
      "fed39c39ab8349d3340f54ff45ed1de8175d1575c59e61447b795ad4c9e875a9",
    "flac/9/2/0/24" ->
      "37e253fd4a75caa995b2a89ccf714ecb3e6910ce7ddfd704c2ea6b9e04873b09",
    "flac/9/2/1/8" ->
      "7996606306c08067fc212b6415ba513e98262de466891f4deb77e27263193527",
    "flac/9/2/1/16" ->
      "1892163ae66d63051585f57ad47457f8ad38ec853703b022c12f17d96566b5cc",
    "flac/9/2/1/24" ->
      "7cf1768b121e332beaaa16723b05140f8dcee4ec2a8210613699afda77c75b5d",
    "flac/9/3/0/8" ->
      "e4e2836494b8266d5bbddfc1cb7015b8409937b1fb6e131905ea23cd97ba52bf",
    "flac/9/3/0/16" ->
      "21783829473bd1f3cb81b1c4593cedc44462f62f921757d82feae048fa01e82d",
    "flac/9/3/0/24" ->
      "72fbcced95b1fc0f1b5498c2724cb56ed84036c2b2525960fa5b8decbad6b12a",
    "flac/9/3/1/8" ->
      "57a9861f578692b9e2110397263ccf9fdc1a2827c7ca5f387f89afb4afbfc788",
    "flac/9/3/1/16" ->
      "983c104066b2af6187356f303d3410f2d5baa18d3c8c6f7a395441edb3bef0ed",
    "flac/9/3/1/24" ->
      "d143602c71c88917ac52cff9b33243e7bce4150020683b1e632e7add35bbabc2",
    "flac/10/0/0/8" ->
      "2bf4d38a37774f665cdae53d5e2beb2450ccd61a3a9cd513a846478d5a571e61",
    "flac/10/0/0/16" ->
      "3ae6244d1ef234168ff6c8d7552149c50a1383be38959a3285918cf7f2b82c46",
    "flac/10/0/0/24" ->
      "ff5744328acff4eac4e12942a3d9c2e388ac012986cae1f603d1626e3eabf229",
    "flac/10/0/1/8" ->
      "2bf4d38a37774f665cdae53d5e2beb2450ccd61a3a9cd513a846478d5a571e61",
    "flac/10/0/1/16" ->
      "3ae6244d1ef234168ff6c8d7552149c50a1383be38959a3285918cf7f2b82c46",
    "flac/10/0/1/24" ->
      "ff5744328acff4eac4e12942a3d9c2e388ac012986cae1f603d1626e3eabf229",
    "flac/10/1/0/8" ->
      "5eb03450166d8966d6c3da5d7496f00245cdc9bfbd44a28078c4f806527cf9b4",
    "flac/10/1/0/16" ->
      "eb1c9e421941ab9fb151fba64ed0c6d8bc9248cabd3e895634d0e57e76c4d785",
    "flac/10/1/0/24" ->
      "44eef437cf8bfc884fd2bbaa746972e38074ed20a424cbc267207187d7b3c941",
    "flac/10/1/1/8" ->
      "5eb03450166d8966d6c3da5d7496f00245cdc9bfbd44a28078c4f806527cf9b4",
    "flac/10/1/1/16" ->
      "eb1c9e421941ab9fb151fba64ed0c6d8bc9248cabd3e895634d0e57e76c4d785",
    "flac/10/1/1/24" ->
      "44eef437cf8bfc884fd2bbaa746972e38074ed20a424cbc267207187d7b3c941",
    "flac/10/2/0/8" ->
      "88fd2ec0037bcb796e719aceb480ecc9fe1965a4e950621bf58c9f03e913f78e",
    "flac/10/2/0/16" ->
      "e51cde0f8d700e024698f1a74120a08666908281f191f3b4c2354436625fd62c",
    "flac/10/2/0/24" ->
      "db25ba217193f1cd65dc7d445f130de31209532c43139dcdad32da136d52bfa5",
    "flac/10/2/1/8" ->
      "3ca08d57e87096779bd487a19d4bafcb186d317b5d2bf9e10b2c2a3de1a5e99b",
    "flac/10/2/1/16" ->
      "ecb2c45aecfabdb4b8bfcdddcaeff0e16c5f906dd8e4a285d5363d8276149a1a",
    "flac/10/2/1/24" ->
      "872339f1ac00d213aad362e1efef5c202c637dd2c06f8504aa752b5ca27af928",
    "flac/10/3/0/8" ->
      "bc7cdf57e09db4efee48801336e6f9d704692bc8ddb3c3aa274bc5353895bc23",
    "flac/10/3/0/16" ->
      "ba088a4a09c4b4ec6f543678569f63aa6becd1f4d54f7c8c4c3e3064b5c2cf22",
    "flac/10/3/0/24" ->
      "0e845cd30f4582a32192e1fa5fdc7e86c03ab90b8aaafcf0e5f1a65b6f321213",
    "flac/10/3/1/8" ->
      "eed7c76fa1049edfa1f7dddba0c57a26457f2f234d31d679bebc1fa07555e165",
    "flac/10/3/1/16" ->
      "88e704d9333f013a9a00527e35699841b827cc69d299fec7fea1829aca354c76",
    "flac/10/3/1/24" ->
      "326126628b54635adcfc2f8d3a53d074b621b0443a89fe52fa2697350cb4acc7",
    "flac/meta" ->
      "8ae219be32a98622d0e4624214d2f2cf8813e1b629b96c42fe6ea36bebf8bffd",
    "flac/codedNumber" ->
      "f6f6850b002bcc0cb16b87677b3db2c8688ee058097255bca8ef129de605cc5a")

  val DecodeDigests: Map[String, String] = Map(
    "layer1Decode" ->
      "1cf0f61f2746033530d757e1ab4eca8d0b962a16896766e92632d71cdc77eb9e",
    "layer2Decode" ->
      "6893b09b40c74e33099ddf5465615956eabf4ce9a13b8130e918be47f96972d2",
    "layer3Decode" ->
      "ab2cab635a9d32ac23b45296ccf1d373969537a474244ddfd2bfc2615072c408",
    "layer3DecodeFull" ->
      "554fa7967ee8076e2e1b36c6727cc3c097224e308982ecdd5b710d7dea7d257a",
    "layer3DecodeFullSynth" ->
      "abcadbc018753968e286b4e006d0a590209ed1902659ad217ac94827a0a93c62",
    "mpegSubbandStats" ->
      "45f70a1e72a3d44ac9366f4649248ff206c96f05867f7fddb6e4f5a1c988528c",
    "mpeg1IFrameDecode" ->
      "279c92b22d567491adb78730c274c372c1a834c79071255c3de922c89ab248c2",
    "mpeg1IPDecode" ->
      "25ac08be5f537fb950318e2bf01486dfd3031b2ec2e3e4dce9a7bc33fd816abd",
    "mpeg1FrameOffsets" ->
      "c23a25a277dc8189bdf6fc6d9468ca97549614e7b42198ed27ed002e610f0537",
    "jpegChannelStats" ->
      "cbf6bf0eb014361214c7d77d3fe5de1812be2e93ca86dfb11c472f8d0308c48c",
    "aacLcDecode" ->
      "908db1a9adf63bf7efc421216679f5e2882c7e10e4841da4df9e798efd0408c2",
    "flacDecode" ->
      "c7c7ce744ba8cbfd43e69abd0a75c3c996a123de4b4011811e16812617d9b90a",
    "flacParseTags" ->
      "63da71e9886b9bad83aa3901648a0f793c11d649f7bc6aeb47dcffb3f93118e6",
    "dispatch" ->
      "2959477a3df4d0d3a6deb4479e8bd5e158c473af210b12e35536e838454d3680")

  val FuzzDigests: Map[String, String] = Map(
    "imageMeta/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "imageMeta/truncation" ->
      "e79622474a84425c6db3019cb06123d0438214cb25f0942d22535343a35cf72e",
    "audioMeta/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "audioMeta/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "mp3Meta/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "mp3Meta/truncation" ->
      "2be6f239a922709f9a3db0585e78c01f13f3a1485305353219df63f77bc0884e",
    "mp3XingMeta/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "mp3XingMeta/truncation" ->
      "3dad2448b485a7c95aedcd7b5dd738c78c77ac6a7aae27296754f797514b9c69",
    "id3v2Frames/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "id3v2Frames/truncation" ->
      "ae2392769683926ca5fb05cbbd0e306b82ec38f771dff0b48ec80872e8b912b9",
    "aacAdtsMeta/random" ->
      "e18f61668d4fd409d68491809fdf8a1ed7b68facf89b0be7661baaec705b1fca",
    "aacAdtsMeta/truncation" ->
      "04c2197cb65eb34048129dcf433b7aadf4e7ce6541c61aa0a38ad257a0db5bc3",
    "bmpChannelStats/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "bmpChannelStats/truncation" ->
      "a0c0bec4027cab46cdf9e2be5ea92987c18cf0dfb4bafe219819f4fdb19d9b56",
    "pngChannelStats/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "pngChannelStats/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "jpegChannelStats/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "jpegChannelStats/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "gifChannelStats/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "gifChannelStats/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "wavSampleStats/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "wavSampleStats/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "layer1Decode/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "layer1Decode/truncation" ->
      "0f21bf973447eba0247ede0c4290009a4260a23fcda4ed6b654927b2a313a82f",
    "layer2Decode/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "layer2Decode/truncation" ->
      "9e8105bc919f0855975dbb10c62cf1e04d76fee22331f17c43178e9e3bd5997a",
    "layer3Decode/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "layer3Decode/truncation" ->
      "8100bb3a61d6f14a91985ebc2c56409dc3a67ede92d2467ee9a79cc423380cdd",
    "layer3DecodeFull/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "layer3DecodeFull/truncation" ->
      "062adaa51908fa347042e5657a215f7d22c61c7c330f05406945fdd3311e6c46",
    "layer3DecodeFullSynth/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "layer3DecodeFullSynth/truncation" ->
      "dcfdf0ffddd7478cbe26bf27e7af22dcfeffa58b3cb897f2cf9a699a60901bd7",
    "mpegSubbandStats/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "mpegSubbandStats/truncation" ->
      "0fc8f0cbbba41dd44a3b7f601fc4c909589462844bbd77f2c6d4c4ed21f4d660",
    "mpeg1IFrameDecode/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "mpeg1IFrameDecode/truncation" ->
      "c33a9ef326df97ea320eb1c522089b4ee77e30bd4607dceeb8c4dd82235a0cc2",
    "mpeg1IPDecode/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "mpeg1IPDecode/truncation" ->
      "1c2409e50a1a731579d8d52fad9d3de3f2be11fb4dcae3321826dc803bcade11",
    "mpeg1FrameOffsets/random" ->
      "4d9123632d7000fdf1aed3fd05f5396f37f3836c6f69eee37cfda39fb20b9719",
    "mpeg1FrameOffsets/truncation" ->
      "e245cfe88a2866d3d700addd13b55249e4a48c97bb3aad859821febd6b55459c",
    "webpMeta/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "webpMeta/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "flacMeta/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "flacMeta/truncation" ->
      "be9e5d3814ef1a6928b5defa367319e21ae4a86bf81fcbef90620f52a334215e",
    "gunzipEx/random" ->
      "6f9f4433238861c3a385e2e95380c1b08a962d3046162b558e32320cbbe9147c",
    "gunzipEx/truncation" ->
      "7166b8886cfb65e0eee7d86b0cffaaeaeee4eafa599dd9dc68f373e2181436f3",
    "htmlExtract/random" ->
      "0720534b529b7987412c26b00a9ea08ebc7c9c9dbbcfb98df262aa6fed6883ae",
    "htmlExtract/truncation" ->
      "eb6533cc745920434de8e406ba8595d2403bdcc10ebe9e59bfad424e7831f81e",
    "utf8Sniff/random" ->
      "c93f6175ca06a740249acb1d316159fd5d0bb66223844d6a64f5b0473c853448",
    "utf8Sniff/truncation" ->
      "0f8f7c7bfae80f4b6de5202ad6615e09cc1f03466d3111e1ef915c0a94289a8a",
    "robotsParse/random" ->
      "4d9123632d7000fdf1aed3fd05f5396f37f3836c6f69eee37cfda39fb20b9719",
    "robotsParse/truncation" ->
      "2b5754871c18d9813be6966e9ff2b9337b900b3b802df386d88087d0e887b9ce",
    "sitemapEntries/random" ->
      "4d9123632d7000fdf1aed3fd05f5396f37f3836c6f69eee37cfda39fb20b9719",
    "sitemapEntries/truncation" ->
      "2b5754871c18d9813be6966e9ff2b9337b900b3b802df386d88087d0e887b9ce",
    "warcRecords/random" ->
      "4d9123632d7000fdf1aed3fd05f5396f37f3836c6f69eee37cfda39fb20b9719",
    "warcRecords/truncation" ->
      "c6d224b40e15f310c4c8183ba5afb62bb817ba5f258d899a99c6d6c30be48b6e",
    "imageMeta/corruption" ->
      "fffdcd800bda146251e874fe467bdfb182fdc25209521922923cf633a738b923",
    "audioMeta/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "mp3Meta/corruption" ->
      "ae667ce2510a050f5c6efce6939ba4902dbb2e44d0ffabc196dbd6966c12c629",
    "mp3XingMeta/corruption" ->
      "077273334b970abf5c884020bdc455e56cc7957cf109ddb052e2acaacd3b8ab9",
    "id3v2Frames/corruption" ->
      "b4521b4193cf2efc9c111bed1907c66c66e4d6713fbe7e549e4e632c45e69bef",
    "aacAdtsMeta/corruption" ->
      "00c74fe56d3f351fd1d953ac7063a1fc7023ce3bc45cf8236d0880317b147851",
    "bmpChannelStats/corruption" ->
      "eecf2f79d5c8d15a6f2dd120057737c46474a1a9f8b1222642e9991b8e851660",
    "pngChannelStats/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "jpegChannelStats/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "gifChannelStats/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "wavSampleStats/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "layer1Decode/corruption" ->
      "8aa224bd87ac710b3519d405cdcd83eda4fb3c8b24df837ea1a02fa3b666f801",
    "layer2Decode/corruption" ->
      "990af443de021635454966ad669b4cf7fd448dec1130b91d8557a0aa32e8b9a9",
    "layer3Decode/corruption" ->
      "954982046512ddfcb63ab962a6d24243b882978cd3cff14d6645ba0c1d394a48",
    "layer3DecodeFull/corruption" ->
      "83bed97091fdfae39f67c74caaaf2ae7f837b50825b6d7f9a561a01716499ef7",
    "layer3DecodeFullSynth/corruption" ->
      "d0998ff91d0789f58b84961d28baf7c3d2d60ec6589f271455142577d573fecc",
    "mpegSubbandStats/corruption" ->
      "48d1db94345aa8d75c31888ec3591cba2bfb158d4d1ec3d57efdca84c7598ea4",
    "mpeg1IFrameDecode/corruption" ->
      "f3682cc311764d5f30d5ed41f027f2867cf10ce6a4f0329de064ea5dda2dd412",
    "mpeg1IPDecode/corruption" ->
      "8c9e89cc94af04e48c81bb73e82a0223602a6abdbc2869817c1c981b8274c6bd",
    "mpeg1FrameOffsets/corruption" ->
      "7e50c954422b84b43de8fb2227379bead08b118e06284efb3f83d984e7e84826",
    "webpMeta/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "flacMeta/corruption" ->
      "7f8d5a8572967fada121fb68cb6529ebe3734711981bc91ec9f0b46f3b164e34",
    "gunzipEx/corruption" ->
      "6c96d335454c0540dd3368bb740a9b9b7f85c98f679e0fc754d59c1b41e6ca93",
    "htmlExtract/corruption" ->
      "79a8b107641953723c1ceadefb99a42922bba07014ea5373f6fd20c81246c348",
    "utf8Sniff/corruption" ->
      "2010eccb1ee017589ae59733adefecd58579257a6545f46ed9145964abd3ddc9",
    "robotsParse/corruption" ->
      "79da01c62afc0a67a919b0b6863a5c1a5d871139f68b2d3212f8a51ab0564c2f",
    "sitemapEntries/corruption" ->
      "79da01c62afc0a67a919b0b6863a5c1a5d871139f68b2d3212f8a51ab0564c2f",
    "warcRecords/corruption" ->
      "5c515886f6effc4d0b12777e1888a874538cd1a3002c2edacf5d1053178ea178",
    "layer1Decode/malformed" ->
      "31fa9c74595734c7e0c3f6e9443552eb87d662ef4cfa2063cf7c30973fb273b8",
    "layer2Decode/malformed" ->
      "2310e82051ebe717b84eb421f2c9558fd8ac50c636d5d05061583625cd2f0c79",
    "layer3Decode/malformed" ->
      "2543830b81b1d9a7187e7ecf92e464589b740794c85eeadbd745171992692b5e",
    "layer3DecodeFull/malformed" ->
      "bff22d836a36b25634c72529a79302274857032c57c58bad2dafe731cc2df0c0",
    "layer3DecodeFullSynth/malformed" ->
      "3c268ff2f14433a540105149ba27adaa81de2fa15bf000938d94a60185bf3cd8",
    "mpegSubbandStats/malformed" ->
      "844538f7346c8673bf80596b6e85c887fe73605fa82dcab6a08af4d1906da0e3",
    "mpeg1IFrameDecode/malformed" ->
      "cf9fb3ef3e47f2e59356a4d41f8eb0f8f83659201ca85f8fe267b87b423de89b",
    "mpeg1IPDecode/malformed" ->
      "b513bbf095be85d0f2d90821755e3162f2409cca69aea802f95a05a32ef4e15f",
    "mpeg1FrameOffsets/malformed" ->
      "25ba319800b502c1a7f1f57bfaea6c0ec8009a0fed653cf5bccf2ca4ce8be329",
    "jpegChannelStats/malformed" ->
      "91ae2b30b1e39e70f5148142973e5e10f43a2399cb683d0cad7a34c420ae2a69",
    "aacLcDecode/malformed" ->
      "91f7c49ee676c1ea9e6de14b5b4fcdaa6400314f1b0e25f113c408975fdb0a3b",
    "flacDecode/malformed" ->
      "f23175c74444c1b99c76ec310a20712fe2e7af18f54974ae29e74093f9dc1969",
    "flacParseTags/malformed" ->
      "8ce22ce0b35a9e0783e22ccbd8ab7c98a908289f7837d17af01553471b13ef84",
    "dispatch/malformed" ->
      "fa21a53cc216af364932054cf33ade1c60d735a2a1dc4232aad495873831306e")
}
