package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Multimodal, TextOps}

/** Crash-robustness sweep over the whole codec seam: every decode entry
  * point must return (Some/None/empty), never throw, on (a) random
  * bytes, (b) random-prefix truncations of VALID streams, and (c)
  * single-byte corruptions of valid streams — the malformed-input
  * classes a 100 TB crawl actually contains. This is the generalization
  * of the round-10 ADVICE fix (BMP RLE8 palette read crashing on a
  * crafted header): the contract across the seam is "partial-tail
  * honesty or None", and a thrown exception would kill a whole Spark
  * task rather than skip one bad blob. */
class CodecFuzzSpec extends AnyFunSuite {
  import CodecFuzzSpec._

  private val rnd = new scala.util.Random(17)

  private def check(name: String, fn: Array[Byte] => Any,
                    b: Array[Byte], what: String): Unit =
    try fn(b) catch {
      case e: Throwable =>
        fail(s"$name threw ${e.getClass.getSimpleName} on $what " +
          s"(len=${b.length}): ${e.getMessage}")
    }

  test("decoders never throw on random bytes") {
    val blobs = randomBlobs(rnd)
    for ((name, fn) <- decoders; b <- blobs) check(name, fn, b, "random")
  }

  test("decoders never throw on truncated valid streams") {
    for ((name, fn) <- decoders; v <- validStreams; cut <- cuts(v))
      check(name, fn, v.take(cut), "truncation")
  }

  test("decoders never throw on single-byte corruptions of valid streams") {
    for ((name, fn) <- decoders; v <- validStreams; _ <- 0 until 8)
      check(name, fn, corrupt(v, rnd), "corruption")
  }
}

/** The decoder seam and the malformed-input classes, shared with
  * [[CodecGoldenSpec]], which pins the decoders' results on the same
  * seeded inputs. */
object CodecFuzzSpec {

  def decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "imageMeta" -> (Multimodal.imageMeta(_)),
    "audioMeta" -> (Multimodal.audioMeta(_)),
    "mp3Meta" -> (Multimodal.mp3Meta(_)),
    "mp3XingMeta" -> (Multimodal.mp3XingMeta(_)),
    "id3v2Frames" -> (Multimodal.id3v2Frames(_)),
    "aacAdtsMeta" -> (Multimodal.aacAdtsMeta(_)),
    "bmpChannelStats" -> (Multimodal.bmpChannelStats(_)),
    "pngChannelStats" -> (Multimodal.pngChannelStats(_)),
    "jpegChannelStats" -> (Multimodal.jpegChannelStats(_)),
    "gifChannelStats" -> (Multimodal.gifChannelStats(_)),
    "wavSampleStats" -> (Multimodal.wavSampleStats(_)),
    "layer1Decode" -> (Multimodal.layer1Decode(_)),
    "layer2Decode" -> (Multimodal.layer2Decode(_)),
    "layer3Decode" -> (Multimodal.layer3Decode(_)),
    "layer3DecodeFull" -> (Multimodal.layer3DecodeFull(_)),
    // the synthetic-geometry opt-in variant: WITHOUT it the round-16
    // provenance guard refuses every LSF-rate stream up front, so
    // corruption fuzz would never reach the LSF short/mixed/intensity
    // decode internals at all
    "layer3DecodeFullSynth" -> ((b: Array[Byte]) =>
      Multimodal.layer3DecodeFull(b, allowSyntheticGeometry = true)),
    "mpegSubbandStats" -> (Multimodal.mpegSubbandStats(_)),
    "mpeg1IFrameDecode" -> (Multimodal.mpeg1IFrameDecode(_)),
    "mpeg1IPDecode" -> (Multimodal.mpeg1IPDecode(_)),
    "mpeg1FrameOffsets" -> (Multimodal.mpeg1FrameOffsets(_)),
    "webpMeta" -> (Multimodal.webpMeta(_)),
    "flacMeta" -> (Multimodal.flacMeta(_)),
    "gunzipEx" -> (TextOps.gunzipEx(_)),
    "htmlExtract" -> ((b: Array[Byte]) =>
      TextOps.htmlExtract(new String(b, "UTF-8"))),
    "utf8Sniff" -> (TextOps.utf8Sniff(_)),
    "robotsParse" -> ((b: Array[Byte]) =>
      TextOps.robotsParse(new String(b, "UTF-8"))),
    "sitemapEntries" -> ((b: Array[Byte]) =>
      TextOps.sitemapEntries(new String(b, "UTF-8"))),
    "warcRecords" -> (TextOps.warcRecords(_)))

  def validStreams: Seq[Array[Byte]] = Seq(
    Multimodal.layer1Bytes(3, 2),
    Multimodal.layer2Bytes(3, 2),
    Multimodal.layer3Bytes(3, 2),
    Multimodal.layer3BytesFull(3, 2),
    Multimodal.layer3LinbitsBytes(3, 2),
    Multimodal.layer3StereoBytes(3, 2),
    Multimodal.layer3StereoBytes(3, 2, intensity = true),
    Multimodal.layer3StereoBytes(3, 2, intensity = true, isPos67 = true),
    Multimodal.mpeg1IFrameBytes(3, nPictures = 2),
    Multimodal.mpeg1IPBytes(3),
    Multimodal.mpeg1IPBytes(3, withB = true),
    Multimodal.mpeg1PResidualBytes(3),
    Multimodal.mpeg1PResidualBytes(3, withB = true),
    Multimodal.mpeg1PResidualBytes(3, withB = true, bQuant = true),
    Multimodal.mpeg1PResidualBytes(3, fcode2 = true),
    Multimodal.layer3ShortBytes(3, 2),
    Multimodal.layer3StartStopBytes(3, 2),
    Multimodal.layer3MixedBytes(3, 2),
    Multimodal.layer3StereoShortBytes(3, 2),
    Multimodal.layer3StereoShortBytes(3, 2, intensity = true),
    Multimodal.layer3HuffRealBytes(3, 2),
    Multimodal.layer3Bytes44k(3, 2),
    Multimodal.layer3Bytes44k(3, 2, sr32 = true),
    Multimodal.mpeg1DBytes(3, 2),
    Multimodal.layer3BytesFull(3, 2, crc = true),
    Multimodal.mpeg1SliceBytes(3),
    Multimodal.mpeg1SliceBytes(3, midRow = true),
    Multimodal.mpeg1PResidualBytes(3, bigMotion = true),
    Multimodal.mp3BytesFree(3),
    Multimodal.layer3Huff12Bytes(3, 2),
    Multimodal.layer3MixedStereoBytes(3, 2),
    Multimodal.layer3MixedStereoBytes(3, 2, intensity = true),
    Multimodal.mp3BytesXing(3, 2),
    Multimodal.layer3LsfBytes(3, 2),
    Multimodal.layer3LsfBytes(3, 2, v25 = true),
    Multimodal.layer3LsfShortBytes(3, 2),
    Multimodal.layer3LsfShortBytes(3, 2, mixed = true),
    Multimodal.layer3LsfIntensityBytes(3, 2),
    Multimodal.layer3LsfIntensityBytes(3, 2, shortBlocks = true),
    Multimodal.id3v2Bytes(3),
    Multimodal.aacBytes(3, id3Pad = 20, rdb = 1),
    Multimodal.bmpBytes(8, 8, Array.fill(8 * 8 * 3)(7.toByte)),
    TextOps.gzip("fuzz corpus payload".getBytes("UTF-8")),
    ("<html><body><div>fuzz <a href=x>l</a> &amp; &#65; <script>a<b" +
     "</script><p>tail</p>").getBytes("UTF-8"),
    TextOps.warcBytes(Seq(("response", "http://x/1", "hello"))))

  /** Sixty random blobs plus the empty one, drawn from `rnd`. */
  def randomBlobs(rnd: scala.util.Random): Seq[Array[Byte]] =
    Seq(Array.empty[Byte]) ++
      (0 until 60).map(_ => Array.fill(rnd.nextInt(400))(rnd.nextInt.toByte))

  /** Prefix lengths of `v` that the truncation sweep keeps. */
  def cuts(v: Array[Byte]): Seq[Int] =
    Seq(1, 5, v.length / 3, v.length / 2, v.length - 3).map(math.max(0, _))

  /** A copy of `v` with one byte, drawn from `rnd`, overwritten. */
  def corrupt(v: Array[Byte], rnd: scala.util.Random): Array[Byte] = {
    val b = v.clone()
    b(rnd.nextInt(b.length)) = rnd.nextInt.toByte
    b
  }
}
