package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import L3Writer.{Gran, Table}

/** Multimodal column plumbing: image/audio/video as opaque `BINARY` columns
  * with typed metadata, plus decode / feature-extraction / resize /
  * frame-sampling operators.
  *
  * Decode is REAL end-to-end for the self-contained formats:
  * BMP pixels ([[bmpChannelStats]] — uncompressed, row padding, BGR),
  * PNG pixels ([[pngChannelStats]] — full zlib inflate via the JDK
  * Inflater plus scanline unfiltering, all five filter types),
  * baseline JPEG ([[jpegChannelStats]] — marker walk, Huffman entropy
  * decode, dequantize, IDCT; 1x1-sampled components), and PCM WAV
  * samples ([[wavSampleStats]] — signed 16-bit LE / unsigned 8-bit),
  * with zero external codec dependency; [[imageMeta]]/[[audioMeta]] parse
  * the container headers. MPEG audio is REAL through Layer I/II subband
  * payloads ([[layer1Decode]]/[[layer2Decode]]) and the Layer III
  * structural chain — bit reservoir, scalefactors/scfsi, count1 table B,
  * requantization, alias reduction, IMDCT + overlap-add
  * ([[layer3DecodeFull]]); MPEG-1 video is REAL through intra-frame
  * entropy decode ([[mpeg1IFrameDecode]]), motion-compensated P/B
  * reconstruction, and — round 13 — PREDICTION-ERROR CODING: coded
  * non-intra macroblocks with the full 63-entry Table B.3 CBP VLC,
  * dct_coeff_first/next semantics, non-intra dequantization, the
  * residual-add reconstruction, and the FULL Table B.2c B
  * macroblock-type set including the three quant+coded forms with
  * running-quantizer carry ([[mpeg1IPDecode]], [[BMbTypeCodes]] —
  * structurally verified in Mpeg1ResidualSpec, value-verified by the
  * `multimodal_mpeg1_presidual`/`_bresidual`/`_bquant` oracles).
  *
  * ROUND 14 landed the three big declared ISO data drop-ins, each
  * through a structural-closure gate: Layer III Huffman tables 1-3 and
  * 5-10 plus count1 table A ([[L3IsoHuff]] — per-table exact Kraft
  * completeness and prefix-freeness asserted every build), the Table
  * B.8 scalefactor-band geometry for all three MPEG-1 sample rates
  * ([[L3IsoSynth.sfbLong]]/[[L3IsoSynth.sfbShort]] — monotone tiling
  * closure), and the 512-tap Table C.1 synthesis window
  * ([[L3IsoSynth.winC1]] — pinned FUNCTIONALLY by the analysis→
  * synthesis near-perfect-reconstruction cascade at the published
  * 481-sample delay, L3IsoSynthSpec). Header→PCM on real-table streams
  * is proven end-to-end by `multimodal_mp3_pcm`.
  *
  * What still requires external codec data (Layer III Huffman tables
  * 11-13/15 and the 16/24 linbits families — their recalled data did
  * NOT pass the closure gate, see [[L3IsoHuff]]; AAC payloads;
  * arithmetic-coded JPEG) remains a clearly-marked STUB:
  * [[decodeFeatures]] falls back to deterministic byte-moment features
  * there. The shipping POLICY is unchanged (rounds 10–14): empirical
  * table data ships ONLY when a structural closure property
  * (Kraft/prefix-freeness, tiling, near-PR reconstruction) would catch
  * wrong data — recalled data that cannot be so verified would make
  * self-round-trip tests pass while silently breaking on real files, a
  * fabricated-conformance failure mode strictly worse than the labeled
  * stub. The generalized ESC/linbits walker itself stays proven through
  * the synthetic table at the ISO-unused slot 4
  * (`multimodal_mp3_linbits`); each unshipped table slot is one
  * closure-gated data-array drop-in away from conformance. The Spark-side
  * plumbing — schema, batch shape, partition-parallel mapPartitions,
  * expression-level chunking — is identical for real and stub paths;
  * swapping a stub for a JNI/codec call changes one function.
  *
  * Scale notes: media blobs stay opaque through shuffles (never parsed by
  * Catalyst); feature extraction is mapPartitions (one codec init per
  * partition, the Scala analog of a Pandas-UDF batch); frame sampling is a
  * pure expression, so it pushes through column pruning.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, media: Array[Byte],
                            width: Int, height: Int, sample_rate: Int)
  /** width/height/channels are parsed from the payload for PNG/BMP images
    * (channels also for WAV audio), sample_rate for WAV audio; −1 when the
    * container is unrecognized or the kind has no such dimension. */
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 width: Int, height: Int, channels: Int,
                                 sample_rate: Int, features: Seq[Double])

  final case class ImageMeta(width: Int, height: Int, channels: Int,
                             format: String)

  final case class AudioMeta(sampleRate: Int, channels: Int,
                             bitsPerSample: Int, nFrames: Int)

  private def be32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  /** Header-only image metadata for PNG (signature + IHDR, spec: RFC 2083
    * §3.1/§4.1.1) and BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, 40-byte DIB).
    * Returns None for anything else — the honest "unknown container" path. */
  def imageMeta(bytes: Array[Byte]): Option[ImageMeta] = {
    val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte)
    if (bytes.length >= 29 && bytes.startsWith(PngSig) &&
        new String(bytes.slice(12, 16), "US-ASCII") == "IHDR") {
      val w = be32(bytes, 16); val h = be32(bytes, 20)
      val channels = bytes(25) match {
        case 0 => 1 // greyscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette index
        case 4 => 2 // grey + alpha
        case 6 => 4 // truecolor + alpha
        case _ => -1
      }
      if (w > 0 && h > 0 && channels > 0) Some(ImageMeta(w, h, channels, "png"))
      else None
    } else if (bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M' &&
               le32(bytes, 14) == 40) { // BITMAPINFOHEADER only
      val w = le32(bytes, 18)
      val h = math.abs(le32(bytes, 22)) // negative = top-down rows
      val channels = le16(bytes, 28) / 8 // 8→1, 24→3, 32→4
      if (w > 0 && h > 0 && channels > 0) Some(ImageMeta(w, h, channels, "bmp"))
      else None
    } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
               (bytes(1) & 0xff) == 0xd8) {
      // JPEG: walk the marker stream to SOF0/SOF2 for dimensions.
      var off = 2
      var res: Option[ImageMeta] = None
      while (res.isEmpty && off + 4 <= bytes.length &&
             (bytes(off) & 0xff) == 0xff) {
        // T.81 B.1.1.2: any number of 0xFF fill bytes may precede the
        // marker code — skip them so the code byte is never read as 0xFF.
        while (off + 4 <= bytes.length && (bytes(off + 1) & 0xff) == 0xff)
          off += 1
        val m = bytes(off + 1) & 0xff
        if (m == 0xd9 || m == 0xda) off = bytes.length // EOI/SOS: stop
        else {
          val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
          if ((m == 0xc0 || m == 0xc2) && off + 4 + 6 <= bytes.length) {
            val h = ((bytes(off + 5) & 0xff) << 8) | (bytes(off + 6) & 0xff)
            val w = ((bytes(off + 7) & 0xff) << 8) | (bytes(off + 8) & 0xff)
            val ch = bytes(off + 9) & 0xff
            if (w > 0 && h > 0 && ch > 0) res = Some(ImageMeta(w, h, ch, "jpeg"))
          }
          off += 2 + len
        }
      }
      res
    } else if (bytes.length >= 13 &&
               (new String(bytes.slice(0, 6), "US-ASCII") == "GIF87a" ||
                new String(bytes.slice(0, 6), "US-ASCII") == "GIF89a")) {
      // GIF: logical screen descriptor; palette-indexed output is mapped
      // through an RGB color table, so channels = 3.
      val w = le16(bytes, 6); val h = le16(bytes, 8)
      if (w > 0 && h > 0) Some(ImageMeta(w, h, 3, "gif")) else None
    } else None
  }

  /** Header-only audio metadata for canonical WAV (RIFF/WAVE with a 16-byte
    * PCM fmt chunk at offset 12 and the data chunk right after — the layout
    * every encoder emits for plain PCM). Frame count = data length /
    * block align. Returns None for anything else. */
  def audioMeta(bytes: Array[Byte]): Option[AudioMeta] = {
    def tag(off: Int, s: String) =
      bytes.length >= off + 4 &&
        new String(bytes.slice(off, off + 4), "US-ASCII") == s
    if (bytes.length >= 44 && tag(0, "RIFF") && tag(8, "WAVE") &&
        tag(12, "fmt ") && le32(bytes, 16) == 16 && tag(36, "data")) {
      val channels = le16(bytes, 22)
      val sampleRate = le32(bytes, 24)
      val bps = le16(bytes, 34)
      val blockAlign = le16(bytes, 32)
      val dataLen = le32(bytes, 40)
      if (channels > 0 && sampleRate > 0 && bps > 0 && blockAlign > 0)
        Some(AudioMeta(sampleRate, channels, bps, dataLen / blockAlign))
      else None
    } else None
  }

  /** REAL BMP pixel decode — per-channel mean and mean-square (bytes
    * scaled to [0,1]) over every complete pixel present in the payload.
    * Honors the header's pixel-data offset, 4-byte row alignment, and
    * channel count (8/24/32 bpp); bottom-up vs top-down row order is
    * irrelevant to the statistics. A truncated pixel array (synthetic
    * corpora, partial fetches) decodes the available prefix honestly —
    * only pixels whose bytes are all present count. Returns
    * (meta, nPixels, perChannelMean, perChannelMeanSq); None when the
    * container isn't BMP. */
  def bmpChannelStats(bytes: Array[Byte])
      : Option[(ImageMeta, Long, Array[Double], Array[Double])] =
    imageMeta(bytes) match {
      case Some(meta) if meta.format == "bmp" &&
          le32(bytes, 30) == 1 && le16(bytes, 28) == 8 =>
        // REAL BI_RLE8 decode (Windows BMP spec): (count, index) runs,
        // escapes 00 00 = end of line, 00 01 = end of bitmap,
        // 00 02 dx dy = delta, 00 n (n ≥ 3) = absolute mode with WORD
        // alignment. Indices map through the RGBQUAD palette (B,G,R,_),
        // so stats are 3-channel like the GIF path. Rows are stored
        // bottom-up; the stats are orientation-free sums.
        // An 8-bpp palette has at most 256 entries, and a truncated or
        // crafted header must degrade to None (the partial-tail contract
        // every codec path follows), not throw out of the palette read.
        val clrUsed = {
          val c = le32(bytes, 46)
          if (c == 0) 256 else math.min(c, 256)
        }
        if (54 + 4 * clrUsed > bytes.length) return None
        val pal = Array.tabulate(clrUsed)(i =>
          ((bytes(54 + 4 * i + 2) & 0xff) << 16) |
            ((bytes(54 + 4 * i + 1) & 0xff) << 8) |
            (bytes(54 + 4 * i) & 0xff))
        val sums = new Array[Double](3); val sqs = new Array[Double](3)
        var n = 0L
        var p = le32(bytes, 10)
        var x = 0; var y = 0 // y counts rows from the bottom
        def emit(idx: Int, count: Int): Unit = {
          var k = 0
          while (k < count) {
            if (x + k < meta.width && y < meta.height && idx < clrUsed) {
              val rgb = pal(idx)
              var c = 0
              while (c < 3) {
                val v = ((rgb >> (16 - 8 * c)) & 0xff) / 255.0
                sums(c) += v; sqs(c) += v * v; c += 1
              }
              n += 1
            }
            k += 1
          }
        }
        try {
          var done = false
          while (!done && p + 1 < bytes.length) {
            val b0 = bytes(p) & 0xff; val b1 = bytes(p + 1) & 0xff
            p += 2
            if (b0 > 0) { emit(b1, b0); x += b0 }
            else b1 match {
              case 0 => x = 0; y += 1 // EOL
              case 1 => done = true   // EOF
              case 2 =>               // delta
                x += bytes(p) & 0xff; y += bytes(p + 1) & 0xff; p += 2
              case cnt =>             // absolute mode
                var i = 0
                while (i < cnt && p < bytes.length) {
                  emit(bytes(p) & 0xff, 1); p += 1; x += 1; i += 1
                }
                if ((cnt & 1) == 1) p += 1 // WORD alignment pad
            }
          }
        } catch { case _: ArrayIndexOutOfBoundsException => () }
        Some((meta.copy(channels = 3), n, sums, sqs))
      case Some(meta) if meta.format == "bmp" =>
        val off = le32(bytes, 10)
        val ch = meta.channels
        val stride = ((meta.width * ch + 3) / 4) * 4
        val sums = new Array[Double](ch)
        val sqs = new Array[Double](ch)
        var n = 0L
        var r = 0
        while (r < meta.height) {
          val rowBase = off.toLong + r.toLong * stride
          var x = 0
          while (x < meta.width) {
            val base = rowBase + x.toLong * ch
            if (base >= 0 && base + ch <= bytes.length) {
              var c = 0
              while (c < ch) {
                val v = (bytes((base + c).toInt) & 0xff) / 255.0
                sums(c) += v; sqs(c) += v * v
                c += 1
              }
              n += 1
            }
            x += 1
          }
          r += 1
        }
        Some((meta, n, sums, sqs))
      case _ => None
    }

  /** REAL WAV PCM sample decode — 16-bit little-endian signed samples
    * (the canonical PCM encoding; 8-bit unsigned also handled) normalized
    * to [−1, 1). Returns (meta, nSamples, mean, meanSquare, peakAbs,
    * zeroCrossings) over every COMPLETE sample present in the payload —
    * a truncated data chunk (synthetic corpora, partial fetches) decodes
    * the available prefix honestly, like [[bmpChannelStats]]. Channels are
    * interleaved per the WAV spec; the statistics here pool channels
    * (per-channel splits are a grouping away in the caller). None when the
    * container isn't canonical PCM WAV or the bit depth is unsupported. */
  def wavSampleStats(bytes: Array[Byte])
      : Option[(AudioMeta, Long, Double, Double, Double, Long)] =
    audioMeta(bytes).collect {
      case meta if meta.bitsPerSample == 16 || meta.bitsPerSample == 8 =>
        val bps = meta.bitsPerSample / 8
        val declared = le32(bytes, 40)
        val end = math.min(bytes.length.toLong, 44L + declared)
        var off = 44L
        var n = 0L; var sum = 0.0; var sq = 0.0; var peak = 0.0
        var crossings = 0L; var prevSign = 0
        while (off + bps <= end) {
          val v =
            if (bps == 2) // 16-bit LE signed
              (((bytes((off + 1).toInt) & 0xff) << 8) |
                (bytes(off.toInt) & 0xff)).toShort / 32768.0
            else // 8-bit WAV is unsigned, midpoint 128
              ((bytes(off.toInt) & 0xff) - 128) / 128.0
          sum += v; sq += v * v
          val a = math.abs(v); if (a > peak) peak = a
          val sign = if (v > 0) 1 else if (v < 0) -1 else 0
          if (sign != 0 && prevSign != 0 && sign != prevSign) crossings += 1
          if (sign != 0) prevSign = sign
          n += 1; off += bps
        }
        (meta, n, if (n > 0) sum / n else 0.0,
         if (n > 0) sq / n else 0.0, peak, crossings)
    }

  /** REAL MP3 container metadata (ISO/IEC 11172-3 frame headers, public
    * spec) — no payload decode (that stays the declared stub seam; the
    * Huffman-coded subband samples genuinely need a full synthesis
    * filterbank), but sample rate, channel mode, bitrate and frame/
    * duration accounting are parsed for real: skip an ID3v2 tag
    * (synchsafe length), find the first valid frame sync, then hop
    * frame-by-frame (length = 144·bitrate/samplerate + padding for
    * MPEG-1 Layer III; 72· for MPEG-2/2.5) counting frames. nFrames
    * counts COMPLETE frames present — truncation honesty like every
    * decoder here. Returns (meta, bitrateKbps, durationSec); None when
    * no valid MPEG audio frame is found. */
  def mp3Meta(bytes: Array[Byte]): Option[(AudioMeta, Int, Double)] = {
    // MPEG-1 Layer III bitrate table (kbps), index 1..14; V2/V2.5 table.
    val brV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                     224, 256, 320)
    val brV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                     144, 160)
    val srV1 = Array(44100, 48000, 32000)
    var off = 0
    // ID3v2: "ID3" + ver(2) + flags(1) + synchsafe size(4)
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + size
    }
    def frameAt(p: Int): Option[(Int, Int, Int, Int, Int)] = {
      // returns (frameLen, sampleRate, channels, bitrateKbps, samplesPerFrame)
      if (p + 4 > bytes.length) return None
      val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff
      val b3 = bytes(p + 2) & 0xff; val b4 = bytes(p + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
      val version = (b2 >> 3) & 0x3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
      val layer = (b2 >> 1) & 0x3   // 1=Layer III
      if (version == 1 || layer != 1) return None
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      val sr0 = srV1(srIdx)
      // MPEG-2/2.5 Layer III frames carry 576 samples, not 1152 — the
      // duration math must use the per-version count (r8 ADVICE fix).
      val (sr, kbps, mult, spf) = version match {
        case 3 => (sr0, brV1(brIdx), 144, 1152)
        case 2 => (sr0 / 2, brV2(brIdx), 72, 576)
        case _ => (sr0 / 4, brV2(brIdx), 72, 576)
      }
      val padding = (b3 >> 1) & 1
      val channels = if (((b4 >> 6) & 0x3) == 3) 1 else 2
      val len = mult * kbps * 1000 / sr + padding
      if (len < 4) None else Some((len, sr, channels, kbps, spf))
    }
    // FREE FORMAT (§2.4.2.3, bitrate_index 0): the constant frame
    // length is not in the table — it is DISCOVERED as the distance to
    // the next syncword carrying the identical header bytes 1-3 (same
    // version/layer/rate/padding; the constant-padding subset). The
    // derived bitrate is len·sr/(mult·1000) — values the table cannot
    // express are exactly what free format exists for.
    def freeAt(p: Int): Option[(Int, Int, Int, Int, Int)] = {
      if (p + 4 > bytes.length) return None
      val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff
      val b3 = bytes(p + 2) & 0xff; val b4 = bytes(p + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
      val version = (b2 >> 3) & 0x3; val layer = (b2 >> 1) & 0x3
      if (version == 1 || layer != 1) return None
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 0x3
      if (brIdx != 0 || srIdx == 3) return None
      // Discover the constant frame length from the next matching sync —
      // PREFERRING a candidate that RE-CHAINS (a matching sync at
      // p+2·len, or the stream ending within one more frame): a stray
      // 0xFF + matching bytes inside the payload would otherwise
      // silently truncate the discovered length (round-14 advice). If
      // NO candidate re-chains — a 2-frame stream with trailing
      // non-frame bytes such as an ID3v1 trailer — fall back to the
      // FIRST matching sync: with no third frame there is nothing to
      // disambiguate, and refusing would drop a stream that parses
      // fine (round-14 review).
      def syncMatch(r: Int): Boolean =
        r + 4 <= bytes.length && (bytes(r) & 0xff) == 0xff &&
          bytes(r + 1) == bytes(p + 1) && bytes(r + 2) == bytes(p + 2) &&
          bytes(r + 3) == bytes(p + 3)
      var q = p + 4
      var len = -1
      var firstMatch = -1
      while (len < 0 && q + 4 <= bytes.length) {
        if (syncMatch(q)) {
          if (firstMatch < 0) firstMatch = q - p
          if (p + 2 * (q - p) + 4 > bytes.length || syncMatch(p + 2 * (q - p)))
            len = q - p
        }
        q += 1
      }
      if (len < 4 && firstMatch >= 4) len = firstMatch
      if (len < 4) return None
      val sr0 = srV1(srIdx)
      val (sr, mult, spf) = version match {
        case 3 => (sr0, 144, 1152)
        case 2 => (sr0 / 2, 72, 576)
        case _ => (sr0 / 4, 72, 576)
      }
      val channels = if (((b4 >> 6) & 0x3) == 3) 1 else 2
      Some((len, sr, channels, len * sr / (mult * 1000), spf))
    }
    // Find the first sync that also chains to a valid (or absent) next
    // frame — guards against 0xFFEx bytes inside tag padding. A free-
    // format candidate is self-verifying (its length came from a
    // matching next sync).
    var found = -1
    while (found < 0 && off + 4 <= bytes.length) {
      frameAt(off) match {
        case Some((len, _, _, _, _))
            if off + len + 4 > bytes.length || frameAt(off + len).isDefined =>
          found = off
        case _ =>
          if (freeAt(off).isDefined) found = off else off += 1
      }
    }
    if (found < 0) return None
    val free = frameAt(found).isEmpty
    frameAt(found).orElse(freeAt(found)).map { case (len0, sr, ch, kbps, spf) =>
      var p = found
      var frames = 0
      var ok = true
      while (ok) {
        // free-format frames all share the discovered constant length;
        // table-bitrate frames re-derive length per header (padding)
        val fa =
          if (free) {
            // match the SAME byte range (1-3) the discovery step matched,
            // so a mid-stream mode change is a chain break, not a count
            if (p + 4 <= bytes.length && (bytes(p) & 0xff) == 0xff &&
                bytes(p + 1) == bytes(found + 1) &&
                bytes(p + 2) == bytes(found + 2) &&
                bytes(p + 3) == bytes(found + 3)) Some(len0) else None
          } else frameAt(p).map(_._1)
        fa match {
          case Some(len) if p + len <= bytes.length =>
            frames += 1; p += len
          case _ => ok = false
        }
      }
      (AudioMeta(sr, ch, -1, frames), kbps, frames.toDouble * spf / sr)
    }
  }

  /** A minimal real MP3 stream: `nFrames` Layer III frames with
    * deterministic filler payload, optionally prefixed by an ID3v2 tag.
    * MPEG-1 (default): 44.1 kHz mono 128 kbps, frame length 417.
    * `mpeg2 = true`: MPEG-2 LSF, 22.05 kHz mono 80 kbps, frame length
    * 261, 576 samples/frame. The frame HEADERS are genuine; the payload
    * is not a real Huffman bitstream (metadata-parse fixture, not a
    * listenable file). */
  def mp3Bytes(nFrames: Int, id3Pad: Int = 0,
               mpeg2: Boolean = false): Array[Byte] = {
    // 144*128000/44100 = 417 (V1) | 72*80000/22050 = 261 (V2), no padding
    val frameLen = if (mpeg2) 261 else 417
    val out = new java.io.ByteArrayOutputStream()
    if (id3Pad > 0) {
      out.write(Array('I', 'D', '3', 3, 0, 0).map(_.toByte))
      out.write(Array((id3Pad >> 21) & 0x7f, (id3Pad >> 14) & 0x7f,
        (id3Pad >> 7) & 0x7f, id3Pad & 0x7f).map(_.toByte))
      (0 until id3Pad).foreach(i => out.write(i & 0x7f))
    }
    (0 until nFrames).foreach { f =>
      // sync + version + Layer III + no CRC: V1 = 0xfb, V2 (LSF) = 0xf3
      out.write(0xff); out.write(if (mpeg2) 0xf3 else 0xfb)
      out.write(0x90) // bitrate idx 9 (128 V1 / 80 V2), sr idx 0
      out.write(0xc0) // mono
      (4 until frameLen).foreach(i => out.write((f * 31 + i) & 0xff))
    }
    out.toByteArray
  }

  /** Xing/Info VBR header metadata (round 15; the de-facto standard
    * every public MP3 toolchain writes and reads — lame, ffmpeg,
    * mpg123): the FIRST MPEG frame's data area, immediately after the
    * side info (MPEG-1: 17 bytes mono / 32 stereo; MPEG-2 LSF: 9 / 17 —
    * the version×mode OFFSET arithmetic is the real decode content),
    * carries the magic `Xing` (VBR) or `Info` (CBR), a 4-byte
    * big-endian flag word (1 = frame count, 2 = byte count, 4 = the
    * 100-byte seek TOC, 8 = quality), then exactly the flagged fields
    * in that order. Returns (tag, flags, frames, bytes, tocSum,
    * quality, channels) with −1 for absent fields; None when the first
    * frame carries no Xing/Info magic at the correct offset. ID3v2
    * prefixes are skipped like [[mp3Meta]]. */
  def mp3XingMeta(bytes: Array[Byte])
      : Option[(String, Long, Long, Long, Long, Long, Int)] = {
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val size = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + size
    }
    if (off + 4 > bytes.length) return None
    val b1 = bytes(off) & 0xff; val b2 = bytes(off + 1) & 0xff
    val b4 = bytes(off + 3) & 0xff
    if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
    val version = (b2 >> 3) & 0x3
    if (version == 1 || ((b2 >> 1) & 0x3) != 1) return None
    val mono = ((b4 >> 6) & 0x3) == 3
    val side = if (version == 3) { if (mono) 17 else 32 }
               else { if (mono) 9 else 17 }
    var p = off + 4 + side
    if (p + 8 > bytes.length) return None
    val tag = new String(bytes.slice(p, p + 4), "ISO-8859-1")
    if (tag != "Xing" && tag != "Info") return None
    def be32(q: Int): Long =
      ((bytes(q) & 0xffL) << 24) | ((bytes(q + 1) & 0xffL) << 16) |
        ((bytes(q + 2) & 0xffL) << 8) | (bytes(q + 3) & 0xffL)
    val flags = be32(p + 4)
    p += 8
    val need = (if ((flags & 1) != 0) 4 else 0) +
      (if ((flags & 2) != 0) 4 else 0) +
      (if ((flags & 4) != 0) 100 else 0) +
      (if ((flags & 8) != 0) 4 else 0)
    if (p + need > bytes.length) return None
    def take4(present: Boolean): Long =
      if (!present) -1L
      else { val v = be32(p); p += 4; v }
    val frames = take4((flags & 1) != 0)
    val nBytes = take4((flags & 2) != 0)
    val tocSum =
      if ((flags & 4) == 0) -1L
      else {
        var s = 0L; var k = 0
        while (k < 100) { s += bytes(p + k) & 0xff; k += 1 }
        p += 100; s
      }
    val quality = take4((flags & 8) != 0)
    Some((tag, flags, frames, nBytes, tocSum, quality, if (mono) 1 else 2))
  }

  /** Fixture for [[mp3XingMeta]]: a 44.1 kHz / 128 kbps Layer III
    * stream whose first frame carries a Xing/Info header — tag, flag
    * subset (all 15 nonempty subsets cycle), channel mode, and ID3v2
    * prefix all vary by seed; every fifth seed emits a PLAIN stream
    * (no VBR header → None). Field values come from closed seed
    * formulas the oracle replays. */
  def mp3BytesXing(id: Long, nFrames: Int): Array[Byte] = {
    val frameLen = 417
    val mono = id % 2 == 0
    val pad = if (id % 3 == 1) 50 else 0
    val out = new java.io.ByteArrayOutputStream()
    if (pad > 0) {
      out.write(Array('I', 'D', '3', 3, 0, 0).map(_.toByte))
      out.write(Array(0, 0, (pad >> 7) & 0x7f, pad & 0x7f).map(_.toByte))
      (0 until pad).foreach(i => out.write(i & 0x7f))
    }
    def frameHeader(): Unit = {
      out.write(0xff); out.write(0xfb); out.write(0x90)
      out.write(if (mono) 0xc0 else 0x00)
    }
    if (id % 5 != 4) {
      // first frame: side info zeros, then the Xing/Info block
      frameHeader()
      val side = if (mono) 17 else 32
      (0 until side).foreach(_ => out.write(0))
      val tag = if (id % 3 == 0) "Info" else "Xing"
      tag.foreach(c => out.write(c.toInt))
      val flags = (id % 15).toInt + 1
      out.write(0); out.write(0); out.write(0); out.write(flags)
      def be32(v: Long): Unit = {
        out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
        out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
      }
      if ((flags & 1) != 0) be32(nFrames)
      if ((flags & 2) != 0) be32(frameLen.toLong * (nFrames + 1))
      if ((flags & 4) != 0)
        (0 until 100).foreach(k => out.write(((id * 7 + k * 13) % 256).toInt))
      if ((flags & 8) != 0) be32((id * 11) % 101)
      while (out.size % frameLen != (if (pad > 0) (pad + 10) % frameLen
                                     else 0)) out.write(0)
    }
    (0 until nFrames).foreach { f =>
      frameHeader()
      (4 until frameLen).foreach(i => out.write((f * 31 + i) & 0x7f))
    }
    out.toByteArray
  }

  /** ID3v2.3 / v2.4 tag FRAME walk (round 15; public id3.org spec —
    * the metadata layer of nearly every real-world MP3): header `ID3`,
    * version byte 3 or 4, flags 0, syncsafe tag size; then frames of
    * 4-char id + size + 2 flag bytes + payload, where the SIZE field is
    * plain 32-bit big-endian in v2.3 but SYNCSAFE (4×7 bits) in v2.4 —
    * the version split is the decode content, load-bearing for any
    * frame ≥ 128 bytes. Text frames (`T...`) carry an encoding byte
    * (0 = ISO-8859-1) before the text. The walk stops at padding (a
    * zero byte where a frame id would start) or tag end. Returns
    * (version, frames as (id, size, text)). */
  def id3v2Frames(bytes: Array[Byte])
      : Option[(Int, Seq[(String, Int, String)])] = {
    if (bytes.length < 10 || bytes(0) != 'I' || bytes(1) != 'D' ||
        bytes(2) != '3') return None
    val ver = bytes(3) & 0xff
    if (ver != 3 && ver != 4) return None
    val tagSize = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
      ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
    val end = math.min(10 + tagSize, bytes.length)
    var p = 10
    val frames = Seq.newBuilder[(String, Int, String)]
    var ok = true
    while (ok && p + 10 <= end && bytes(p) != 0) {
      val fid = new String(bytes.slice(p, p + 4), "ISO-8859-1")
      if (!fid.forall(c => c.isUpper || c.isDigit)) ok = false
      else {
        val size =
          if (ver == 4)
            ((bytes(p + 4) & 0x7f) << 21) | ((bytes(p + 5) & 0x7f) << 14) |
              ((bytes(p + 6) & 0x7f) << 7) | (bytes(p + 7) & 0x7f)
          else
            ((bytes(p + 4) & 0xff) << 24) | ((bytes(p + 5) & 0xff) << 16) |
              ((bytes(p + 6) & 0xff) << 8) | (bytes(p + 7) & 0xff)
        if (p + 10 + size > end || size <= 0) ok = false
        else {
          val text =
            if (fid.startsWith("T") && size >= 1 && bytes(p + 10) == 0)
              new String(bytes.slice(p + 11, p + 10 + size), "ISO-8859-1")
            else ""
          frames += ((fid, size, text))
          p += 10 + size
        }
      }
    }
    if (!ok) None else Some((ver, frames.result()))
  }

  /** Fixture for [[id3v2Frames]]: a v2.3 (even seeds) / v2.4 (odd
    * seeds) tag with four text frames — TIT2 / TPE1 / TRCK short,
    * TALB deliberately ≥ 128 bytes so the v2.3-plain vs v2.4-syncsafe
    * size encodings produce DIFFERENT bytes and a wrong size walk
    * derails — plus padding, followed by one MPEG frame. */
  def id3v2Bytes(id: Long): Array[Byte] = {
    val ver = if (id % 2 == 0) 3 else 4
    val texts = Seq(
      "TIT2" -> ("ti" + "t" * ((id * 7) % 5 + 1).toInt),
      "TPE1" -> ("ar" + "p" * ((id * 11) % 7 + 1).toInt),
      "TALB" -> ("al" * (64 + (id % 40) * 2).toInt),
      "TRCK" -> (id % 20).toString)
    val body = new java.io.ByteArrayOutputStream()
    texts.foreach { case (fid, txt) =>
      fid.foreach(c => body.write(c.toInt))
      val size = txt.length + 1
      if (ver == 4) {
        body.write((size >> 21) & 0x7f); body.write((size >> 14) & 0x7f)
        body.write((size >> 7) & 0x7f); body.write(size & 0x7f)
      } else {
        body.write((size >> 24) & 0xff); body.write((size >> 16) & 0xff)
        body.write((size >> 8) & 0xff); body.write(size & 0xff)
      }
      body.write(0); body.write(0) // frame flags
      body.write(0)                // encoding 0 = ISO-8859-1
      txt.foreach(c => body.write(c.toInt))
    }
    (0 until (id % 30).toInt).foreach(_ => body.write(0)) // padding
    val b = body.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array('I', 'D', '3').map(_.toByte))
    out.write(ver); out.write(0); out.write(0)
    out.write((b.length >> 21) & 0x7f); out.write((b.length >> 14) & 0x7f)
    out.write((b.length >> 7) & 0x7f); out.write(b.length & 0x7f)
    out.write(b)
    // one real MPEG frame after the tag (offset math composes)
    out.write(0xff); out.write(0xfb); out.write(0x90); out.write(0xc0)
    (4 until 417).foreach(i => out.write(i & 0x7f))
    out.toByteArray
  }

  /** A minimal real FREE-FORMAT MP3 stream (§2.4.2.3, bitrate_index 0):
    * `nFrames` MPEG-1 Layer III 48 kHz mono frames of constant length
    * 300 bytes — the 100 kbps rate the bitrate table cannot express,
    * which is exactly what free format exists for. Payload bytes stay
    * below 0xFF so the only syncwords are the real frame headers.
    * Optionally ID3v2-prefixed. Metadata-parse fixture. */
  def mp3BytesFree(nFrames: Int, id3Pad: Int = 0): Array[Byte] = {
    val frameLen = 300 // 144 · 100000 / 48000
    val out = new java.io.ByteArrayOutputStream()
    if (id3Pad > 0) {
      out.write(Array('I', 'D', '3', 3, 0, 0).map(_.toByte))
      out.write(Array((id3Pad >> 21) & 0x7f, (id3Pad >> 14) & 0x7f,
        (id3Pad >> 7) & 0x7f, id3Pad & 0x7f).map(_.toByte))
      (0 until id3Pad).foreach(i => out.write(i & 0x7f))
    }
    (0 until nFrames).foreach { f =>
      out.write(0xff); out.write(0xfb) // V1, Layer III, no CRC
      out.write(0x04)                  // bitrate idx 0 (FREE), 48 kHz
      out.write(0xc0)                  // mono
      (4 until frameLen).foreach(i => out.write((f * 31 + i) % 251))
    }
    out.toByteArray
  }

  /** ADTS sampling_frequency_index table (ISO 13818-7 / 14496-3,
    * public spec). Index ≥ 13 is reserved → refuse. */
  private[pipeline] val AdtsSampleRates: Array[Int] = Array(
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350)

  /** AAC/ADTS CONTAINER metadata (round 14): the header walk real AAC
    * files need without any payload decode — ID3v2 skip (synchsafe
    * length), 12-bit 0xFFF sync with layer '00', profile /
    * sampling_frequency_index / channel_configuration fields, and the
    * aac_frame_length chain hop (7-byte headers, 9 with the CRC word
    * when protection_absent = 0 — the CRC bytes are length-accounted,
    * not verified: ADTS CRC semantics cover raw-block positions and
    * stay out of container scope). Every frame contributes
    * 1024 · (number_of_raw_data_blocks + 1) samples. nFrames counts
    * COMPLETE frames (truncation honesty); refusals: reserved
    * frequency index, nonzero layer, frame_length smaller than its own
    * header. Returns (meta, profile, durationSec); the AAC PAYLOAD
    * (raw_data_block) remains the declared out-of-scope codec. */
  def aacAdtsMeta(bytes: Array[Byte]): Option[(AudioMeta, Int, Double)] = {
    var off = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' &&
        bytes(2) == '3') {
      val len = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      off = 10 + len
    }
    def frameAt(p: Int): Option[(Int, Int, Int, Int, Int, Int)] = {
      if (p + 7 > bytes.length) return None
      val b0 = bytes(p) & 0xff; val b1 = bytes(p + 1) & 0xff
      val b2 = bytes(p + 2) & 0xff; val b3 = bytes(p + 3) & 0xff
      val b4 = bytes(p + 4) & 0xff; val b5 = bytes(p + 5) & 0xff
      val b6 = bytes(p + 6) & 0xff
      if (b0 != 0xff || (b1 & 0xf0) != 0xf0) return None
      if ((b1 & 0x06) != 0) return None // layer must be '00'
      val protAbsent = b1 & 1
      val profile = (b2 >> 6) & 0x3
      val srIdx = (b2 >> 2) & 0xf
      if (srIdx >= AdtsSampleRates.length) return None
      val ch = ((b2 & 1) << 2) | ((b3 >> 6) & 0x3)
      val frameLen = ((b3 & 0x3) << 11) | (b4 << 3) | ((b5 >> 5) & 0x7)
      val rdb = b6 & 0x3
      val hdr = if (protAbsent == 1) 7 else 9
      if (frameLen < hdr) return None
      Some((frameLen, AdtsSampleRates(srIdx), ch, profile, rdb, protAbsent))
    }
    // first sync must chain to a valid (or absent) next frame — the
    // same tag-padding guard as the MP3 walk
    var found = -1
    while (found < 0 && off + 7 <= bytes.length) {
      frameAt(off) match {
        case Some((len, _, _, _, _, _))
            if off + len + 7 > bytes.length || frameAt(off + len).isDefined =>
          found = off
        case _ => off += 1
      }
    }
    if (found < 0) return None
    frameAt(found).map { case (_, sr, ch, profile, _, _) =>
      var p = found
      var frames = 0
      var samples = 0L
      var ok = true
      while (ok) {
        frameAt(p) match {
          case Some((len, sr2, ch2, pf2, rdb, _))
              if p + len <= bytes.length && sr2 == sr && ch2 == ch &&
                pf2 == profile =>
            frames += 1; samples += 1024L * (rdb + 1); p += len
          case _ => ok = false
        }
      }
      (AudioMeta(sr, ch, -1, frames), profile,
       samples.toDouble / sr)
    }
  }

  /** A minimal real ADTS AAC stream: `nFrames` frames with genuine
    * 7-byte ADTS headers (profile / frequency-index / channel /
    * raw-data-block fields all live) and deterministic filler payload
    * whose per-frame LENGTH varies, so the metadata walk must follow
    * the aac_frame_length chain rather than a constant hop. The payload
    * is not a real raw_data_block (container-metadata fixture). */
  def aacBytes(nFrames: Int, id3Pad: Int = 0, profile: Int = 1,
               srIdx: Int = 3, channels: Int = 1,
               rdb: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    if (id3Pad > 0) {
      out.write(Array('I', 'D', '3', 3, 0, 0).map(_.toByte))
      out.write(Array((id3Pad >> 21) & 0x7f, (id3Pad >> 14) & 0x7f,
        (id3Pad >> 7) & 0x7f, id3Pad & 0x7f).map(_.toByte))
      (0 until id3Pad).foreach(i => out.write(i & 0x7f))
    }
    (0 until nFrames).foreach { f =>
      val payload = 50 + (f * 17 + srIdx * 7 + profile * 3) % 100
      val frameLen = 7 + payload
      out.write(0xff)
      out.write(0xf1) // MPEG-4, layer 00, protection_absent 1
      out.write((profile << 6) | (srIdx << 2) | ((channels >> 2) & 1))
      out.write(((channels & 0x3) << 6) | ((frameLen >> 11) & 0x3))
      out.write((frameLen >> 3) & 0xff)
      out.write(((frameLen & 0x7) << 5) | 0x1f) // buffer fullness hi
      out.write(0xfc | (rdb & 0x3))             // fullness lo + rdb
      (0 until payload).foreach(i => out.write((f * 13 + i) % 251))
    }
    out.toByteArray
  }

  /** A minimal canonical WAV header + payload (PCM, 16-byte fmt chunk).
    * `declaredLen` overrides the data-chunk length field when the payload
    * is appended separately (the synthetic-corpus path); −1 = payload
    * length. */
  def wavBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
               payload: Array[Byte], declaredLen: Int = -1): Array[Byte] = {
    val dataLen = if (declaredLen >= 0) declaredLen else payload.length
    val out = new Array[Byte](44 + payload.length)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    def putLe16(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
    }
    def putTag(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").copyToArray(out, off)
    putTag(0, "RIFF"); putLe32(4, 36 + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); putLe32(16, 16); putLe16(20, 1) // PCM
    putLe16(22, channels); putLe32(24, sampleRate)
    putLe32(28, sampleRate * channels * bitsPerSample / 8)
    putLe16(32, channels * bitsPerSample / 8); putLe16(34, bitsPerSample)
    putTag(36, "data"); putLe32(40, dataLen)
    System.arraycopy(payload, 0, out, 44, payload.length)
    out
  }

  /** A minimal well-formed BMP (54-byte header + raw payload as pixel data)
    * — lets synthetic corpora carry REAL parseable image containers. The
    * payload is not padded to BMP row alignment; [[imageMeta]] only reads
    * the header, and the stub moments hash whatever bytes follow. */
  def bmpBytes(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](54 + payload.length)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length) // file size
    putLe32(10, 54)        // pixel-data offset
    putLe32(14, 40)        // BITMAPINFOHEADER size
    putLe32(18, width)
    putLe32(22, height)
    out(26) = 1            // planes
    out(28) = 24           // bits per pixel (3 channels)
    putLe32(34, payload.length)
    System.arraycopy(payload, 0, out, 54, payload.length)
    out
  }

  /** Build a real BI_RLE4-compressed BMP (the nibble RLE): encoded-mode
    * runs where the data byte's TWO nibbles ALTERNATE across the run
    * (hi, lo, hi, ...), absolute chunks of packed nibbles padded to
    * WORD boundaries, EOL per row, final EOF. 16-entry RGBQUAD
    * palette; `pixels` are 0..15 indices in storage (bottom-up) order. */
  def bmpBytesRle4(width: Int, height: Int,
                   pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height, "pixels must be w*h indices")
    val data = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = data.write(v & 0xff)
    var y = 0
    while (y < height) {
      val row = java.util.Arrays.copyOfRange(pixels, y * width,
                                             (y + 1) * width)
      if (y % 2 == 0) { // encoded mode: two-nibble alternating runs
        var x = 0
        while (x < width) {
          // a run covers pixels matching the alternating pair (a, b)
          val a = row(x) & 0xf
          val b = if (x + 1 < width) row(x + 1) & 0xf else a
          var run = 1
          while (x + run < width && run < 255 &&
                 (row(x + run) & 0xf) == (if (run % 2 == 0) a else b))
            run += 1
          u8(run); u8((a << 4) | b)
          x += run
        }
      } else { // absolute mode: packed nibbles, WORD-aligned
        var x = 0
        while (x < width) {
          val rem = width - x
          if (rem >= 3) {
            val cnt = math.min(rem, 254)
            u8(0); u8(cnt)
            var i = 0
            while (i < cnt) {
              val hi = row(x + i) & 0xf
              val lo = if (i + 1 < cnt) row(x + i + 1) & 0xf else 0
              u8((hi << 4) | lo)
              i += 2
            }
            if (((cnt + 1) / 2) % 2 == 1) u8(0) // WORD alignment
            x += cnt
          } else {
            u8(1); u8((row(x) & 0xf) << 4)
            x += 1
          }
        }
      }
      u8(0); u8(if (y == height - 1) 1 else 0) // EOL / final EOF
      y += 1
    }
    val body = data.toByteArray
    val out = new Array[Byte](54 + 64 + body.length)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length)
    putLe32(10, 54 + 64)    // data after header + 16 RGBQUADs
    putLe32(14, 40)
    putLe32(18, width); putLe32(22, height)
    out(26) = 1
    out(28) = 4             // 4 bpp
    putLe32(30, 2)          // BI_RLE4
    putLe32(34, body.length)
    putLe32(46, 16)         // biClrUsed
    var i = 0
    while (i < 16) { // identity-ish gray palette: v = i * 17
      val v = i * 17
      out(54 + 4 * i) = v.toByte      // blue
      out(54 + 4 * i + 1) = v.toByte  // green
      out(54 + 4 * i + 2) = v.toByte  // red
      i += 1
    }
    System.arraycopy(body, 0, out, 54 + 64, body.length)
    out
  }

  /** Decode a BI_RLE4 BMP to per-channel stats (the RLE8 path's shape):
    * alternating-nibble runs, packed absolute chunks with WORD pads,
    * EOL/EOF/delta escapes. None unless the header says 4 bpp RLE4. */
  def bmpRle4Stats(bytes: Array[Byte])
      : Option[(ImageMeta, Long, Array[Double], Array[Double])] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    if ((bytes(28) & 0xff) != 4 || le32(bytes, 30) != 2) return None
    val width = le32(bytes, 18)
    val height = le32(bytes, 22)
    if (width <= 0 || height <= 0) return None
    val clrUsed = {
      val c = le32(bytes, 46)
      if (c == 0) 16 else math.min(c, 16)
    }
    if (54 + 4 * clrUsed > bytes.length) return None
    val pal = Array.tabulate(clrUsed)(i =>
      ((bytes(54 + 4 * i + 2) & 0xff) << 16) |
        ((bytes(54 + 4 * i + 1) & 0xff) << 8) |
        (bytes(54 + 4 * i) & 0xff))
    val sums = new Array[Double](3); val sqs = new Array[Double](3)
    var n = 0L
    var p = le32(bytes, 10)
    var x = 0; var y = 0
    def emit(idx: Int): Unit =
      if (x < width && y < height && idx < clrUsed) {
        val rgb = pal(idx)
        var c = 0
        while (c < 3) {
          val v = ((rgb >> (16 - 8 * c)) & 0xff) / 255.0
          sums(c) += v; sqs(c) += v * v; c += 1
        }
        n += 1
      }
    try {
      var done = false
      while (!done && p + 1 < bytes.length) {
        val b0 = bytes(p) & 0xff; val b1 = bytes(p + 1) & 0xff
        p += 2
        if (b0 > 0) {
          var k = 0
          while (k < b0) {
            emit(if (k % 2 == 0) (b1 >> 4) & 0xf else b1 & 0xf)
            x += 1; k += 1
          }
        } else b1 match {
          case 0 => x = 0; y += 1
          case 1 => done = true
          case 2 =>
            x += bytes(p) & 0xff; y += bytes(p + 1) & 0xff; p += 2
          case cnt =>
            var i = 0
            while (i < cnt && p < bytes.length) {
              val byt = bytes(p) & 0xff
              emit((byt >> 4) & 0xf); x += 1; i += 1
              if (i < cnt) { emit(byt & 0xf); x += 1; i += 1 }
              p += 1
            }
            if (((cnt + 1) / 2) % 2 == 1) p += 1 // WORD pad
        }
      }
      Some((ImageMeta(width, height, 3, "bmp"), n, sums, sqs))
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  /** Build a real BI_RLE8-compressed BMP: 8-bit palette-indexed pixels
    * (grey identity RGBQUAD palette), genuine run-length encoding with
    * both encoded modes — even storage rows as (count, index) runs, odd
    * rows in absolute mode with WORD-alignment pads — EOL after every
    * row, EOF terminator. `pixels` are indices in storage (bottom-up)
    * row order; the decoder's statistics are orientation-free so callers
    * never need to care. */
  def bmpBytesRle8(width: Int, height: Int,
                   pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == width * height, "pixels must be w*h indices")
    val data = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = data.write(v & 0xff)
    var y = 0
    while (y < height) {
      val row = java.util.Arrays.copyOfRange(pixels, y * width,
                                             (y + 1) * width)
      if (y % 2 == 0) { // encoded mode: maximal runs, cap 255
        var x = 0
        while (x < width) {
          var run = 1
          while (x + run < width && row(x + run) == row(x) && run < 255)
            run += 1
          u8(run); u8(row(x) & 0xff)
          x += run
        }
      } else { // absolute mode: chunks of 3..254, singles as 1-runs
        var x = 0
        while (x < width) {
          val rem = width - x
          if (rem >= 3) {
            val cnt = math.min(rem, 254)
            u8(0); u8(cnt)
            (0 until cnt).foreach(i => u8(row(x + i) & 0xff))
            if ((cnt & 1) == 1) u8(0) // WORD alignment
            x += cnt
          } else { u8(1); u8(row(x) & 0xff); x += 1 }
        }
      }
      u8(0); u8(if (y == height - 1) 1 else 0) // EOL / final EOF
      y += 1
    }
    val body = data.toByteArray
    val out = new Array[Byte](54 + 1024 + body.length)
    def putLe32(off: Int, v: Int): Unit = {
      out(off) = v.toByte; out(off + 1) = (v >> 8).toByte
      out(off + 2) = (v >> 16).toByte; out(off + 3) = (v >> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length)
    putLe32(10, 54 + 1024)  // pixel data after header + 256 RGBQUADs
    putLe32(14, 40)
    putLe32(18, width); putLe32(22, height)
    out(26) = 1
    out(28) = 8             // 8 bpp, palette-indexed
    putLe32(30, 1)          // BI_RLE8
    putLe32(34, body.length)
    putLe32(46, 256)        // biClrUsed
    var i = 0
    while (i < 256) { // grey identity RGBQUADs (B, G, R, reserved)
      out(54 + 4 * i) = i.toByte; out(54 + 4 * i + 1) = i.toByte
      out(54 + 4 * i + 2) = i.toByte
      i += 1
    }
    System.arraycopy(body, 0, out, 54 + 1024, body.length)
    out
  }

  /** Parsed video-container metadata ([[mp4Meta]] / [[aviMeta]]): brand =
    * ftyp major brand (MP4) or "AVI " (RIFF); width/height of the first
    * video track; handlers = sorted distinct track handler fourccs
    * ("vide", "soun"); codec = sample-description fourcc of the first
    * video track ("" when absent). */
  final case class VideoMeta(brand: String, durationSec: Double,
                             nTracks: Int, width: Int, height: Int,
                             handlers: Seq[String], codec: String)

  private def be64(b: Array[Byte], off: Int): Long =
    ((be32(b, off) & 0xffffffffL) << 32) | (be32(b, off + 4) & 0xffffffffL)
  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** REAL MP4 (ISO BMFF, ISO/IEC 14496-12, public spec) container
    * metadata: a full box walk — 32-bit and 64-bit (`size == 1`
    * largesize) box lengths, recursion into moov/trak/mdia/minf/stbl,
    * version-0 AND version-1 mvhd/tkhd (64-bit times), tkhd 16.16
    * fixed-point dimensions, hdlr handler fourccs, and the first stsd
    * sample-entry fourcc of the first video track. Duration is
    * mvhd duration / timescale. Payload (sample) decode stays the
    * declared stub seam — this is the metadata face a pipeline filters
    * on (duration/resolution/codec) before any transcode. Returns None
    * when the stream has no ftyp/moov shape. */
  def mp4Meta(bytes: Array[Byte]): Option[VideoMeta] = {
    var brand = ""
    var durationSec = -1.0
    var nTracks = 0
    var width = -1; var height = -1
    var codec = ""
    val handlers = scala.collection.mutable.SortedSet.empty[String]
    var sawMoov = false
    val containers = Set("moov", "trak", "mdia", "minf", "stbl")

    // Per-track accumulator shared across the trak subtree's recursion
    // levels (tkhd sits under trak, hdlr under mdia, stsd under stbl).
    final class Trak {
      var w: Int = -1; var h: Int = -1
      var handler: String = ""; var codec: String = ""
    }

    // Walks boxes in [from, to); returns false on a malformed length.
    def walk(from: Long, to: Long, trak: Trak): Boolean = {
      val inTrak = trak ne null
      var p = from
      var ok = true
      while (ok && p + 8 <= to) {
        val sz32 = be32(bytes, p.toInt) & 0xffffffffL
        val typ = fourcc(bytes, p.toInt + 4)
        val (size, hdr) =
          if (sz32 == 1 && p + 16 <= to) (be64(bytes, p.toInt + 8), 16)
          else if (sz32 == 0) (to - p, 8) // box extends to end of parent
          else (sz32, 8)
        if (size < hdr || p + size > to) ok = false
        else {
          val body = p + hdr
          typ match {
            case "ftyp" if size >= hdr + 4 =>
              brand = fourcc(bytes, body.toInt)
            case "moov" =>
              sawMoov = true; ok = walk(body, p + size, null)
            case "trak" =>
              nTracks += 1
              val t = new Trak
              ok = walk(body, p + size, t)
              if (ok && t.handler == "vide" && width < 0) {
                width = t.w; height = t.h; codec = t.codec
              }
            case t if containers(t) =>
              ok = walk(body, p + size, trak)
            case "mvhd" if size >= hdr + 4 =>
              val v = bytes(body.toInt) & 0xff
              // v0: timescale/duration u32 after 2 u32 times;
              // v1: u32 timescale after 2 u64 times, then u64 duration.
              if (v == 1 && size >= hdr + 28) {
                val ts = be32(bytes, body.toInt + 20) & 0xffffffffL
                val dur = be64(bytes, body.toInt + 24)
                if (ts > 0) durationSec = dur.toDouble / ts
              } else if (v == 0 && size >= hdr + 20) {
                val ts = be32(bytes, body.toInt + 12) & 0xffffffffL
                val dur = be32(bytes, body.toInt + 16) & 0xffffffffL
                if (ts > 0) durationSec = dur.toDouble / ts
              }
            case "tkhd" if inTrak && size >= hdr + 4 =>
              val v = bytes(body.toInt) & 0xff
              // width/height are 16.16 fixed-point at the end of the box;
              // v1 widens the three time fields by 4 bytes each.
              val wOff = if (v == 1) 88 else 76
              if (size >= hdr + wOff + 8) {
                trak.w = be32(bytes, body.toInt + wOff) >>> 16
                trak.h = be32(bytes, body.toInt + wOff + 4) >>> 16
              }
            case "hdlr" if inTrak && size >= hdr + 12 =>
              trak.handler = fourcc(bytes, body.toInt + 8)
              handlers += trak.handler
            case "stsd" if inTrak && size >= hdr + 16 =>
              trak.codec = fourcc(bytes, body.toInt + 12)
            case _ => () // mdat, free, unknown: skip by size
          }
          p += size
        }
      }
      ok
    }
    if (bytes.length < 16 || fourcc(bytes, 4) != "ftyp") None
    else if (!walk(0L, bytes.length.toLong, null) || !sawMoov) None
    else Some(VideoMeta(brand, durationSec, nTracks, width, height,
                        handlers.toSeq, codec))
  }

  /** REAL AVI (RIFF, Microsoft public spec) container metadata: RIFF/AVI
    * chunk walk with LIST recursion — avih MainAVIHeader
    * (dwMicroSecPerFrame / dwTotalFrames / dwStreams / dwWidth /
    * dwHeight) and per-stream strh fccType fourccs. Duration is
    * totalFrames · microSecPerFrame / 1e6. WORD-aligned chunk hopping
    * (odd sizes pad one byte) like every RIFF reader. */
  def aviMeta(bytes: Array[Byte]): Option[VideoMeta] = {
    if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return None
    var durationSec = -1.0
    var nStreams = 0
    var width = -1; var height = -1
    var codec = ""
    val handlers = scala.collection.mutable.SortedSet.empty[String]
    var sawAvih = false
    def walk(from: Int, to: Int): Boolean = {
      var p = from
      var ok = true
      while (ok && p + 8 <= to) {
        val tag = fourcc(bytes, p)
        val size = le32(bytes, p + 4)
        if (size < 0 || p + 8 + size > to) ok = false
        else {
          // Descend only into header lists — LIST movi holds frame-data
          // chunks (and here filler), which a metadata walk must skip.
          if (tag == "LIST" && size >= 4 &&
              Set("hdrl", "strl", "odml").contains(fourcc(bytes, p + 8)))
            ok = walk(p + 12, p + 8 + size)
          else if (tag == "avih" && size >= 40) {
            sawAvih = true
            val usPerFrame = le32(bytes, p + 8) & 0xffffffffL
            val totalFrames = le32(bytes, p + 24) & 0xffffffffL
            durationSec = totalFrames * usPerFrame / 1e6
            width = le32(bytes, p + 40)
            height = le32(bytes, p + 44)
          } else if (tag == "strh" && size >= 8) {
            nStreams += 1
            val fcc = fourcc(bytes, p + 8)
            handlers += fcc
            if (fcc == "vids" && codec.isEmpty)
              codec = fourcc(bytes, p + 12)
          }
          p += 8 + size + (size & 1) // RIFF chunks are WORD-aligned
        }
      }
      ok
    }
    if (!walk(12, bytes.length) || !sawAvih) None
    else Some(VideoMeta("AVI ", durationSec, nStreams, width, height,
                        handlers.toSeq, codec))
  }

  /** Video-container metadata dispatch: MP4 then AVI. The "video" face of
    * [[imageMeta]]/[[audioMeta]]. */
  def videoMeta(bytes: Array[Byte]): Option[VideoMeta] =
    mp4Meta(bytes).orElse(aviMeta(bytes))

  // ---- REAL TIFF / WebP / FLAC container metadata ------------------------

  /** Header-only TIFF metadata (TIFF 6.0, public spec): both byte orders
    * (`II`/`MM`), magic 42, full IFD chain walk (returns the page count),
    * IFD0's ImageWidth/ImageLength/SamplesPerPixel/BitsPerSample with
    * inline SHORT/LONG values and the offset indirection for
    * BitsPerSample arrays (count = SamplesPerPixel). */
  def tiffMeta(bytes: Array[Byte]): Option[(ImageMeta, Int, Int)] = {
    if (bytes.length < 8) return None
    val le = bytes(0) == 'I' && bytes(1) == 'I'
    val isBe = bytes(0) == 'M' && bytes(1) == 'M'
    if (!le && !isBe) return None
    def u16(off: Int): Int =
      if (le) le16(bytes, off)
      else ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
    def u32(off: Int): Int = if (le) le32(bytes, off) else be32(bytes, off)
    if (u16(2) != 42) return None
    try {
      var w = -1; var h = -1; var spp = 1; var bps = 8
      var pages = 0
      var ifd = u32(4)
      var first = true
      val seen = scala.collection.mutable.Set.empty[Int] // cycle guard
      while (ifd > 0 && ifd + 2 <= bytes.length && seen.add(ifd)) {
        val n = u16(ifd)
        if (ifd + 2 + 12 * n + 4 > bytes.length) return None
        if (first) {
          var i = 0
          while (i < n) {
            val e = ifd + 2 + 12 * i
            val tag = u16(e); val typ = u16(e + 2); val cnt = u32(e + 4)
            def value: Int = typ match {
              case 3 => u16(e + 8) // SHORT, left-justified inline
              case 4 => u32(e + 8) // LONG inline
              case _ => -1
            }
            tag match {
              case 256 => w = value
              case 257 => h = value
              case 277 => spp = value
              case 258 => // count > 1 → the field holds an offset
                bps =
                  if (cnt == 1) value
                  else {
                    val o = u32(e + 8)
                    if (o >= 0 && o + 2 <= bytes.length) u16(o) else bps
                  }
              case _ => ()
            }
            i += 1
          }
          first = false
        }
        pages += 1
        ifd = u32(ifd + 2 + 12 * n)
      }
      if (w > 0 && h > 0 && pages > 0)
        Some((ImageMeta(w, h, spp, "tiff"), pages, bps))
      else None
    } catch { case _: Exception => None }
  }

  /** Build a real multi-page baseline TIFF header (no strip data — the
    * metadata face): either byte order, `pages` chained IFDs each with
    * ImageWidth/ImageLength/BitsPerSample/SamplesPerPixel/Compression.
    * With channels > 1 the BitsPerSample entry uses the spec's offset
    * indirection (count = channels, array appended after the IFD chain). */
  def tiffBytes(width: Int, height: Int, channels: Int, bitsPerSample: Int,
                pages: Int, littleEndian: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit =
      if (littleEndian) { u8(v); u8(v >> 8) } else { u8(v >> 8); u8(v) }
    def w32(v: Int): Unit =
      if (littleEndian) { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
      else { u8(v >> 24); u8(v >> 16); u8(v >> 8); u8(v) }
    out.write((if (littleEndian) "II" else "MM").getBytes("US-ASCII"))
    w16(42); w32(8)
    val nE = 5
    val ifdSize = 2 + nE * 12 + 4
    val bpsArrayAt = 8 + pages * ifdSize // BitsPerSample array location
    var off = 8
    for (p <- 0 until pages) {
      w16(nE)
      def entry(tag: Int, typ: Int, cnt: Int, v: Int): Unit = {
        w16(tag); w16(typ); w32(cnt)
        if (typ == 3 && cnt == 1) { w16(v); w16(0) } else w32(v)
      }
      // TIFF 6.0 requires IFD entries sorted ascending by tag number;
      // strict libtiff readers reject out-of-order directories.
      entry(256, 4, 1, width); entry(257, 4, 1, height)
      if (channels == 1) entry(258, 3, 1, bitsPerSample)
      else entry(258, 3, channels, bpsArrayAt)
      entry(259, 3, 1, 1) // uncompressed
      entry(277, 3, 1, channels)
      off += ifdSize
      w32(if (p == pages - 1) 0 else off)
    }
    if (channels > 1) (0 until channels).foreach(_ => w16(bitsPerSample))
    out.toByteArray
  }

  /** Header-only WebP metadata (RIFF container, public bitstream specs):
    * lossy `VP8 ` keyframes (start code 9D 01 2A, 14-bit dims), lossless
    * `VP8L` (signature 0x2F, 14-bit minus-one dims), and extended `VP8X`
    * (24-bit minus-one canvas dims). */
  def webpMeta(bytes: Array[Byte]): Option[ImageMeta] = {
    if (bytes.length < 20 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "WEBP") return None
    try {
      var p = 12
      while (p + 8 <= bytes.length) {
        val tag = fourcc(bytes, p)
        val size = le32(bytes, p + 4)
        if (size < 0 || p + 8 + size > bytes.length) return None
        val d = p + 8
        tag match {
          case "VP8 " if size >= 10 =>
            // 3-byte frame tag, then keyframe start code, then dims
            if ((bytes(d + 3) & 0xff) != 0x9d || (bytes(d + 4) & 0xff) != 0x01 ||
                (bytes(d + 5) & 0xff) != 0x2a) return None
            val w = le16(bytes, d + 6) & 0x3fff
            val h = le16(bytes, d + 8) & 0x3fff
            return Some(ImageMeta(w, h, 3, "webp"))
          case "VP8L" if size >= 5 =>
            if ((bytes(d) & 0xff) != 0x2f) return None
            val b = le32(bytes, d + 1)
            val w = (b & 0x3fff) + 1
            val h = ((b >> 14) & 0x3fff) + 1
            val alpha = (b >> 28) & 1
            return Some(ImageMeta(w, h, if (alpha == 1) 4 else 3, "webp"))
          case "VP8X" if size >= 10 =>
            def u24(o: Int) = (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
              ((bytes(o + 2) & 0xff) << 16)
            val alpha = (bytes(d) & 0x10) != 0
            return Some(ImageMeta(u24(d + 4) + 1, u24(d + 7) + 1,
                                  if (alpha) 4 else 3, "webp"))
          case _ => () // ICCP/EXIF/etc: skip
        }
        p += 8 + size + (size & 1) // RIFF WORD alignment
      }
      None
    } catch { case _: Exception => None }
  }

  /** Build a real WebP header of the given `variant` ("VP8 " lossy /
    * "VP8L" lossless / "VP8X" extended), payload past the header zeroed
    * (the metadata face a pipeline filters on). */
  def webpBytes(width: Int, height: Int, variant: String,
                alpha: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def w16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def w32(v: Int): Unit = { w16(v); w16(v >> 16) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    val payload = new java.io.ByteArrayOutputStream()
    def p8(v: Int): Unit = payload.write(v & 0xff)
    variant match {
      case "VP8 " =>
        p8(0); p8(0); p8(0) // frame tag (keyframe)
        p8(0x9d); p8(0x01); p8(0x2a)
        p8(width); p8(width >> 8); p8(height); p8(height >> 8)
      case "VP8L" =>
        p8(0x2f)
        val b = (width - 1) | ((height - 1) << 14) |
          ((if (alpha) 1 else 0) << 28)
        p8(b); p8(b >> 8); p8(b >> 16); p8(b >> 24)
      case "VP8X" =>
        p8(if (alpha) 0x10 else 0); p8(0); p8(0); p8(0)
        val (w1, h1) = (width - 1, height - 1)
        p8(w1); p8(w1 >> 8); p8(w1 >> 16)
        p8(h1); p8(h1 >> 8); p8(h1 >> 16)
      case v => throw new IllegalArgumentException(s"variant $v")
    }
    val body = payload.toByteArray
    tag("RIFF"); w32(4 + 8 + body.length + (body.length & 1)); tag("WEBP")
    tag(variant); w32(body.length); out.write(body, 0, body.length)
    if ((body.length & 1) == 1) u8(0)
    out.toByteArray
  }

  /** Header-only FLAC metadata (public FLAC format spec): `fLaC` magic,
    * metadata-block chain walk (1-byte last/type header + 24-bit BE
    * length), STREAMINFO's bit-packed 20-bit sample rate, 3-bit
    * channels−1, 5-bit bits-per-sample−1, 36-bit total samples. Returns
    * (meta, totalSamples, durationSec, nBlocks). */
  def flacMeta(bytes: Array[Byte]): Option[(AudioMeta, Long, Double, Int)] = {
    if (bytes.length < 42 ||
        new String(bytes.slice(0, 4), "US-ASCII") != "fLaC") return None
    try {
      var p = 4
      var info: Option[(AudioMeta, Long, Double)] = None
      var nBlocks = 0
      var last = false
      while (!last && p + 4 <= bytes.length) {
        val hdr = bytes(p) & 0xff
        last = (hdr & 0x80) != 0
        val typ = hdr & 0x7f
        val len = ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
          (bytes(p + 3) & 0xff)
        if (p + 4 + len > bytes.length) return None
        if (typ == 0 && len >= 34) {
          val d = p + 4
          // 8 bytes at d+10: rate(20) | ch-1(3) | bps-1(5) | samples(36)
          var acc = 0L
          (0 until 8).foreach(i => acc = (acc << 8) | (bytes(d + 10 + i) & 0xffL))
          val rate = (acc >>> 44).toInt
          val ch = ((acc >>> 41) & 0x7).toInt + 1
          val bps = ((acc >>> 36) & 0x1f).toInt + 1
          val total = acc & 0xfffffffffL
          if (rate <= 0) return None
          info = Some((AudioMeta(rate, ch, bps, -1), total,
                       total.toDouble / rate))
        }
        nBlocks += 1
        p += 4 + len
      }
      info.map { case (m, t, dur) => (m, t, dur, nBlocks) }
    } catch { case _: Exception => None }
  }

  /** Build a real FLAC header: STREAMINFO with bit-exact field packing,
    * plus `extraBlocks` PADDING blocks (the last carries the last-flag). */
  def flacBytes(sampleRate: Int, channels: Int, bitsPerSample: Int,
                totalSamples: Long, extraBlocks: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    out.write("fLaC".getBytes("US-ASCII"))
    u8(if (extraBlocks == 0) 0x80 else 0x00) // STREAMINFO, maybe last
    u8(0); u8(0); u8(34)
    def w16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def w24(v: Int): Unit = { u8(v >> 16); u8(v >> 8); u8(v) }
    w16(4096); w16(4096); w24(0); w24(0)
    var acc = (sampleRate.toLong << 44) | ((channels - 1).toLong << 41) |
      ((bitsPerSample - 1).toLong << 36) | (totalSamples & 0xfffffffffL)
    (0 until 8).foreach(i => u8(((acc >>> (8 * (7 - i))) & 0xff).toInt))
    (0 until 16).foreach(_ => u8(0)) // MD5 (unset)
    (0 until extraBlocks).foreach { b =>
      u8((if (b == extraBlocks - 1) 0x80 else 0) | 0x01) // PADDING
      u8(0); u8(0); u8(4); (0 until 4).foreach(_ => u8(0))
    }
    out.toByteArray
  }

  /** One decoded Layer I subband-sample block: 12 requantized samples of
    * one subband in one frame (the granule Layer I codes per frame). */
  final case class SubbandBlock(frame: Int, subband: Int, alloc: Int,
                                scfIdx: Int, samples: Array[Double])

  /** REAL MPEG-1 Audio Layer I payload decode (ISO/IEC 11172-3 §2.4.3.3,
    * public spec) — the first slice of the MP3-payload stub seam made
    * real. Per mono frame: 32 × 4-bit allocation, a 6-bit scalefactor
    * index per allocated subband, then 12 interleaved sample groups of
    * `nb = alloc + 1`-bit codes, all MSB-first bit-unpacked from the
    * actual stream. Requantization is the spec formula
    * `s = sf · (2^nb / (2^nb − 1)) · (code / 2^(nb−1) − 1 + 2^(1−nb))`
    * with `sf = 2^(1 − idx/3)` (the closed form generating spec Table
    * 3-B.1). What remains stubbed: the polyphase synthesis filterbank to
    * PCM (its 512-entry window is tabulated, not closed-form) and Layer
    * II/III (grouped codes / Huffman + IMDCT) — subband-domain samples
    * are the honest scope. Returns frames × allocated-subband blocks in
    * bitstream order; None when the stream is not Layer I. */
  def layer1Decode(bytes: Array[Byte]): Option[(AudioMeta, Seq[SubbandBlock])] = {
    val brL1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320,
                     352, 384, 416, 448)
    val srV1 = Array(44100, 48000, 32000)
    def header(p: Int): Option[(Int, Int, Int, Int)] = {
      // (frameLen, sampleRate, channels, protected)
      if (p + 4 > bytes.length) return None
      val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff
      val b3 = bytes(p + 2) & 0xff; val b4 = bytes(p + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
      val version = (b2 >> 3) & 0x3
      val layer = (b2 >> 1) & 0x3 // 3 = Layer I
      if (version != 3 || layer != 3) return None
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      val sr = srV1(srIdx)
      val padding = (b3 >> 1) & 1
      val channels = if (((b4 >> 6) & 0x3) == 3) 1 else 2
      val len = (12 * brL1(brIdx) * 1000 / sr + padding) * 4
      val prot = 1 - ((b2 & 1)) // protection_bit == 0 means CRC present
      Some((len, sr, channels, prot))
    }
    header(0).filter(_._3 == 1).map { case (_, sr, ch, _) =>
      val blocks = Seq.newBuilder[SubbandBlock]
      var p = 0
      var f = 0
      var go = true
      while (go) {
        header(p) match {
          case Some((len, _, _, prot)) if p + len <= bytes.length =>
            val r = new BitReader(bytes, p + 4 + 2 * prot) // skip header (+CRC)
            val alloc = Array.fill(32)(r.bits(4))
            val scf = alloc.map(a => if (a > 0) r.bits(6) else 0)
            val samples = Array.ofDim[Double](32, 12)
            var g = 0
            while (g < 12) { // groups are interleaved across subbands
              var sb = 0
              while (sb < 32) {
                if (alloc(sb) > 0) {
                  val nb = alloc(sb) + 1
                  val code = r.bits(nb)
                  val sf = math.pow(2.0, 1.0 - scf(sb) / 3.0)
                  val frac = code.toDouble / (1 << (nb - 1)) - 1.0 +
                    2.0 / (1 << nb)
                  samples(sb)(g) =
                    sf * ((1 << nb).toDouble / ((1 << nb) - 1)) * frac
                }
                sb += 1
              }
              g += 1
            }
            var sb = 0
            while (sb < 32) {
              if (alloc(sb) > 0)
                blocks += SubbandBlock(f, sb, alloc(sb), scf(sb), samples(sb))
              sb += 1
            }
            f += 1; p += len
          case _ => go = false
        }
      }
      (AudioMeta(sr, ch, -1, f), blocks.result())
    }
  }

  /** A real MPEG-1 Layer I mono stream (32 kHz, 256 kbps → 384-byte
    * frames) with genuinely bit-packed deterministic content, the
    * encode half of the [[layer1Decode]] round trip. Per frame `f`:
    * allocation `(seed + sb) % 8` (0 = silent subband), scalefactor
    * index `3 · ((seed·5 + f·11 + sb·7) % 21)` (multiples of 3 keep
    * `2^(1−idx/3)` exactly dyadic — engine-portable float contract, see
    * NOTES.md), sample code `(seed·131 + f·17 + g·29 + sb·13) % 2^nb`.
    * Unused slot bits are zero ancillary data, as the spec allows. */
  def layer1Bytes(seed: Long, nFrames: Int): Array[Byte] = {
    val frameLen = 384 // (12 * 256000 / 32000) * 4
    val w = new BitWriter
    (0 until nFrames).foreach { f =>
      w.pos = f * frameLen * 8L
      w.bits(0xff, 8); w.bits(0xff, 8) // sync + MPEG1 + Layer I + no CRC
      w.bits(0x88, 8)                  // bitrate idx 8 (256), sr idx 2 (32k)
      w.bits(0xc0, 8)                  // mono
      val alloc = Array.tabulate(32)(sb => ((seed + sb) % 8).toInt)
      alloc.foreach(a => w.bits(a, 4))
      (0 until 32).foreach { sb =>
        if (alloc(sb) > 0)
          w.bits(3 * (((seed * 5 + f * 11 + sb * 7) % 21).toInt), 6)
      }
      (0 until 12).foreach { g =>
        (0 until 32).foreach { sb =>
          if (alloc(sb) > 0) {
            val nb = alloc(sb) + 1
            w.bits(((seed * 131 + f * 17 + g * 29 + sb * 13) %
              (1 << nb)).toInt, nb)
          }
        }
      }
    }
    w.pos = nFrames * frameLen * 8L
    w.toBytes
  }

  /** One decoded Layer II subband block: the 36 requantized samples of
    * one subband in one frame (12 granules × 3), plus the allocation
    * index, quantization step count, and scalefactor-selection mode. */
  final case class SubbandBlock2(frame: Int, subband: Int, allocIdx: Int,
                                 steps: Int, scfsi: Int,
                                 samples: Array[Double])

  // Table 3-B.2a (ISO/IEC 11172-3, sblimit = 27 — the 48 kHz / high-rate
  // table): allocation-field width and quantization step counts per
  // subband class. Steps 3/5/9 are the grouped classes (three samples
  // share one 5/7/10-bit code); other entries are 2^nb − 1 step
  // mid-tread quantizers with nb-bit codes.
  private val l2Sblimit = 27
  private def l2AllocBits(sb: Int): Int =
    if (sb < 3) 4 else if (sb < 11) 4 else if (sb < 23) 3 else 2
  private def l2Steps(sb: Int, idx: Int): Int = {
    require(idx > 0)
    if (sb < 3)
      Array(3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
            16383, 32767, 65535)(idx - 1)
    else if (sb < 11)
      Array(3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
            8191, 65535)(idx - 1)
    else if (sb < 23) Array(3, 5, 7, 9, 15, 31, 65535)(idx - 1)
    else Array(3, 5, 65535)(idx - 1)
  }
  private def l2Grouped(steps: Int): Boolean =
    steps == 3 || steps == 5 || steps == 9
  /** Code bits per (single or ungrouped) sample for a step count. */
  private def l2SampleBits(steps: Int): Int = steps match {
    case 3 => 2; case 5 => 3; case 9 => 4
    case s => 32 - Integer.numberOfLeadingZeros(s) // s = 2^nb − 1 → nb
  }

  /** REAL MPEG-1 Audio Layer II payload decode (ISO/IEC 11172-3
    * §2.4.3.4, public spec) — the Layer II extension of
    * [[layer1Decode]], closing the next slice of the MP3-payload stub
    * seam. Per mono frame (table 3-B.2a, sblimit 27): class-width
    * allocation fields (4/4/3/2 bits by subband), 2-bit scalefactor
    * selection info per allocated subband, 1–3 six-bit scalefactors per
    * the scfsi mode (0: three, one per 12-sample part; 1: parts 0,1
    * share the first of two; 2: one for all parts; 3: parts 1,2 share
    * the second of two), then 12 granules of sample codes — GROUPED
    * classes (3/5/9 steps) pack three consecutive samples into one
    * 5/7/10-bit code ungrouped by successive modulo, other classes read
    * three nb-bit codes. Requantization is the unified spec form
    * `s = sf · (2^nb/steps) · (code/2^(nb−1) − 1 + D)` with D = 1/2 for
    * grouped classes and 2^(1−nb) otherwise (the closed form generating
    * Tables 3-B.4's C/D columns; for steps = 2^nb − 1 it reduces to the
    * Layer I formula). Synthesis to PCM stays the declared stub
    * (tabulated polyphase window); Layer III (Huffman + IMDCT) stays
    * declared. Returns frames × allocated-subband blocks in bitstream
    * order; None when the stream is not MPEG-1 Layer II at 48 kHz mono
    * (only the 3-B.2a table is carried). */
  def layer2Decode(bytes: Array[Byte]): Option[(AudioMeta, Seq[SubbandBlock2])] = {
    val brL2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
                     256, 320, 384)
    val srV1 = Array(44100, 48000, 32000)
    def header(p: Int): Option[(Int, Int, Int, Int)] = {
      if (p + 4 > bytes.length) return None
      val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff
      val b3 = bytes(p + 2) & 0xff; val b4 = bytes(p + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
      val version = (b2 >> 3) & 0x3
      val layer = (b2 >> 1) & 0x3 // 2 = Layer II
      if (version != 3 || layer != 2) return None
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      val sr = srV1(srIdx)
      if (sr != 48000) return None // only table 3-B.2a is carried
      val padding = (b3 >> 1) & 1
      val channels = if (((b4 >> 6) & 0x3) == 3) 1 else 2
      val len = 144 * brL2(brIdx) * 1000 / sr + padding
      val prot = 1 - (b2 & 1)
      Some((len, sr, channels, prot))
    }
    header(0).filter(_._3 == 1).map { case (_, sr, ch, _) =>
      val blocks = Seq.newBuilder[SubbandBlock2]
      var p = 0
      var f = 0
      var go = true
      while (go) {
        header(p) match {
          case Some((len, _, _, prot)) if p + len <= bytes.length =>
            val r = new BitReader(bytes, p + 4 + 2 * prot)
            val alloc = Array.tabulate(l2Sblimit)(sb =>
              r.bits(l2AllocBits(sb)))
            val scfsi = alloc.map(a => if (a > 0) r.bits(2) else 0)
            // scalefactor per (subband, part): parts are the three
            // 12-sample thirds of the frame (granules 0-3, 4-7, 8-11)
            val scfPart = Array.ofDim[Int](l2Sblimit, 3)
            var sb = 0
            while (sb < l2Sblimit) {
              if (alloc(sb) > 0) scfsi(sb) match {
                case 0 =>
                  scfPart(sb)(0) = r.bits(6); scfPart(sb)(1) = r.bits(6)
                  scfPart(sb)(2) = r.bits(6)
                case 1 =>
                  val a = r.bits(6); val b = r.bits(6)
                  scfPart(sb)(0) = a; scfPart(sb)(1) = a; scfPart(sb)(2) = b
                case 2 =>
                  val a = r.bits(6)
                  scfPart(sb)(0) = a; scfPart(sb)(1) = a; scfPart(sb)(2) = a
                case _ =>
                  val a = r.bits(6); val b = r.bits(6)
                  scfPart(sb)(0) = a; scfPart(sb)(1) = b; scfPart(sb)(2) = b
              }
              sb += 1
            }
            val samples = Array.ofDim[Double](l2Sblimit, 36)
            def requant(v: Int, steps: Int, sf: Double): Double = {
              val nb = l2SampleBits(steps)
              val d = if (l2Grouped(steps)) 0.5 else 2.0 / (1 << nb)
              sf * ((1 << nb).toDouble / steps) *
                (v.toDouble / (1 << (nb - 1)) - 1.0 + d)
            }
            var gr = 0
            while (gr < 12) {
              val part = gr / 4
              var sb2 = 0
              while (sb2 < l2Sblimit) {
                if (alloc(sb2) > 0) {
                  val steps = l2Steps(sb2, alloc(sb2))
                  val sf = math.pow(2.0, 1.0 - scfPart(sb2)(part) / 3.0)
                  if (l2Grouped(steps)) {
                    val gBits = steps match {
                      case 3 => 5; case 5 => 7; case _ => 10
                    }
                    var c = r.bits(gBits)
                    var j = 0
                    while (j < 3) {
                      samples(sb2)(gr * 3 + j) = requant(c % steps, steps, sf)
                      c /= steps; j += 1
                    }
                  } else {
                    val nb = l2SampleBits(steps)
                    var j = 0
                    while (j < 3) {
                      samples(sb2)(gr * 3 + j) = requant(r.bits(nb), steps, sf)
                      j += 1
                    }
                  }
                }
                sb2 += 1
              }
              gr += 1
            }
            var sb3 = 0
            while (sb3 < l2Sblimit) {
              if (alloc(sb3) > 0)
                blocks += SubbandBlock2(f, sb3, alloc(sb3),
                  l2Steps(sb3, alloc(sb3)), scfsi(sb3), samples(sb3))
              sb3 += 1
            }
            f += 1; p += len
          case _ => go = false
        }
      }
      (AudioMeta(sr, ch, -1, f), blocks.result())
    }
  }

  /** A real MPEG-1 Layer II mono stream (48 kHz, 192 kbps → 576-byte
    * frames, table 3-B.2a) with genuinely bit-packed deterministic
    * content — the encode half of the [[layer2Decode]] round trip.
    * Per frame `f`, subband `sb`: allocation index by class
    * (`(seed+sb) % 5` for sb<3, `(seed+sb·3) % 6` for 3≤sb<11 — covers
    * both grouped and ungrouped classes, `(seed+sb) % 6` for 11≤sb<23,
    * `(seed+sb) % 3` above; worst-case bit budget 4384 < 4576 payload
    * bits, asserted), scfsi `(seed+sb) % 4` (all four share modes),
    * written scalefactors `3·((seed·5 + f·11 + sb·7 + slot·3) % 21)`
    * per transmitted slot (multiples of 3 keep `2^(1−idx/3)` exactly
    * dyadic — the engine-portable float contract), grouped sample code
    * `(seed·131 + f·17 + g·29 + sb·13) % steps³`, ungrouped per-sample
    * code `(… + j·7) % steps`. */
  def layer2Bytes(seed: Long, nFrames: Int): Array[Byte] = {
    val frameLen = 576 // 144 * 192000 / 48000
    val w = new BitWriter
    def allocOf(sb: Int): Int =
      if (sb < 3) ((seed + sb) % 5).toInt
      else if (sb < 11) ((seed + sb * 3) % 6).toInt
      else if (sb < 23) ((seed + sb) % 6).toInt
      else ((seed + sb) % 3).toInt
    (0 until nFrames).foreach { f =>
      w.pos = f * frameLen * 8L
      w.bits(0xff, 8); w.bits(0xfd, 8) // sync + MPEG1 + Layer II + no CRC
      w.bits(0xa4, 8)                  // bitrate idx 10 (192), sr idx 1 (48k)
      w.bits(0xc0, 8)                  // mono
      val alloc = Array.tabulate(l2Sblimit)(allocOf)
      (0 until l2Sblimit).foreach(sb => w.bits(alloc(sb), l2AllocBits(sb)))
      val scfsi = Array.tabulate(l2Sblimit)(sb => ((seed + sb) % 4).toInt)
      (0 until l2Sblimit).foreach(sb =>
        if (alloc(sb) > 0) w.bits(scfsi(sb), 2))
      (0 until l2Sblimit).foreach { sb =>
        if (alloc(sb) > 0) {
          val nScf = scfsi(sb) match {
            case 0 => 3; case 2 => 1; case _ => 2
          }
          (0 until nScf).foreach(slot =>
            w.bits(3 * (((seed * 5 + f * 11 + sb * 7 + slot * 3) % 21).toInt), 6))
        }
      }
      (0 until 12).foreach { g =>
        (0 until l2Sblimit).foreach { sb =>
          if (alloc(sb) > 0) {
            val steps = l2Steps(sb, alloc(sb))
            if (l2Grouped(steps)) {
              val gBits = steps match { case 3 => 5; case 5 => 7; case _ => 10 }
              w.bits(((seed * 131 + f * 17 + g * 29 + sb * 13) %
                (steps.toLong * steps * steps)).toInt, gBits)
            } else {
              (0 until 3).foreach { j =>
                w.bits(((seed * 131 + f * 17 + g * 29 + sb * 13 + j * 7) %
                  steps).toInt, l2SampleBits(steps))
              }
            }
          }
        }
      }
      require(w.pos <= (f + 1) * frameLen * 8L,
        s"Layer II frame overflow: ${w.pos - f * frameLen * 8L} bits")
    }
    w.pos = nFrames * frameLen * 8L
    w.toBytes
  }

  /** Subband-domain sample statistics for MPEG-1 Layer I/II payloads —
    * the audio analog of the pixel-stats feature path: (meta, n, mean,
    * mean-square, peak, fill) over every requantized sample the REAL
    * [[layer1Decode]]/[[layer2Decode]] walk produces, in bitstream order
    * (frame-major, subband-ascending, group-ascending — the order an
    * oracle must replay for bit-equal sums). `fill` is the decoded
    * fraction of the layer's allocatable sample capacity (32×12 per
    * Layer I frame, 27×36 per Layer II frame at table 3-B.2a). */
  def mpegSubbandStats(bytes: Array[Byte])
      : Option[(AudioMeta, Long, Double, Double, Double, Double)] = {
    def stats(meta: AudioMeta, samples: Iterator[Array[Double]],
              capacity: Long) = {
      // Mean/mean-square over 1e-6-quantized samples summed as Longs
      // (order-independent, hash-exact vs the oracle's BIGINT sum; the
      // division order qs/1e6/n is part of the cross-engine contract).
      var n = 0L; var qs = 0L; var qq = 0L; var peak = 0.0
      samples.foreach(_.foreach { v =>
        n += 1; qs += quant6(v); qq += quant6(v * v)
        if (math.abs(v) > peak) peak = math.abs(v)
      })
      if (n == 0 || capacity == 0) None
      else Some((meta, n, qs / 1e6 / n, qq / 1e6 / n, peak,
                 n.toDouble / capacity))
    }
    layer1Decode(bytes) match {
      case Some((m, blocks)) =>
        stats(m, blocks.iterator.map(_.samples), m.nFrames.toLong * 32 * 12)
      case None => layer2Decode(bytes) match {
        case Some((m, blocks)) =>
          stats(m, blocks.iterator.map(_.samples),
                m.nFrames.toLong * l2Sblimit * 36)
        case None => None
      }
    }
  }

  /** One entropy-decoded MP3 (Layer III) granule: frame/granule index,
    * side-info fields, and integer statistics of the Huffman-decoded
    * frequency lines (`is` values, pre-requantization — exact integers,
    * so oracle comparison is hash-exact; the float `|is|^(4/3)·2^…`
    * requantization is [[layer3Requant]]). */
  final case class L3Granule(frame: Int, granule: Int, bigValues: Int,
                             globalGain: Int, part23: Int, nNonzero: Int,
                             isSum: Long, isSqSum: Long)

  /** Spec requantization of one Layer III frequency line under zero
    * scalefactors/preflag (the [[layer3Bytes]] fixture's side-info):
    * `sign(is)·|is|^(4/3)·2^((global_gain−210)/4)` (11172-3 §2.4.3.4). */
  def layer3Requant(is: Int, globalGain: Int): Double =
    math.signum(is.toDouble) * math.pow(math.abs(is.toDouble), 4.0 / 3.0) *
      math.pow(2.0, (globalGain - 210) / 4.0)

  // Scalefactor slen1/slen2 per scalefac_compress (11172-3 Table B.6).
  private val L3Slen = Array((0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1),
    (1, 2), (1, 3), (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2),
    (4, 3))

  /** MPEG-2 LSF long-block scalefactor layout (ISO 13818-3 §2.4.3.3,
    * the non-intensity-channel class; round 15): four slens and four
    * partition widths derived ALGORITHMICALLY from the 9-bit
    * scalefac_compress — no table data to recall — and preflag is
    * `sfc ≥ 500` (the LSF side info transmits no preflag bit). Every
    * class's partitions tile the 21 long scalefactor bands exactly
    * (6+5+5+5, 6+5+7+3, 11+10+0+0), a structural closure `L3LsfSpec`
    * asserts over all 512 sfc values together with slen bounds. */
  private[graft] def lsfScaleLong(sfc: Int): (Array[Int], Array[Int]) =
    lsfScale(sfc, 0)

  /** MPEG-2 LSF scalefactor layout generalized over the three 13818-3
    * block-type classes (round 16; §2.4.3.2's blocktypenumber): btn 0 =
    * long (block_type 0/1/3), 1 = short (bt 2, not mixed), 2 = mixed
    * (bt 2, mixed flag). The four slens derive algorithmically from the
    * 9-bit scalefac_compress exactly as for long blocks; only the
    * partition SLOT counts differ per btn. Slots are linear: btn 0 → 21
    * long bands; btn 1 → 36 short slots (12 bands × 3 windows,
    * band-major window-minor); btn 2 → 6 long bands then 27 short slots
    * (bands 3–11 × 3). Every class tiles its slot total exactly
    * (21/36/33 — L3LsfSpec closes this over all 512 sfc × 3 btn).
    * preflag stays the derived `sfc ≥ 500` and applies to LONG lines
    * only (pretab is zero on bands 0–5, so mixed granules are
    * unaffected by construction). */
  private[graft] def lsfScale(sfc: Int, btn: Int): (Array[Int], Array[Int]) =
    if (sfc < 400)
      (Array((sfc >> 4) / 5, (sfc >> 4) % 5, (sfc & 15) >> 2, sfc & 3),
       btn match { case 0 => Array(6, 5, 5, 5)
                   case 1 => Array(9, 9, 9, 9)
                   case _ => Array(6, 9, 9, 9) })
    else if (sfc < 500) {
      val c = sfc - 400
      (Array((c >> 2) / 5, (c >> 2) % 5, c & 3, 0),
       btn match { case 0 => Array(6, 5, 7, 3)
                   case 1 => Array(9, 9, 12, 6)
                   case _ => Array(6, 9, 12, 6) })
    } else {
      val c = sfc - 500
      (Array(c / 3, c % 3, 0, 0),
       btn match { case 0 => Array(11, 10, 0, 0)
                   case 1 => Array(18, 18, 0, 0)
                   case _ => Array(15, 18, 0, 0) })
    }

  /** 13818-3 INTENSITY-channel scalefactor layout (round 16): the right
    * channel of an LSF intensity-stereo stream reinterprets its 9-bit
    * scalefac_compress as `int_scalefac_compress = sfc >> 1` (the LSB is
    * intensity_scale) with three classes of its own; preflag never
    * applies to the intensity channel. The transmitted values double as
    * is_pos positions in the intensity region; a value equal to the
    * band's `(1 << slen) − 1` is the ILLEGAL position = no processing.
    * `isfc = 255` falls outside every class and refuses upstream.
    * Tilings close over all isfc < 255 × 3 btn (L3LsfSpec).
    *
    * Provenance note: the class boundaries (180/244/255), slen
    * derivations, and partition counts follow the public 13818-3
    * §2.4.3.2 layout as recollected and structurally gated (exact slot
    * tilings) — the same evidence level as the shipped ISO Huffman
    * tables 1–10. */
  private[graft] def lsfScaleIntensity(isfc: Int, btn: Int)
      : (Array[Int], Array[Int]) =
    if (isfc < 180)
      (Array(isfc / 36, (isfc % 36) / 6, isfc % 6, 0),
       btn match { case 0 => Array(7, 7, 7, 0)
                   case 1 => Array(12, 12, 12, 0)
                   case _ => Array(6, 15, 12, 0) })
    else if (isfc < 244) {
      val c = isfc - 180
      (Array(c >> 4, (c & 15) >> 2, c & 3, 0),
       btn match { case 0 => Array(6, 6, 6, 3)
                   case 1 => Array(12, 9, 9, 6)
                   case _ => Array(6, 12, 9, 6) })
    } else {
      require(isfc < 255, s"int_scalefac_compress $isfc outside every class")
      val c = isfc - 244
      (Array(c / 3, c % 3, 0, 0),
       btn match { case 0 => Array(8, 8, 5, 0)
                   case 1 => Array(15, 12, 9, 0)
                   case _ => Array(6, 18, 9, 0) })
    }

  /** 13818-3 intensity factor pairs (k_left, k_right) per
    * (intensity_scale, is_pos): io = 2^(−¼·(scale+1)); is_pos 0 → both
    * 1; odd → (io^((p+1)/2), 1); even → (1, io^(p/2)). Channels
    * reconstruct as left = l·k_l, right = l·k_r from the left-carried
    * signal — NOT the MPEG-1 tan(is_pos·π/12)/(1+r) split. 1e-12
    * quantized like [[l3IsRatio]] so the oracle interpolates identical
    * literals. Two independent public formulations (the ISO reference
    * decoder's io constants 0.84089…/0.70710… keyed on sfc parity, and
    * the pow(2, −0.25(j+1)) table build common to public decoders)
    * agree on io; the odd/even channel attribution is the recollected
    * reference-decoder form, declared at that evidence level. */
  val l3LsfIsKl: Array[Array[Double]] = Array.tabulate(2, 32) { (sc, p) =>
    if (p == 0) 1.0
    else if (p % 2 == 1)
      round12(math.pow(2.0, -0.25 * (sc + 1) * ((p + 1) / 2))) else 1.0
  }
  val l3LsfIsKr: Array[Array[Double]] = Array.tabulate(2, 32) { (sc, p) =>
    if (p == 0) 1.0
    else if (p % 2 == 0)
      round12(math.pow(2.0, -0.25 * (sc + 1) * (p / 2))) else 1.0
  }
  // Long-block scalefactor band start lines at 48 kHz (Table B.8b).
  private val L3Sfb48: Array[Int] = Array(0, 4, 8, 12, 16, 20, 24, 30, 36,
    42, 50, 60, 72, 88, 106, 128, 156, 190, 230, 276, 330, 384, 576)

  /** REAL MP3 (MPEG-1 Audio Layer III) payload decode to the
    * frequency-line level (ISO/IEC 11172-3 §2.4.1.7/2.4.3.4, public
    * spec) — the Layer III slice of the payload stub seam made real.
    * Per mono 48 kHz frame: the full 17-byte side-info bit layout
    * (main_data_begin, scfsi, and per granule part2_3_length /
    * big_values / global_gain / scalefac_compress / window-switching
    * or region fields / preflag / scalefac_scale / count1table_select),
    * scalefactor-field skip via the real slen table B.6, then the
    * big_values Huffman region walk — region boundaries resolved
    * through the 48 kHz scalefactor-band table B.8b — decoding
    * table-1 (x, y ≤ 1) codes with per-value sign bits, against an
    * EXACT `part2_3_length` bit account. Declared subset (None, the
    * honest path): bit-reservoir frames (main_data_begin ≠ 0), Huffman
    * tables > 1, a count1 region, window-switching granules, stereo,
    * non-48 kHz — and the IMDCT/synthesis transform stays out of scope
    * entirely (frequency lines are the payload truth the entropy layer
    * defines). Returns per-granule integer line statistics in
    * bitstream order. */
  def layer3Decode(bytes: Array[Byte]): Option[(AudioMeta, Seq[L3Granule])] = {
    def header(p: Int): Option[Int] = { // frame length
      if (p + 4 > bytes.length) return None
      val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff
      val b3 = bytes(p + 2) & 0xff; val b4 = bytes(p + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
      if (((b2 >> 3) & 0x3) != 3 || ((b2 >> 1) & 0x3) != 1) return None
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx != 1) return None // 48 kHz
      if (((b4 >> 6) & 0x3) != 3) return None                  // mono
      val br = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                     224, 256, 320)(brIdx)
      Some(144 * br * 1000 / 48000 + ((b3 >> 1) & 1))
    }
    header(0).map { _ =>
      val out = Seq.newBuilder[L3Granule]
      var p = 0
      var f = 0
      var ok = true
      while (ok) header(p) match {
        case Some(len) if p + len <= bytes.length =>
          val r = new BitReader(bytes, p + 4)
          if (r.bits(9) != 0) { ok = false } // bit reservoir: declared
          else {
            r.bits(5); r.bits(4) // private, scfsi (fixture sends both granules)
            // side info per granule, then main data per granule
            final case class Side(part23: Int, bigValues: Int, gain: Int,
                                  scomp: Int, winSwitch: Boolean,
                                  tables: Array[Int], r0: Int, r1: Int)
            val sides = (0 until 2).map { _ =>
              val part23 = r.bits(12); val bv = r.bits(9); val gain = r.bits(8)
              val scomp = r.bits(4)
              val ws = r.bits(1) == 1
              val (tabs, r0, r1) =
                if (ws) { // block_type, mixed, 2 tables, 3 subblock gains
                  r.bits(2); r.bits(1)
                  val t = Array(r.bits(5), r.bits(5)); r.bits(9)
                  (t, -1, -1)
                } else {
                  val t = Array(r.bits(5), r.bits(5), r.bits(5))
                  (t, r.bits(4), r.bits(3))
                }
              r.bits(1); r.bits(1); r.bits(1) // preflag, scalefac_scale, count1sel
              Side(part23, bv, gain, scomp, ws, tabs, r0, r1)
            }
            var g = 0
            while (ok && g < 2) {
              val s = sides(g)
              if (s.winSwitch || s.tables.exists(_ > 1)) { ok = false }
              else {
                val start = r.pos
                val (slen1, slen2) = L3Slen(s.scomp)
                r.bits(slen1 * 11 + slen2 * 10) // scalefactor fields
                var nNz = 0; var isSum = 0L; var sqSum = 0L
                var line = 0
                var k = 0
                var bad = false
                while (!bad && k < s.bigValues) {
                  val region =
                    if (line < L3Sfb48(s.r0 + 1)) 0
                    else if (line < L3Sfb48(math.min(s.r0 + 1 + s.r1 + 1,
                                                     L3Sfb48.length - 1))) 1
                    else 2
                  if (s.tables(region) == 0) { // table 0: no data, zeros
                    line += 2; k += 1
                  } else {
                    // table 1 (B.7): (0,0)='1' (0,1)='001' (1,0)='01'
                    // (1,1)='000', sign bit per nonzero value
                    val (x0, y0) =
                      if (r.bits(1) == 1) (0, 0)
                      else if (r.bits(1) == 1) (1, 0)
                      else if (r.bits(1) == 1) (0, 1)
                      else (1, 1)
                    val x = if (x0 != 0 && r.bits(1) == 1) -x0 else x0
                    val y = if (y0 != 0 && r.bits(1) == 1) -y0 else y0
                    Seq(x, y).foreach { v =>
                      if (v != 0) { nNz += 1; isSum += v; sqSum += v.toLong * v }
                    }
                    line += 2; k += 1
                  }
                  if (r.pos - start > s.part23) bad = true
                }
                if (bad || r.pos - start != s.part23) ok = false // count1 etc.
                else out += L3Granule(f, g, s.bigValues, s.gain, s.part23,
                                      nNz, isSum, sqSum)
              }
              g += 1
            }
            if (ok) { f += 1; p += len }
          }
        case _ => ok = false
      }
      (AudioMeta(48000, 1, -1, f), out.result())
    }.filter(_._2.nonEmpty)
  }

  /** A real MPEG-1 Layer III mono stream (48 kHz, 192 kbps → 576-byte
    * frames) with genuinely Huffman-coded deterministic content — the
    * encode half of the [[layer3Decode]] round trip. Per frame `f`,
    * granule `g`: `16 + (seed+f+g) % 17` big-value pairs of table-1
    * lines `x, y ∈ {−1, 0, 1}` by closed formulas, global_gain
    * `(seed·13 + f·19 + g·29) % 256`, zero scalefactor bits
    * (scalefac_compress 0), no count1 region — part2_3_length is the
    * EXACT Huffman bit count, so the decoder's bit account must land
    * on it to the bit. */
  def layer3Bytes(seed: Long, nFrames: Int): Array[Byte] =
    L3Writer.stream(nFrames, _ => 576, _ => L3Mono48) { f =>
      (0 until 2).map { g =>
        Gran(((seed * 13 + f * 19 + g * 29) % 256).toInt, 0, Seq(1, 1, 1), Nil,
          L3Salt(seed, f, g, 0).unitPairs(), sfScale = 0, count1B = false)
      }
    }

  // ---- Layer III full path: reservoir + count1 + scalefactors +
  // ---- requantization + alias reduction + IMDCT (11172-3 §2.4.3.4) ----

  /** Preemphasis table (11172-3 Table B.6 `pretab`): per-scalefactor-band
    * additional scaling when `preflag` is set; bands 11–20 carry 1,1,1,1,
    * 2,2,3,3,3,2 and the top band 0. */
  private val L3Pretab: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0)

  private def round12(x: Double): Double = math.rint(x * 1e12) / 1e12

  /** Requantization magnitudes |is|^(4/3) for |is| ≤ 30 (the largest
    * value the registered linbits tables can produce: ESC 15 + 4
    * linbits), quantized to 1e-12 — the same engine-portability
    * discipline as the cos/window tables, so the DuckDB oracle folds
    * the identical doubles. Entries 0 and 1 are exact (0, 1), which is
    * why the pre-round-13 dyadic-exactness fixtures (|is| ≤ 1) are
    * unaffected by the table route. */
  val l3Pow43: Array[Double] =
    Array.tabulate(31)(v => round12(math.pow(v.toDouble, 4.0 / 3.0)))

  /** Generalized big-values Huffman table, keyed by `table_select`.
    * Slots 1-3 and 5-10 carry REAL ISO 11172-3 Table B.7 code data
    * (round 14, [[L3IsoHuff]] — each Kraft-complete and prefix-free,
    * asserted per build). Slot 4 — a slot the ISO spec explicitly
    * leaves UNUSED ("not used" in Table B.7, as is 14) — carries a
    * GRAFT-SYNTHETIC uniform 8-bit table over the full 16×16 (x, y)
    * grid with linbits = 4 (code = the 8-bit big-endian encoding of
    * x·16+y). It exists solely to drive the generalized walker's
    * ESC/linbits machinery end-to-end (x or y = 15 ⇒ read `linbits`
    * extra magnitude bits before the sign) and is NOT ISO data;
    * mounting it at an ISO-unused slot makes the boundary unmistakable.
    * Tables 11-13/15 and the 16/24 linbits families remain declared —
    * their recalled data did not pass the closure gate ([[L3IsoHuff]]
    * scaladoc records the attempts). */
  final case class L3HuffTable(
      codes: Map[String, (Int, Int)], linbits: Int, maxLen: Int)

  private[graft] val L3Tables: Map[Int, L3HuffTable] = Map(
    4 -> L3HuffTable(
      (for (x <- 0 until 16; y <- 0 until 16) yield {
        val v = x * 16 + y
        (("0" * 8 + v.toBinaryString).takeRight(8), (x, y))
      }).toMap, 4, 8)) ++
    // real ISO 11172-3 Table B.7 data (tables 1, 2, 3, 5, 6, 7, 8, 9,
    // 10 — each Kraft-complete and prefix-free, asserted per build by
    // L3HuffTablesSpec; see L3IsoHuff for the shipping policy)
    L3IsoHuff.tables

  /** Alias-reduction butterfly coefficients (11172-3 §2.4.3.4.10.1,
    * Table B.9 `ci`), quantized to 1e-12 so both engines evaluate the
    * identical doubles (the k-means-quantization portability trick). */
  private val L3Ci = Array(-0.6, -0.535, -0.33, -0.185, -0.095, -0.041,
                           -0.0142, -0.0037)
  val l3Cs: Array[Double] =
    L3Ci.map(c => round12(1.0 / math.sqrt(1.0 + c * c)))
  val l3Ca: Array[Double] =
    L3Ci.map(c => round12(c / math.sqrt(1.0 + c * c)))

  /** 36-point long-block IMDCT cosine table, flattened `i*18 + k`
    * (11172-3 §2.4.3.4.12: cos(π/72·(2i+1+18)·(2k+1))), and the long-
    * block sine window (§2.4.3.4.10.3 block_type 0: sin(π/36·(i+½))) —
    * both quantized to 1e-12 for engine portability; the same literal
    * doubles are interpolated into the oracle SQL. */
  val l3CosTab: Array[Double] = Array.tabulate(36 * 18) { idx =>
    val i = idx / 18; val k = idx % 18
    round12(math.cos(math.Pi / 72.0 * (2 * i + 1 + 18) * (2 * k + 1)))
  }
  val l3Win: Array[Double] =
    Array.tabulate(36)(i => round12(math.sin(math.Pi / 36.0 * (i + 0.5))))

  /** 12-point short-block IMDCT cosine table, flattened `i*6 + k`
    * (11172-3 §2.4.3.4.12 with n = 12: cos(π/24·(2i+1+6)·(2k+1))), and
    * the short-block sine window (§2.4.3.4.10.3 block_type 2:
    * sin(π/12·(i+½))) — both CLOSED-FORM and 1e-12-quantized for engine
    * portability. */
  val l3Cos12: Array[Double] = Array.tabulate(12 * 6) { idx =>
    val i = idx / 6; val k = idx % 6
    round12(math.cos(math.Pi / 24.0 * (2 * i + 1 + 6) * (2 * k + 1)))
  }
  val l3Win12: Array[Double] =
    Array.tabulate(12)(i => round12(math.sin(math.Pi / 12.0 * (i + 0.5))))

  /** Start (block_type 1) and stop (block_type 3) windows —
    * §2.4.3.4.10.3's CLOSED-FORM piecewise constructions bridging long
    * and short granules: start = long rise / flat 1 / short fall /
    * zero; stop is the time reverse. 1e-12-quantized like every
    * transform constant. */
  val l3WinStart: Array[Double] = Array.tabulate(36) { i =>
    if (i < 18) round12(math.sin(math.Pi / 36.0 * (i + 0.5)))
    else if (i < 24) 1.0
    else if (i < 30) round12(math.sin(math.Pi / 12.0 * (i - 18 + 0.5)))
    else 0.0
  }
  val l3WinStop: Array[Double] = Array.tabulate(36) { i =>
    if (i < 6) 0.0
    else if (i < 12) round12(math.sin(math.Pi / 12.0 * (i - 6 + 0.5)))
    else if (i < 18) 1.0
    else round12(math.sin(math.Pi / 36.0 * (i + 0.5)))
  }

  /** 48 kHz long-block scalefactor-band starts and the pretab, visible
    * for SQL interpolation. */
  private[graft] def l3Sfb48: Array[Int] = L3Sfb48
  private[graft] def l3Pretab: Array[Int] = L3Pretab

  /** REAL ISO Table B.8 short-block band starts, 48 kHz column
    * (round 14; see [[L3IsoSynth.sfbShort]] for all three rates). */
  private val L3SfbS48: Array[Int] = L3IsoSynth.sfbShort(48000)
  private[graft] def l3SfbS48: Array[Int] = L3SfbS48

  /** One fully decoded Layer III granule: reservoir pointer, preflag,
    * count1-quadruple count, and float statistics of the REQUANTIZED
    * spectrum (`xr` per §2.4.3.4.7 — `sign·|is|^{4/3}·2^{(gain−210)/4}·
    * 2^{−m·(sf+preflag·pretab)}`, m = (scalefac_scale+1)/2). */
  final case class L3GranuleFull(frame: Int, granule: Int, mainDataBegin: Int,
                                 preflag: Int, nCount1: Int, nNonzero: Int,
                                 xrSum: Double, xrMsq: Double,
                                 channel: Int = 0)
  /** Time-domain subband output of one granule (18 samples per subband
    * after alias reduction, IMDCT, windowing, overlap-add with the
    * previous granule, and frequency inversion of odd samples in odd
    * subbands — everything short of the polyphase synthesis, whose
    * output is [[L3PcmOut]]). */
  final case class L3SubbandOut(frame: Int, granule: Int, subband: Int,
                                sSum: Double, sMsq: Double, channel: Int = 0)

  /** ISO 11172-3 §2.4.3.1 CRC-16 over the protected field (header bytes
    * 2–3 + the complete side info): polynomial x¹⁶+x¹⁵+x²+1 (0x8005),
    * initial state 0xFFFF, MSB-first, no reflection, no final xor. */
  private[graft] def mpegCrc16(bytes: Array[Byte], from: Int,
                               until: Int): Int = {
    var crc = 0xffff
    var i = from
    while (i < until) {
      var bit = 7
      while (bit >= 0) {
        val in = (bytes(i) >> bit) & 1
        val top = (crc >> 15) & 1
        crc = ((crc << 1) & 0xffff) | 0
        if ((top ^ in) == 1) crc ^= 0x8005
        bit -= 1
      }
      i += 1
    }
    crc
  }

  /** 1e-12-quantized 1/√2 — the MS-stereo recombination constant
    * (§2.4.3.4.9.1: L=(M+S)/√2, R=(M−S)/√2), interpolated into the
    * oracle SQL. */
  val l3InvSqrt2: Double = round12(1.0 / math.sqrt(2.0))

  /** 1e-12-quantized intensity-stereo ratios tan(is_pos·π/12) for
    * is_pos 0..5 (§2.4.3.4.9.3; is_pos 6 is the fully-left limit
    * handled exactly, 7 means no processing). */
  val l3IsRatio: Array[Double] =
    Array.tabulate(6)(p => round12(math.tan(p * math.Pi / 12.0)))

  /** Polyphase synthesis matrixing coefficients (11172-3 §2.4.3.2.2 /
    * Annex A flow chart: N(k,i) = cos((16+k)·(2i+1)·π/64), k = 0..63,
    * i = 0..31), flattened `k*32 + i` and 1e-12-quantized — CLOSED-FORM
    * ISO structure, not tabulated data. */
  val l3SynthN: Array[Double] = Array.tabulate(64 * 32) { idx =>
    val k = idx / 32; val i = idx % 32
    round12(math.cos((16 + k) * (2 * i + 1) * math.Pi / 64.0))
  }

  /** The REAL ISO Table C.1 synthesis window (round 14 — the declared
    * one-array drop-in landed): 512 taps, every value an exact multiple
    * of 2^-16 so both engines fold identical doubles with no
    * quantization step. Functionally verified by the full §2.4.3.2
    * analysis→synthesis near-perfect-reconstruction cascade at the
    * published 481-sample delay (see [[L3IsoSynth.winC1]] /
    * L3IsoSynthSpec). */
  val l3SynthD: Array[Double] = L3IsoSynth.winC1

  /** The round-13 GRAFT-SYNTHETIC stand-in window
    * (sin(π·(2n+1)/1024)/32, 1e-12-quantized) that proved the synthesis
    * MACHINERY before the real Table C.1 data shipped. Kept only as the
    * negative control for the near-PR cascade spec: it fails the
    * reconstruction bound by ~7 orders of magnitude, demonstrating the
    * spec actually pins the window data. */
  private[graft] val l3SynthDSynthetic: Array[Double] =
    Array.tabulate(512)(n => round12(math.sin((2 * n + 1) * math.Pi / 1024.0) / 32.0))

  /** Windowed PCM output of one granule through the polyphase synthesis
    * machinery (18 steps × 32 samples; REAL ISO Table C.1 window — see
    * [[l3SynthD]]): per-granule sum and sum-of-squares of the 576
    * output samples, folded in (step, sample) order. */
  final case class L3PcmOut(frame: Int, granule: Int,
                            pcmSum: Double, pcmMsq: Double, channel: Int = 0)

  /** One §2.4.3.2.2 synthesis step: shifts the 1024-sample V register
    * `vv` by 64 (mutating it), matrixes the 32 subband samples `s`
    * through [[l3SynthN]], extracts the U vector
    * (U[j·64+i] = V[j·128+i], U[j·64+32+i] = V[j·128+96+i]), and returns
    * the 32 PCM samples as 16-tap windowed sums over [[l3SynthD]].
    * Register depth: 1024/64 = 16 steps — an input stops influencing
    * the output exactly 16 steps later. */
  private[graft] def l3SynthStep(vv: Array[Double],
                                 s: Array[Double]): Array[Double] = {
    var k = 1023
    while (k >= 64) { vv(k) = vv(k - 64); k -= 1 }
    k = 0
    while (k < 64) {
      var acc = 0.0
      var sb = 0
      while (sb < 32) { acc += s(sb) * l3SynthN(k * 32 + sb); sb += 1 }
      vv(k) = acc
      k += 1
    }
    Array.tabulate(32) { i =>
      var acc = 0.0
      var j = 0
      while (j < 16) {
        val u = if (j % 2 == 0) vv((j / 2) * 128 + i)
                else vv((j / 2) * 128 + 96 + i)
        acc += u * l3SynthD(j * 32 + i)
        j += 1
      }
      acc
    }
  }

  /** REAL MP3 (MPEG-1 Audio Layer III) payload decode through the
    * reservoir + requantization + transform chain (ISO/IEC 11172-3
    * §2.4.3.4, public spec) — the Layer III structural seam made real:
    *
    *   - BIT RESERVOIR: main data is located through `main_data_begin`
    *     back-pointers into the concatenated main-data pool (headers and
    *     side info excluded), exactly as §2.4.2.3 lays the stream out;
    *     frames whose granule data begins inside earlier frames decode
    *     correctly.
    *   - SCALEFACTORS: slen1/slen2 fields (Table B.6) are decoded (not
    *     skipped), with scfsi band-group sharing between the two granules
    *     of a frame (§2.4.2.7: groups 0–5, 6–10, 11–15, 16–20).
    *   - COUNT1 REGION: quadruple codes via count1 table B (§B.7: 4-bit
    *     codewords, each bit the complement of v,w,x,y) with per-nonzero
    *     sign bits, decoded until the exact `part2_3_length` account.
    *   - REQUANTIZATION: the full §2.4.3.4.7 formula incl. preflag/pretab
    *     and scalefac_scale.
    *   - TRANSFORM: alias-reduction butterflies (ci of Table B.9), the
    *     36-point long-block IMDCT, sine windowing, overlap-add across
    *     granules, and odd-subband frequency inversion — emitting
    *     time-domain subband samples.
    *
    *   - STEREO: plain stereo decodes both channels independently; joint
    *     stereo with the MS extension applies the §2.4.3.4.9.1
    *     recombination L=(M+S)/√2, R=(M−S)/√2 after both channels of a
    *     granule are requantized (32-byte side info, per-channel scfsi
    *     and overlap-add state); the INTENSITY extension (§2.4.3.4.9.3)
    *     pans the left-carried signal across scalefactor bands wholly
    *     above the right channel's last nonzero line with ratio
    *     tan(is_pos·π/12), is_pos from the right channel's scalefactor
    *     slots (7 = no processing).
    *
    *   - POLYPHASE SYNTHESIS (§2.4.3.2.2): the REAL machinery — per time
    *     step the 1024-sample V shift register advances by 64, the 32
    *     subband samples are matrixed through the closed-form
    *     N(k,i) = cos((16+k)(2i+1)π/64), the 512-sample U vector is
    *     extracted (U[j·64+i] = V[j·128+i], U[j·64+32+i] = V[j·128+96+i]),
    *     and each of the 32 PCM samples is the 16-tap windowed sum
    *     Σⱼ U[j·32+i]·D[j·32+i] — through the REAL ISO Table C.1
    *     window [[l3SynthD]] (round 14; near-PR-verified drop-in).
    *
    * WINDOW SWITCHING is decoded in FULL: block_type 1 (start), 2
    * short (stride-3 reorder, subblock gains, three 12-point IMDCTs
    * with the closed-form short window, 6-offset overlap assembly over
    * the REAL ISO Table B.8 48 kHz short geometry — round 14), 2 MIXED
    * (two long subbands under the real ISO long geometry + real short
    * bands 3-12 above, alias reduction at the single
    * long boundary, the §2.4.2.7 mixed scalefactor layout), and 3
    * (stop) — the start/stop windows are the closed-form §2.4.3.4.10.3
    * piecewise constructions.
    *
    * Still declared (None on encounter): Huffman tables > 1, count1
    * table A, the ISO short-block scalefactor-band geometry (Table B.8
    * short columns), and the ISO synthesis window coefficients (Table
    * C.1) — tabulated constants we refuse to approximate; the machinery
    * around each is real. Transform constants are 1e-12-quantized so
    * the oracle can replay the exact doubles. */
  def layer3DecodeFull(bytes: Array[Byte],
                       extraTables: Map[Int, L3HuffTable] = Map.empty,
                       extraGeometry: Map[Int, (Array[Int], Array[Int])] =
                         Map.empty,
                       allowSyntheticGeometry: Boolean = false)
      : Option[(AudioMeta, Seq[L3GranuleFull], Seq[L3SubbandOut],
                Seq[L3PcmOut])] = {
    // runtime-loaded big-values tables ([[L3IsoHuff.load]] — e.g. the
    // ISO tables 11/13/15/16-31 whose data the repo declares rather
    // than ships) merge OVER nothing: load() refuses ids that collide
    // with registered tables, so this union is always disjoint. The
    // map is closure-captured, so on a real cluster the loaded tables
    // ship with the task like any other fixture constant.
    val huffTabs =
      if (extraTables.isEmpty) L3Tables else L3Tables ++ extraTables
    // header → (frame length, channels, MS flag, intensity flag, CRC
    // protection); mono, plain stereo, and joint stereo with the MS
    // and/or intensity extensions are supported; protection_bit = 0
    // frames carry a 16-bit CRC word between header and side info that
    // is VERIFIED (§2.4.3.1: poly x¹⁶+x¹⁵+x²+1 over header bytes 2–3 +
    // the side info) — a mismatching frame refuses the stream.
    def headerLen(p: Int)
        : Option[(Int, Int, Boolean, Boolean, Boolean, Int, Boolean)] = {
      if (p + 4 > bytes.length) return None
      val b1 = bytes(p) & 0xff; val b2 = bytes(p + 1) & 0xff
      val b3 = bytes(p + 2) & 0xff; val b4 = bytes(p + 3) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None
      // MPEG-1 (version bits 11) since round 14, MPEG-2 LSF (bits 10)
      // and the de-facto MPEG-2.5 extension (bits 00, quarter rates,
      // same LSF frame layout) since round 15; bits 01 are reserved
      val version = (b2 >> 3) & 0x3
      if (version == 1 || ((b2 >> 1) & 0x3) != 1) return None
      val lsf = version != 3
      val brIdx = (b3 >> 4) & 0xf; val srIdx = (b3 >> 2) & 0x3
      if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
      val sr = version match {
        case 3 => Array(44100, 48000, 32000)(srIdx)
        case 2 => Array(22050, 24000, 16000)(srIdx)
        case _ => Array(11025, 12000, 8000)(srIdx)
      }
      val mode = (b4 >> 6) & 0x3; val modeExt = (b4 >> 4) & 0x3
      val nch = if (mode == 3) 1 else 2
      val ms = mode == 1 && (modeExt & 2) != 0
      val intens = mode == 1 && (modeExt & 1) != 0
      val prot = (b2 & 1) == 0
      val br =
        if (lsf) Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
                       128, 144, 160)(brIdx)
        else Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                   224, 256, 320)(brIdx)
      // LSF frames carry 576 samples (one granule): length = 72·br/sr
      Some(((if (lsf) 72 else 144) * br * 1000 / sr + ((b3 >> 1) & 1),
            nch, ms, intens, prot, sr, lsf))
    }
    // Pass 1: frame offsets + the main-data pool (everything after each
    // frame's 4-byte header, optional 2-byte CRC, and 17-byte mono /
    // 32-byte stereo side info).
    val frameOff = Seq.newBuilder[Int]
    var p = 0
    var scanOk = true
    while (scanOk) headerLen(p) match {
      case Some((len, _, _, _, _, _, _)) if p + len <= bytes.length =>
        frameOff += p; p += len
      case _ => scanOk = false
    }
    val offs = frameOff.result()
    if (offs.isEmpty) return None
    val headers = offs.map(o => headerLen(o).get)
    // LSF (13818-3) side info is 9/17 bytes (one granule, 8-bit
    // main_data_begin, 9-bit scalefac_compress, no scfsi, no preflag
    // bit) vs MPEG-1's 17/32
    def sideBytes(nch: Int, lsf: Boolean): Int =
      if (lsf) { if (nch == 1) 9 else 17 }
      else { if (nch == 1) 17 else 32 }
    def crcBytes(prot: Boolean): Int = if (prot) 2 else 0
    // verify every protected frame's CRC up front
    offs.zip(headers).foreach { case (o, (_, nch, _, _, prot, _, lsfF)) =>
      if (prot) {
        val sb = o + 4 + 2
        if (sb + sideBytes(nch, lsfF) > bytes.length) return None
        val protected_ = bytes.slice(o + 2, o + 4) ++
          bytes.slice(sb, sb + sideBytes(nch, lsfF))
        val want = ((bytes(o + 4) & 0xff) << 8) | (bytes(o + 5) & 0xff)
        if (mpegCrc16(protected_, 0, protected_.length) != want)
          return None
      }
    }
    val pool = offs.zip(headers).flatMap {
      case (o, (len, nch, _, _, pr, _, lsfF)) =>
        bytes.slice(o + 4 + crcBytes(pr) + sideBytes(nch, lsfF), o + len)
    }.toArray
    // one constant sample rate per stream: the scalefactor-band
    // geometry is rate-wide state; a mid-stream rate change refuses
    val srAll = headers.map(_._6).distinct
    if (srAll.size != 1) return None
    // LSF joint-stereo intensity decodes since round 16 with the
    // 13818-3 semantics (int_scalefac_compress classes, io^k factor
    // pairs — lsfScaleIntensity / l3LsfIsKl/Kr), replacing the round-15
    // declared refusal; only isfc = 255 (outside every class) refuses.
    val srHz = srAll.head
    // PROVENANCE GUARD (round 16): the LSF/V2.5 rates mount declared
    // GRAFT-SYNTHETIC band geometry — decoding a real 22.05/24/16 kHz
    // file with it would yield silently-wrong band boundaries. Those
    // rates therefore REFUSE unless the caller loads real geometry
    // ([[L3IsoSynth.loadGeometry]] → `extraGeometry`, gate-validated)
    // or opts into the synthetic tiling explicitly (fixtures/specs).
    val geomOver = extraGeometry.get(srHz)
    if (!L3IsoSynth.realGeometryRates.contains(srHz) &&
        geomOver.isEmpty && !allowSyntheticGeometry) return None
    val sfbL = geomOver.map(_._1).getOrElse(L3IsoSynth.sfbLong(srHz))
    val sfbS = geomOver.map(_._2).getOrElse(L3IsoSynth.sfbShort(srHz))
    def sfbOfL(line: Int): Int = {
      var b = 0
      while (b + 1 < sfbL.length && sfbL(b + 1) <= line) b += 1
      b
    }
    def sbandOfS(line: Int): Int = {
      var b = 0
      while (b + 1 < sfbS.length && sfbS(b + 1) <= line) b += 1
      b
    }
    // LSF MIXED blocks put the two long subbands under the first 6 long
    // bands and start the short region at short band 3 — that is only
    // coherent when the geometry tiles those boundaries exactly
    // (sfbL(6) = 36, sfbS(3) = 12; true of the synthetic tiling AND the
    // published Annex B columns at every LSF rate). A loaded geometry
    // that breaks the alignment refuses MIXED granules rather than
    // mis-banding them (long/short granules don't depend on it).
    val lsfMixedAligned = sfbL.length > 6 && sfbL(6) == 36 &&
      sfbS.length > 3 && sfbS(3) == 12
    val poolBefore = headers.map { case (len, nch, _, _, pr, _, lsfF) =>
      len - 4 - crcBytes(pr) - sideBytes(nch, lsfF)
    }.scanLeft(0)(_ + _)

    // bt = block_type (0 long, 1 start, 2 short, 3 stop); mixed =
    // mixed_block_flag (only valid with bt 2: two long subbands below
    // per-window line 12, short windows above); sbg = subblock_gain
    // per short window
    final case class Side(part23: Int, bigValues: Int, gain: Int, scomp: Int,
                          tables: Array[Int], r0: Int, r1: Int, preflag: Int,
                          sfScale: Int, c1Sel: Int, bt: Int = 0,
                          sbg: Array[Int] = Array(0, 0, 0), mixed: Int = 0)
    val grans = Seq.newBuilder[L3GranuleFull]
    val subs = Seq.newBuilder[L3SubbandOut]
    val pcms = Seq.newBuilder[L3PcmOut]
    // overlap-add state per channel: previous granule's windowed tails
    val prevTail = Array.ofDim[Double](2, 32, 18)
    // polyphase synthesis state per channel: the 1024-sample V shift
    // register of §2.4.3.2.2, persisted across granules and frames
    val synthV = Array.ofDim[Double](2, 1024)
    var ok = true
    var f = 0
    while (ok && f < offs.length) {
      val o = offs(f)
      val (_, nch, ms, intens, prot, _, lsf) = headers(f)
      val si = new BitReader(bytes, o + 4 + crcBytes(prot))
      // LSF: 8-bit main_data_begin, 1/2 private bits, NO scfsi, ONE
      // granule, 9-bit scalefac_compress, preflag DERIVED (sfc >= 500)
      val mdb = si.bits(if (lsf) 8 else 9)
      si.bits(if (lsf) { if (nch == 1) 1 else 2 }
            else { if (nch == 1) 5 else 3 }) // private bits
      val scfsi =
        if (lsf) Array.fill(nch)(Array.fill(4)(0))
        else Array.fill(nch)(Array.fill(4)(si.bits(1)))
      val ngr = if (lsf) 1 else 2
      // The RIGHT channel of an LSF intensity-stereo frame reinterprets
      // its scalefac_compress through the intensity classes (13818-3):
      // preflag never applies there, and isfc = 255 (outside every
      // class) refuses.
      def lsfIntChan(ch: Int): Boolean =
        lsf && intens && nch == 2 && ch == 1
      val sides = Array.tabulate(ngr, nch) { (_, chIdx) =>
        val part23 = si.bits(12); val bv = si.bits(9); val gain = si.bits(8)
        val scomp = si.bits(if (lsf) 9 else 4)
        if (lsfIntChan(chIdx) && (scomp >> 1) == 255) ok = false
        def lsfPre: Int =
          if (lsfIntChan(chIdx)) 0 else if (scomp >= 500) 1 else 0
        val ws = si.bits(1)
        if (ws == 1) {
          // window switching (§2.4.1.7): block_type, mixed_block_flag,
          // TWO table_selects, three subblock_gains (transmitted for
          // every ws granule; only short windows apply them);
          // region0/region1 are implicit — region0_count 7 (long forms)
          // and 8 (short) both place the boundary at entropy line 36
          // (L3Sfb48(8) = 36), region1 to the top. block_type 1 (start),
          // 2 (short, mixed or not), and 3 (stop) are all decoded —
          // for MPEG-1 since round 14/15 and for LSF since round 16
          // (lsfScale's short/mixed partition classes); only the
          // forbidden block_type 0, mixed flags on non-short types, and
          // LSF mixed on non-aligned loaded geometry refuse.
          val bt = si.bits(2); val mixed = si.bits(1)
          val tabs = Array(si.bits(5), si.bits(5))
          val sbg = Array(si.bits(3), si.bits(3), si.bits(3))
          val pre = if (lsf) lsfPre else si.bits(1)
          val sfs = si.bits(1); val c1 = si.bits(1)
          if (bt == 0 || (mixed == 1 && bt != 2) ||
              (lsf && mixed == 1 && !lsfMixedAligned)) {
            ok = false
            Side(0, 0, 0, 0, Array(0), 0, 0, 0, 0, 0)
          } else Side(part23, bv, gain, scomp, tabs, 0, 0, pre, sfs, c1,
                      bt, sbg, mixed)
        } else {
          val tabs = Array(si.bits(5), si.bits(5), si.bits(5))
          val r0 = si.bits(4); val r1 = si.bits(3)
          val pre = if (lsf) lsfPre else si.bits(1)
          val sfs = si.bits(1); val c1 = si.bits(1)
          Side(part23, bv, gain, scomp, tabs, r0, r1, pre, sfs, c1)
        }
      }
      if (ok) {
        // main data location via the reservoir back-pointer
        val startByte = poolBefore(f) - mdb
        if (startByte < 0) ok = false
        else {
          val md = new BitReader(pool, startByte)
          val sfPrev = Array.ofDim[Int](nch, 21) // granule-0 scalefactors
          // §2.4.2.7: scfsi must be all-zero when either granule of the
          // channel uses short blocks — a short granule populates no
          // long-band slots to share, so such a stream REFUSES rather
          // than mis-decoding granule 1 from empty predictors (start/
          // stop granules use the long layout and may share normally)
          var c2 = 0
          while (c2 < nch) {
            if (scfsi(c2).exists(_ == 1) &&
                (sides(0)(c2).bt == 2 || sides(1)(c2).bt == 2)) ok = false
            c2 += 1
          }
          var g = 0
          while (ok && g < ngr) {
            val xrCh = Array.ofDim[Double](nch, 576)
            val sfCh = Array.ofDim[Int](nch, 21)
            val sfSCh = Array.ofDim[Int](nch, 12, 3) // short scalefactors
            // per-band slot slens (LSF only): the intensity ILLEGAL
            // position is (1 << slen) − 1 of the RIGHT channel's band
            // slot, so the read loop records what it read each slot with
            val slenLCh = Array.ofDim[Int](nch, 21)
            val slenSCh = Array.ofDim[Int](nch, 12, 3)
            val lastNz = Array.fill(nch)(-1) // last nonzero entropy line
            // short blocks: last nonzero per-window SPECTRAL line — the
            // §2.4.3.4.9.3 intensity bound is per window there
            val lastNzS = Array.fill(nch, 3)(-1)
            var ch = 0
            while (ok && ch < nch) {
              val s = sides(g)(ch)
              // any registered table decodes (real ISO 1-3/5-10 +
              // synthetic slot 4); both count1 tables decode since
              // round 14 (A = real ISO quad code, B = closed form)
              if (s.tables.exists(t => t != 0 && !huffTabs.contains(t)))
                ok = false
              else try {
                val start = md.pos
                val (slen1, slen2) =
                  if (lsf) (0, 0) else L3Slen(s.scomp)
                val short = s.bt == 2
                val mix = short && s.mixed == 1
                // scalefactors. Long: per-channel scfsi sharing (groups
                // 0-5, 6-10, 11-15, 16-20). Short (§2.4.2.7): 12 bands ×
                // 3 windows, slen1 for bands 0-5, slen2 for 6-11, always
                // transmitted (scfsi does not apply to short blocks).
                // Mixed: long bands 0-7 (slen1), then short bands 3-11 ×
                // 3 windows (slen1 for 3-5, slen2 for 6-11) — 17·slen1 +
                // 18·slen2 bits.
                val sf = sfCh(ch)
                val sfS = sfSCh(ch) // kept per channel for intensity is_pos
                if (lsf) {
                  // LSF layout (13818-3 §2.4.3.2/.3): four slens and
                  // four partition SLOT counts derived ALGORITHMICALLY
                  // from the 9-bit scalefac_compress — the long class
                  // since round 15, the short/mixed classes and the
                  // intensity-channel reinterpretation (isfc = scomp>>1,
                  // own classes, preflag 0) since round 16. Slots map
                  // btn 0 → 21 long bands; btn 1 → 36 short slots
                  // (band-major window-minor); btn 2 → 6 long bands then
                  // short bands 3–11 × 3. Every class tiles its slot
                  // total exactly (L3LsfSpec closes all 512 × 3 + the
                  // intensity 255 × 3), so the read loop covers every
                  // slot and the bit account pins the derivation.
                  val btn = if (short) { if (mix) 2 else 1 } else 0
                  val isInt = intens && nch == 2 && ch == 1
                  val (slens, parts) =
                    if (isInt) lsfScaleIntensity(s.scomp >> 1, btn)
                    else lsfScale(s.scomp, btn)
                  val slenL = slenLCh(ch); val slenS = slenSCh(ch)
                  var slot = 0; var pi = 0
                  while (pi < 4) {
                    var k2 = 0
                    while (k2 < parts(pi)) {
                      val sl = slens(pi)
                      val v = md.bits(sl)
                      if (btn == 0) { sf(slot) = v; slenL(slot) = sl }
                      else if (btn == 1) {
                        sfS(slot / 3)(slot % 3) = v
                        slenS(slot / 3)(slot % 3) = sl
                      } else if (slot < 6) {
                        sf(slot) = v; slenL(slot) = sl
                      } else {
                        val b2 = 3 + (slot - 6) / 3; val w2 = (slot - 6) % 3
                        sfS(b2)(w2) = v; slenS(b2)(w2) = sl
                      }
                      slot += 1; k2 += 1
                    }
                    pi += 1
                  }
                } else if (mix) {
                  var band = 0
                  while (band < 8) { sf(band) = md.bits(slen1); band += 1 }
                  var b2 = 3
                  while (b2 < 12) {
                    val slen = if (b2 < 6) slen1 else slen2
                    var w = 0
                    while (w < 3) { sfS(b2)(w) = md.bits(slen); w += 1 }
                    b2 += 1
                  }
                } else if (short) {
                  var b2 = 0
                  while (b2 < 12) {
                    val slen = if (b2 < 6) slen1 else slen2
                    var w = 0
                    while (w < 3) { sfS(b2)(w) = md.bits(slen); w += 1 }
                    b2 += 1
                  }
                } else {
                  var band = 0
                  while (band < 21) {
                    val group = if (band < 6) 0 else if (band < 11) 1
                                else if (band < 16) 2 else 3
                    val slen = if (band < 11) slen1 else slen2
                    if (g == 1 && scfsi(ch)(group) == 1)
                      sf(band) = sfPrev(ch)(band)
                    else sf(band) = md.bits(slen)
                    band += 1
                  }
                  if (g == 0) Array.copy(sf, 0, sfPrev(ch), 0, 21)
                }
                // big_values region (table-driven: any registered table,
                // ESC/linbits included) + count1 region (table B)
                val is = new Array[Int](576)
                var line = 0
                var k = 0
                var bad = false
                // one (x, y) pair through a registered Huffman table:
                // codeword walk, then per value the ESC linbits
                // extension (x0 = 15 ⇒ magnitude += linbits bits) and
                // the sign bit — the §2.4.3.7 field order.
                def readPair(tab: L3HuffTable): Option[(Int, Int)] =
                  md.code(tab.codes.get, tab.maxLen).map { case (x0, y0) =>
                    val xm = if (tab.linbits > 0 && x0 == 15)
                      x0 + md.bits(tab.linbits) else x0
                    val x = if (xm != 0 && md.bits(1) == 1) -xm else xm
                    val ym = if (tab.linbits > 0 && y0 == 15)
                      y0 + md.bits(tab.linbits) else y0
                    val y = if (ym != 0 && md.bits(1) == 1) -ym else ym
                    (x, y)
                  }
                while (!bad && k < s.bigValues && line + 2 <= 576) {
                  // window switching: implicit entropy-line-36 boundary
                  // (region0_count 7 long / 8 short both land there),
                  // region1 to the top (§2.4.1.7)
                  val region =
                    if (s.bt != 0) { if (line < 36) 0 else 1 }
                    else if (line < sfbL(s.r0 + 1)) 0
                    else if (line < sfbL(math.min(s.r0 + 1 + s.r1 + 1,
                                                  sfbL.length - 1))) 1
                    else 2
                  if (s.tables(region) == 0) { line += 2 }
                  else readPair(huffTabs(s.tables(region))) match {
                    case None => bad = true
                    case Some((x, y)) =>
                      is(line) = x; is(line + 1) = y
                      line += 2
                  }
                  k += 1
                  if (md.pos - start > s.part23) bad = true
                }
                var nC1 = 0
                while (!bad && md.pos - start < s.part23 && line + 4 <= 576) {
                  // count1 region per count1table_select (§2.4.2.7):
                  // 0 → table A (real ISO quad Huffman code, walked like
                  // a big-values codeword), 1 → table B (the closed-form
                  // 4-bit complement code). Either way the decoded 4-bit
                  // index IS (v,w,x,y), then a sign bit per nonzero.
                  val c =
                    if (s.c1Sel == 0)
                      md.code(L3IsoHuff.quadA.get, L3IsoHuff.quadAMaxLen)
                        .getOrElse { bad = true; 0 }
                    else 0xf ^ md.bits(4)
                  var j = 0
                  while (!bad && j < 4) {
                    val v0 = (c >> (3 - j)) & 1
                    is(line + j) =
                      if (v0 != 0 && md.bits(1) == 1) -v0 else v0
                    j += 1
                  }
                  line += 4; nC1 += 1
                  if (md.pos - start > s.part23) bad = true
                }
                if (bad || md.pos - start != s.part23) ok = false
                else {
                  // requantization (§2.4.3.4.7), pre-stereo-processing
                  val mult = math.pow(2.0, (s.gain - 210) / 4.0)
                  val m = 0.5 * (s.sfScale + 1)
                  val xr = xrCh(ch)
                  var i = 0
                  var nNz = 0; var xs = 0L; var xq = 0L
                  while (i < 576) {
                    val v = is(i)
                    if (v != 0) {
                      val x = if ((mix && i >= 36) || (short && !mix)) {
                        // short entropy lines under the REAL ISO Table
                        // B.8 short geometry (48 kHz column, round 14):
                        // entropy order is band-major with the 3 windows
                        // grouped inside each band; in the MIXED form the
                        // short region starts at band 3 (3·12 = 36, flush
                        // with the long region's end). Per-window
                        // subblock_gain (−2 exponent units each),
                        // per-(band, window) scalefactor (0 in the
                        // no-scalefactor region above band 11), no pretab
                        // (preflag is not used with short blocks).
                        val (b, w, _) = L3IsoSynth.shortPos(sfbS, i)
                        val sfv = if (b < 12) sfS(b)(w) else 0
                        math.signum(v.toDouble) *
                          l3Pow43(math.min(math.abs(v), 30)) * mult *
                          math.pow(2.0, -2.0 * s.sbg(w) - m * sfv)
                      } else {
                        // long lines (block_type 0/1/3, and the mixed
                        // form's two long subbands — real ISO long
                        // geometry, bands 0-7)
                        val bnd = sfbOfL(i)
                        val sfv = if (bnd < 21) sf(bnd) else 0
                        math.signum(v.toDouble) *
                          l3Pow43(math.min(math.abs(v), 30)) * mult *
                          math.pow(2.0, -m * (sfv + s.preflag * L3Pretab(bnd)))
                      }
                      if ((mix && i >= 36) || (short && !mix)) {
                        // reorder (§2.4.3.4.8): spectral line
                        // l = s_b + freq of window w lands at 3·l + w —
                        // within subband l/6 the windows interleave with
                        // stride 3; band starts from the REAL Table B.8
                        // short column
                        val (_, w, l) = L3IsoSynth.shortPos(sfbS, i)
                        xr(3 * l + w) = x
                        if (l > lastNzS(ch)(w)) lastNzS(ch)(w) = l
                      } else {
                        xr(i) = x
                        lastNz(ch) = i
                      }
                      nNz += 1; xs += quant6(x); xq += quant6(x * x)
                    }
                    i += 1
                  }
                  grans += L3GranuleFull(f, g, mdb, s.preflag, nC1, nNz,
                    xs / 1e6 + 0.0, xq / 1e6 + 0.0, ch)
                }
              } catch {
                // main data running past the reservoir refuses the stream
                case _: Bits.PastEnd => ok = false
              }
              ch += 1
            }
            if (ok) {
              // Stereo processing after both channels of the granule are
              // requantized: INTENSITY bands (§2.4.3.4.9.3 — scalefactor
              // bands wholly above the right channel's last nonzero line;
              // is_pos from the right channel's scalefactor slots, 7 = no
              // processing, ratio tan(is_pos·π/12)) are panned from the
              // left-carried signal; remaining bands get the MS matrix
              // (§2.4.3.4.9.1) when the MS extension is on.
              // MS recombination is LINE-wise (geometry-independent), so
              // it applies to window-switched granules too. INTENSITY
              // over pure-short granules is decoded since round 14 (real
              // B.8 geometry unblocked it): the §2.4.3.4.9.3 bound is
              // PER WINDOW (bands wholly above the right channel's last
              // nonzero spectral line of that window), is_pos from the
              // right channel's short scalefactor slots. Intensity over
              // MIXED granules (both channels bt 2 / mixed 1) is decoded
              // since round 15: the short region (reordered lines ≥ 36)
              // takes the same per-window bound; a LONG band below the
              // switch point is in the right channel's zero part only if
              // the ENTIRE short region above it is zero in all three
              // windows (the zero region is contiguous from the top of
              // the spectrum, §2.4.3.4.9.3) — then bands above the last
              // nonzero long line pan with is_pos from the right
              // channel's LONG slots. Differing channel block types stay
              // declared.
              val shortStereo = nch == 2 && sides(g)(0).bt == 2 &&
                sides(g)(1).bt == 2 && sides(g).forall(_.mixed == 0)
              val mixedStereo = nch == 2 && sides(g)(0).bt == 2 &&
                sides(g)(1).bt == 2 && sides(g).forall(_.mixed == 1)
              if (nch == 2 && intens && sides(g).exists(_.bt == 2) &&
                  !shortStereo && !mixedStereo) ok = false
              if (ok && nch == 2 && (ms || intens)) {
                val rShortZero = mixedStereo &&
                  (0 until 3).forall(lastNzS(1)(_) < 0)
                var i = 0
                while (i < 576) {
                  val isIntens = intens && {
                    if (shortStereo || (mixedStereo && i >= 36)) {
                      val w = i % 3
                      val b = sbandOfS(i / 3)
                      sfbS(b) > lastNzS(1)(w)
                    } else if (mixedStereo) {
                      rShortZero && sfbL(sfbOfL(i)) > lastNz(1)
                    } else sfbL(sfbOfL(i)) > lastNz(1)
                  }
                  if (isIntens) {
                    // is_pos from the right channel's band slot; LSF
                    // also needs the slot's slen (illegal = 2^slen − 1).
                    // Slots beyond the transmitted range mean NO
                    // processing (isPosV stays −1): MPEG-1 encodes that
                    // as is_pos 7, 13818-3 as the illegal position.
                    var isPosV = -1; var slenR = 0
                    if (shortStereo || (mixedStereo && i >= 36)) {
                      val b = sbandOfS(i / 3)
                      if (b < 12) {
                        isPosV = sfSCh(1)(b)(i % 3)
                        slenR = slenSCh(1)(b)(i % 3)
                      }
                    } else {
                      val bnd = sfbOfL(i)
                      val nLong =
                        if (mixedStereo) { if (lsf) 6 else 8 } else 21
                      if (bnd < nLong) {
                        isPosV = sfCh(1)(bnd)
                        slenR = slenLCh(1)(bnd)
                      }
                    }
                    if (lsf) {
                      // 13818-3 intensity (round 16): factor pairs
                      // (k_l, k_r) = io^k from l3LsfIsKl/Kr, keyed on
                      // intensity_scale = the right channel's
                      // scalefac_compress LSB; illegal position =
                      // (1 << slen) − 1 of the band's slot → untouched.
                      if (isPosV >= 0 && isPosV != (1 << slenR) - 1) {
                        val sc = sides(g)(1).scomp & 1
                        val l = xrCh(0)(i)
                        xrCh(0)(i) = l * l3LsfIsKl(sc)(isPosV)
                        xrCh(1)(i) = l * l3LsfIsKr(sc)(isPosV)
                      }
                    } else if (isPosV >= 0 && isPosV < 7) {
                      // MPEG-1: is_pos 7 = no processing; values 8..15
                      // are possible bit patterns under a 4-bit slen but
                      // are reserved — treated as no-processing too
                      // (round-16 review: l3IsRatio has 6 ratio entries,
                      // a corrupt file must not crash the task)
                      val l = xrCh(0)(i)
                      if (isPosV == 6) { xrCh(1)(i) = 0.0 }
                      else {
                        val r = l3IsRatio(isPosV)
                        xrCh(0)(i) = l * (r / (1.0 + r))
                        xrCh(1)(i) = l * (1.0 / (1.0 + r))
                      }
                    }
                  } else if (ms) {
                    val mm = xrCh(0)(i); val ss = xrCh(1)(i)
                    xrCh(0)(i) = (mm + ss) * l3InvSqrt2
                    xrCh(1)(i) = (mm - ss) * l3InvSqrt2
                  }
                  i += 1
                }
              }
              ch = 0
              while (ok && ch < nch) {
                val xr = xrCh(ch)
                val shortCh = sides(g)(ch).bt == 2
                val mixedCh = shortCh && sides(g)(ch).mixed == 1
                // alias reduction (§2.4.3.4.10.1) — long subbands only:
                // all 31 boundaries for long block types, ONLY the
                // sb0|sb1 boundary for mixed (its two long subbands),
                // none for pure short
                if (!shortCh || mixedCh) {
                  var sb = 1
                  val sbMax = if (mixedCh) 2 else 32
                  while (sb < sbMax) {
                    var j = 0
                    while (j < 8) {
                      val lo = 18 * sb - 1 - j; val hi = 18 * sb + j
                      val a = xr(lo); val b = xr(hi)
                      xr(lo) = a * l3Cs(j) - b * l3Ca(j)
                      xr(hi) = b * l3Cs(j) + a * l3Ca(j)
                      j += 1
                    }
                    sb += 1
                  }
                }
                // IMDCT + window + overlap-add + frequency inversion.
                // Long: one 36-point IMDCT per subband. Short
                // (§2.4.3.4.10.3 block_type 2): three 12-point IMDCTs per
                // subband over the stride-3-interleaved windows, each
                // sine-windowed, overlapped at 6-sample offsets into the
                // 36-sample vector (first/last 6 zero) — then the same
                // granule overlap-add and inversion as long blocks.
                val sVal = Array.ofDim[Double](32, 18)
                var sb = 0
                while (sb < 32) {
                  val z36 = new Array[Double](36)
                  // mixed: the two lowest subbands are LONG (block_type
                  // 0 treatment with the long window), the rest short
                  if (shortCh && (!mixedCh || sb >= 2)) {
                    var w = 0
                    while (w < 3) {
                      var i2 = 0
                      while (i2 < 12) {
                        var zi = 0.0
                        var kk = 0
                        while (kk < 6) {
                          zi += xr(18 * sb + 3 * kk + w) * l3Cos12(i2 * 6 + kk)
                          kk += 1
                        }
                        z36(6 + 6 * w + i2) += zi * l3Win12(i2)
                        i2 += 1
                      }
                      w += 1
                    }
                  } else {
                    // block_type 0/1/3 share the 36-point IMDCT; only
                    // the closed-form window differs (start/stop bridge
                    // long and short shapes)
                    val winArr = sides(g)(ch).bt match {
                      case 1 => l3WinStart
                      case 3 => l3WinStop
                      case _ => l3Win
                    }
                    var i2 = 0
                    while (i2 < 36) {
                      var zi = 0.0
                      var kk = 0
                      while (kk < 18) {
                        zi += xr(18 * sb + kk) * l3CosTab(i2 * 18 + kk)
                        kk += 1
                      }
                      z36(i2) = zi * winArr(i2)
                      i2 += 1
                    }
                  }
                  var ss = 0L; var sq = 0L
                  var i2 = 0
                  while (i2 < 18) {
                    var v = z36(i2) + prevTail(ch)(sb)(i2)
                    if (sb % 2 == 1 && i2 % 2 == 1) v = -v
                    sVal(sb)(i2) = v
                    ss += quant6(v); sq += quant6(v * v)
                    // stash this granule's tail for the next overlap-add
                    prevTail(ch)(sb)(i2) = z36(18 + i2)
                    i2 += 1
                  }
                  subs += L3SubbandOut(f, g, sb, ss / 1e6 + 0.0,
                                       sq / 1e6 + 0.0, ch)
                  sb += 1
                }
                // polyphase synthesis (§2.4.3.2.2): per time step shift
                // the V register by 64, matrix the 32 subband samples
                // through the closed-form N, extract U, and emit the 32
                // windowed 16-tap sums (REAL Table C.1 window).
                val vv = synthV(ch)
                var ps = 0L; var pq = 0L
                var t = 0
                while (t < 18) {
                  val outw = l3SynthStep(vv,
                    Array.tabulate(32)(sb2 => sVal(sb2)(t)))
                  var i4 = 0
                  while (i4 < 32) {
                    val a = outw(i4)
                    ps += quant6(a); pq += quant6(a * a)
                    i4 += 1
                  }
                  t += 1
                }
                pcms += L3PcmOut(f, g, ps / 1e6 + 0.0, pq / 1e6 + 0.0, ch)
                ch += 1
              }
            }
            g += 1
          }
        }
      }
      f += 1
    }
    if (!ok) None
    else {
      val nch = headers.head._2
      Some((AudioMeta(srHz, nch, -1, offs.length), grans.result(),
            subs.result(), pcms.result()))
    }
  }

  /** Per-sample 1e-6 quantizer (half away from zero, the probed DuckDB
    * `ROUND(x·1e6, 0)` semantics): the exact-stat building block.
    * Quantized Longs sum order-independently, so a 576-term float fold
    * can no longer land on a 6-decimal rounding boundary differently in
    * the two engines — the round-14 `multimodal_mp3_pcm`/`_44k` 1-ulp
    * hash-fail class is extinct by construction. Stat columns are the
    * integer sum divided once by 1e6 (exact int→double for |q| < 2⁵³;
    * `+ 0.0` keeps the −0.0 normalization contract). */
  private[graft] def quant6(x: Double): Long = {
    val y = x * 1e6
    (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)).toLong
  }

  /** MPEG-1 Layer III header: 192 kbps, 48 kHz, mono, no CRC. */
  private val L3Mono48 = 0xfffbb4c0

  /** The same header in mono or joint stereo, mode_extension MS (10) or
    * intensity (01). */
  private def l3Header48(stereo: Boolean, intensity: Boolean): Int =
    if (!stereo) L3Mono48 else if (intensity) 0xfffbb450 else 0xfffbb460

  /** Content formulas the Layer III fixtures share. `g` and `ch` enter as
    * salts: 0 for a mono channel and for an LSF frame's one granule. */
  private final case class L3Salt(seed: Long, f: Int, g: Int, ch: Int) {
    /** The usual big-values pair count, 16 to 32. */
    def count: Int = 16 + ((seed + f + g + ch * 2) % 17).toInt
    /** `n` table-1 pairs, x, y ∈ {−1, 0, 1}. */
    def unitPairs(n: Int = count): Seq[(Int, Int)] = (0 until n).map(k =>
      ((((seed * 3 + f * 7 + g * 11 + ch * 13 + k * 5) % 3) - 1).toInt,
       (((seed * 5 + f * 11 + g * 3 + ch * 7 + k * 7) % 3) - 1).toInt))
    /** `n` signed pairs; pair k's magnitudes are below `mod(k)`. */
    def magPairs(n: Int)(mod: Int => Int): Seq[(Int, Int)] = (0 until n).map { k =>
      val mx = ((seed * 3 + f * 7 + g * 11 + k * 5) % mod(k)).toInt
      val my = ((seed * 5 + f * 11 + g * 3 + k * 7) % mod(k)).toInt
      (if ((seed + f + k) % 2 == 1) -mx else mx,
       if ((seed + g + k) % 2 == 1) -my else my)
    }
    /** 4 to 8 count1 quads of values in {−1, 0, 1}. */
    def quads: Seq[Array[Int]] =
      (0 until 4 + ((seed + f * 2 + g + ch) % 5).toInt).map { q =>
        Array.tabulate(4) { j =>
          val bit = ((seed * (j + 2) + f * 3 + g * 5 + q * 7 + ch * 11) % 2).toInt
          if ((seed + f + j + q + ch) % 2 == 0) bit else -bit
        }
      }
    /** global_gain 210 + 4k, k ∈ −2..5: requantized values stay dyadic. */
    def gain: Int = 210 + 4 * (((seed + f * 2 + g + ch * 3) % 8).toInt - 2)
    /** Scalefactor of slot `i` (a long band, or a short band + window). */
    def sf(i: Int, mod: Int = 4): Long = (seed + f + i + g * 3 + ch * 5) % mod
    /** Subblock gain of short window `w`. */
    def sbg(w: Int): Int = ((seed + f * 2 + g + w * 3 + ch) % 5).toInt
  }

  /** The LSF 9-bit scalefac_compress, cycling the three 13818-3 long
    * classes (< 400 / 400–499 / 500–511) by frame. */
  private def l3LsfScomp(seed: Long, f: Int): Int = (f % 3) match {
    case 0 => ((seed * 3 + f * 7) % 400).toInt
    case 1 => 400 + ((seed * 5 + f * 11) % 100).toInt
    case _ => 500 + ((seed * 7 + f * 13) % 12).toInt
  }

  /** LSF scalefactor slots through a (slens, partition counts) layout. */
  private def l3LsfSf(seed: Long, f: Int,
                      layout: (Array[Int], Array[Int])): Seq[(Long, Int)] = {
    val (slens, parts) = layout
    (0 until 4).flatMap(p => Seq.fill(parts(p))(slens(p))).zipWithIndex
      .map { case (w, slot) => ((seed + f + slot * 3) % (1L << w), w) }
  }

  /** MPEG-1 48 kHz long-block granules with table 1, count1 table B,
    * scfsi sharing and the reservoir: [[layer3BytesFull]] (mono) and
    * [[layer3StereoBytes]] (joint stereo, MS or intensity). */
  private def l3LongBytes(seed: Long, nFrames: Int, stereo: Boolean,
                          crc: Boolean = false, intensity: Boolean = false,
                          isPos67: Boolean = false): Array[Byte] = {
    // intensity: scfsi off (the right channel's high-band slots carry
    // is_pos), the right channel band-limited to lines < 16, no count1
    def scfsiOf(f: Int, ch: Int): Int =
      if (intensity) 0 else ((seed + f + ch) % 16).toInt
    L3Writer.stream(nFrames, _ => 576, _ => l3Header48(stereo, intensity), crc,
                    L3Writer.reservoir(seed), scfsiOf) { f =>
      for (g <- 0 until 2; ch <- 0 until (if (stereo) 2 else 1)) yield {
        val s = L3Salt(seed, f, g, ch)
        val right = intensity && ch == 1
        // isPos67: the right channel sends 3-bit slots (scomp 13 → slen
        // 3/3), so its is_pos reaches 6 (fully left) and 7 (no processing)
        val slen = if (isPos67 && ch == 1) 3 else 2
        // granule 1 resends a scfsi group's bands only where its bit is 0
        val sent = (0 until 21).filter { b =>
          val group = if (b < 6) 0 else if (b < 11) 1 else if (b < 16) 2 else 3
          g == 0 || ((scfsiOf(f, ch) >> (3 - group)) & 1) == 0
        }
        Gran(s.gain, if (slen == 3) 13 else 9, Seq(1, 1, 1),
          sent.map(b => (s.sf(b, 1 << slen), slen)),
          s.unitPairs(if (right) 8 else s.count), if (right) Nil else s.quads,
          preflag = if ((seed + f + g + ch) % 3 == 0) 1 else 0)
      }
    }
  }

  /** MPEG-1 48 kHz block_type 2 granules with table 1, count1 table B and
    * the reservoir: pure short (12 bands × 3 windows of scalefactors) or
    * mixed (8 long bands, then short bands 3–11), mono or joint stereo.
    * Under intensity the right channel sends 9 pairs (mixed: 9 or 21 by
    * granule) and no count1 quads. */
  private def l3ShortBytes(seed: Long, nFrames: Int, stereo: Boolean,
                           mixed: Boolean,
                           intensity: Boolean = false): Array[Byte] = {
    val slots = (0 until (if (mixed) 8 else 0)) ++
      ((if (mixed) 3 else 0) until 12).flatMap(b => (0 until 3).map(b + _))
    L3Writer.stream(nFrames, _ => 576, _ => l3Header48(stereo, intensity),
                    back = L3Writer.reservoir(seed)) { f =>
      for (g <- 0 until 2; ch <- 0 until (if (stereo) 2 else 1)) yield {
        val s = L3Salt(seed, f, g, ch)
        val right = intensity && ch == 1
        val n = if (!right) s.count
                else if (!mixed || (seed + f + g) % 2 == 0) 9 else 21
        Gran(s.gain, 9, Seq(1, 1), slots.map(i => (s.sf(i), 2)),
          s.unitPairs(n), if (right) Nil else s.quads,
          Some((2, if (mixed) 1 else 0, (0 until 3).map(s.sbg))))
      }
    }
  }

  /** MPEG-2 LSF mono 24 kHz / 64 kbps window-switched granules, one per
    * frame, with table 1, count1 table B and the reservoir: `btn` 0 is
    * start/stop by frame, 1 pure short, 2 mixed. `v25` re-emits the same
    * payloads as MPEG-2.5 at 12 kHz. */
  private def l3LsfBytes(seed: Long, nFrames: Int, btn: Int,
                         v25: Boolean): Array[Byte] =
    L3Writer.stream(nFrames, _ => if (v25) 384 else 192,
      _ => if (v25) 0xffe384c0 else 0xfff384c0, back = L3Writer.reservoir(seed)) { f =>
      val s = L3Salt(seed, f, 0, 0)
      val sfc = l3LsfScomp(seed, f)
      val blockType = if (btn > 0) 2 else if ((seed + f) % 2 == 0) 1 else 3
      Seq(Gran(s.gain, sfc, Seq(1, 1), l3LsfSf(seed, f, lsfScale(sfc, btn)),
        s.unitPairs(), s.quads, Some((blockType, if (btn == 2) 1 else 0,
          (0 until 3).map(w => ((seed + f + w) % 8).toInt)))))
    }

  /** The encode half of the [[layer3DecodeFull]] round trip: a real
    * MPEG-1 Layer III mono 48 kHz / 192 kbps stream that exercises the
    * whole structural chain — nonzero `main_data_begin` back-pointers
    * (granule data of frame f ≥ 1 begins inside frame f−1's main-data
    * area, byte-stuffed exactly as a reservoir encoder lays it out),
    * transmitted scalefactors (scalefac_compress 9 → slen 2/2) with
    * frame-varying scfsi sharing, preflag granules, scalefac_scale 1,
    * and a count1-table-B region after the big-values pairs. Global gain
    * is pinned to 210 + 4k and |is| ≤ 1, so every requantized value is
    * an exact dyadic double and the oracle replay is bit-identical.
    * With `crc = true` every frame is CRC-PROTECTED (§2.4.3.1:
    * protection_bit 0, a real 16-bit CRC over header bytes 2–3 + side
    * info between header and side info) — the granule payloads are
    * unchanged, so the protected stream decodes to the IDENTICAL rows
    * and shares the unprotected oracle. */
  def layer3BytesFull(seed: Long, nFrames: Int,
                      crc: Boolean = false): Array[Byte] =
    l3LongBytes(seed, nFrames, stereo = false, crc = crc)

  /** The encode half of the SHORT-BLOCK round trip: a real MPEG-1
    * Layer III mono 48 kHz / 192 kbps stream whose every granule uses
    * window switching with block_type 2 / mixed_block_flag 0 — the
    * §2.4.1.7 side-info form (two table_selects, three subblock_gains,
    * implicit regions), 12×3 short scalefactors (scomp 9 → slen 2/2,
    * scfsi 0), per-window subblock gains, a count1-table-B region, and
    * nonzero reservoir back-pointers. Global gain 210 + 4k, |is| ≤ 1 and
    * integral exponents keep every requantized value an exact dyadic
    * double. Short scalefactor-band GEOMETRY is the REAL ISO Table B.8
    * 48 kHz short column (round 14). */
  def layer3ShortBytes(seed: Long, nFrames: Int): Array[Byte] =
    l3ShortBytes(seed, nFrames, stereo = false, mixed = false)

  /** The encode half of the MS-STEREO SHORT-BLOCK round trip: a real
    * MPEG-1 Layer III joint-stereo (MS extension) 48 kHz stream whose
    * every granule of BOTH channels uses block_type 2 / mixed 0 —
    * 32-byte stereo side info, per-channel 12×3 short scalefactors
    * (scfsi 0), per-channel subblock gains, and the §2.4.3.4.9.1
    * recombination applied line-wise on the reordered short spectra.
    * Same REAL ISO Table B.8 short geometry as [[layer3ShortBytes]];
    * dyadic gains.
    *
    * `intensity = true` (round 14) switches the mode extension to
    * INTENSITY stereo over the same pure-short granules: the right
    * channel is band-limited at the entropy layer (9 pairs, no count1
    * quads), so each window's §2.4.3.4.9.3 bound — bands wholly above
    * the right channel's last nonzero spectral line of THAT window —
    * is data-dependent and window-varying; is_pos comes from the right
    * channel's short scalefactor slots (fixture values 0–3, all inside
    * the tan(is_pos·π/12) table). */
  def layer3StereoShortBytes(seed: Long, nFrames: Int,
                             intensity: Boolean = false): Array[Byte] =
    l3ShortBytes(seed, nFrames, stereo = true, mixed = false, intensity)

  /** The encode half of the MIXED-BLOCK round trip: a real MPEG-1
    * Layer III mono 48 kHz / 192 kbps stream whose every granule uses
    * window switching with block_type 2 / mixed_block_flag 1 — two LONG
    * subbands below per-window line 12 (real ISO long geometry, bands
    * 0-7 ending exactly at entropy line 36 = L3Sfb48(8)) and short
    * windows above (REAL ISO Table B.8 short geometry, bands 3 up —
    * band 3 starts at per-window line 12, flush with the long region).
    * Scalefactors follow the §2.4.2.7 mixed layout (8 long + 9×3 short
    * slots, 17·slen1 + 18·slen2 = 70 bits at scomp 9), subblock gains
    * apply to the short region only, alias reduction to the single long
    * boundary. Gains 210 + 4k and |is| ≤ 1 keep values dyadic. */
  def layer3MixedBytes(seed: Long, nFrames: Int): Array[Byte] =
    l3ShortBytes(seed, nFrames, stereo = false, mixed = true)

  /** STEREO MIXED-BLOCK fixture (round 15): a real MPEG-1 Layer III
    * JOINT-STEREO 48 kHz / 192 kbps stream whose every granule uses
    * block_type 2 / mixed_block_flag 1 on BOTH channels — the §2.4.2.7
    * mixed scalefactor layout per channel (8 long + 9×3 short slots,
    * 70 bits at scomp 9), table 1 in both regions, count1 table B,
    * reservoir back-pointers. `intensity = true` switches the mode
    * extension to 01 (intensity, no MS) and band-limits the RIGHT
    * channel at the entropy layer, alternating per granule between the
    * two §2.4.3.4.9.3 regimes: 9 pairs (lines 0–17, the short region
    * empty in all three windows → LONG bands above the last nonzero
    * long line pan, plus every short band in every window) and 21 pairs
    * (lines 0–41, spilling into short band 3 of windows 0–1 → window 2
    * pans from band 3 up, windows 0–1 from band 4, and NO long band
    * pans because the right short region is nonzero). is_pos comes from
    * the right channel's long/short scalefactor slots. Gains 210 + 4k
    * and |is| ≤ 1 keep requantized values dyadic. */
  def layer3MixedStereoBytes(seed: Long, nFrames: Int,
                             intensity: Boolean = false): Array[Byte] =
    l3ShortBytes(seed, nFrames, stereo = true, mixed = true, intensity)

  /** MPEG-2 LSF (ISO 13818-3) Layer III fixture (round 15): a mono
    * 24 kHz / 64 kbps stream — ONE granule per frame (576 samples,
    * frame length 72·64000/24000 = 192 exactly, no padding), the 9-byte
    * LSF mono side info (8-bit main_data_begin, 1 private bit, NO
    * scfsi, NO preflag bit), and a 9-bit scalefac_compress CYCLING all
    * three 13818-3 slen classes by frame (< 400 / 400–499 / 500–511 —
    * the third class derives preflag = 1) with TRANSMITTED nonzero
    * scalefactors through the algorithmic partition layout
    * ([[lsfScaleLong]]). Granules window-switch start/stop (implicit
    * line-36 region boundary), table 1 + count1 B, reservoir
    * back-pointers. Band GEOMETRY at the LSF rates is the declared
    * GRAFT-SYNTHETIC tiling ([[L3IsoSynth.sfbLong]]) — machinery real,
    * table data declared. Gains 210 + 4k with integer scalefactor
    * exponents keep every requantized value dyadic. */
  def layer3LsfBytes(seed: Long, nFrames: Int,
                     v25: Boolean = false): Array[Byte] =
    // v25 = true emits the identical granule payloads as MPEG-2.5 at
    // 12 kHz (version bits 00, frame length 72·64000/12000 = 384):
    // the decoded values are IDENTICAL by construction (the synthetic
    // LSF geometry is rate-shared and every formula depends only on
    // (seed, f)), so the V2.5 row reuses this fixture's oracle verbatim
    // and a spec asserts row-for-row decode equality — the
    // re-encode-equivalence verification shape.
    l3LsfBytes(seed, nFrames, btn = 0, v25)

  /** MPEG-2 LSF SHORT/MIXED-block fixture (round 16): the same mono
    * 24 kHz / 64 kbps one-granule-per-frame stream as [[layer3LsfBytes]]
    * but with every granule window-switched to block_type 2 — pure
    * short (`mixed = false`, 13818-3 blocktypenumber 1: 36 scalefactor
    * slots = 12 bands × 3 windows) or mixed (`mixed = true`,
    * blocktypenumber 2: 6 long bands + short bands 3–11 × 3 = 33
    * slots), with the 9-bit scalefac_compress CYCLING all three slen
    * classes by frame and APPLIED per-window subblock gains. Entropy
    * lines walk table 1 + count1 B exactly as the long fixture; short
    * lines reorder through [[L3IsoSynth.shortPos]] on the synthetic LSF
    * short geometry, mixed low lines stay long under the first 6 long
    * bands (the tiling aligns: sfbL(6) = 36, sfbS(3) = 12). Gains
    * 210 + 4k, scalefac_scale 1, integer slots — every requantized
    * value dyadic (class-C preflag is inert: pretab is 0 on bands 0–5,
    * the only long bands a mixed granule has). */
  def layer3LsfShortBytes(seed: Long, nFrames: Int,
                          mixed: Boolean = false): Array[Byte] =
    l3LsfBytes(seed, nFrames, btn = if (mixed) 2 else 1, v25 = false)

  /** MPEG-2 LSF INTENSITY-STEREO fixture (round 16): joint stereo
    * 24 kHz / 64 kbps, mode_extension 01 (intensity on, MS off), one
    * long-block (ws = 0) granule per frame. The LEFT channel carries
    * full-band table-1 + count1-B data under the normal 13818-3 long
    * classes; the RIGHT channel is the intensity channel — its 9-bit
    * scalefac_compress encodes `2·isfc + intensity_scale` with isfc
    * CYCLING the three 13818-3 intensity classes (< 180 / 180–243 /
    * 244–254) and the scale bit alternating, its scalefactor slots read
    * through [[lsfScaleIntensity]] (doubling as is_pos above its
    * spectrum), and its entropy data stops at line 16 so the upper
    * bands are the intensity region. Bands whose slot equals the
    * illegal position (2^slen − 1) pass through unprocessed; the rest
    * pan left = l·k_l, right = l·k_r from [[l3LsfIsKl]]/[[l3LsfIsKr]].
    * Gains 210 + 4k, scalefac_scale 1 — requantized values dyadic; the
    * k factors are the 1e-12-quantized literals both engines share.
    * `shortBlocks = true` window-switches BOTH channels to block_type 2
    * (btn-1 slot layouts on both sides, applied subblock gains): the
    * intensity bound becomes PER WINDOW and is_pos reads from the right
    * channel's short (band, window) slots — the LSF intensity × short
    * combination, spec-exercised by L3LsfSpec. */
  def layer3LsfIntensityBytes(seed: Long, nFrames: Int,
                              shortBlocks: Boolean = false): Array[Byte] = {
    def isfcOf(f: Int): Int = (f % 3) match { // right channel classes
      case 0 => ((seed * 3 + f * 7) % 180).toInt
      case 1 => 180 + ((seed * 5 + f * 11) % 64).toInt
      case _ => 244 + ((seed * 7 + f * 13) % 11).toInt
    }
    val btn = if (shortBlocks) 1 else 0
    // V2 LSF header: 64 kbps, 24 kHz, joint stereo, mode_ext 01
    // (intensity on, MS off)
    L3Writer.stream(nFrames, _ => 192, _ => 0xfff38450,
                    back = L3Writer.reservoir(seed)) { f =>
      (0 until 2).map { ch =>
        val s = L3Salt(seed, f, 0, ch)
        val (scomp, layout) =
          if (ch == 0) (l3LsfScomp(seed, f), lsfScale(l3LsfScomp(seed, f), btn))
          else (2 * isfcOf(f) + ((seed + f) % 2).toInt,
                lsfScaleIntensity(isfcOf(f), btn))
        Gran(s.gain, scomp, if (shortBlocks) Seq(1, 1) else Seq(1, 1, 1),
          l3LsfSf(seed, f, layout), s.unitPairs(if (ch == 1) 8 else s.count),
          if (ch == 1) Nil else s.quads,
          // short form: intensity over LSF short blocks, per-window bound,
          // subblock gains applied
          if (shortBlocks)
            Some((2, 0, (0 until 3).map(w => ((seed + f + w + ch) % 8).toInt)))
          else None)
      }
    }
  }

  /** The encode half of the START/STOP-WINDOW round trip: a real MPEG-1
    * Layer III mono 48 kHz / 192 kbps stream whose every granule uses
    * window switching with block_type 1 (start) when (seed+f+g) is even
    * and 3 (stop) otherwise — the §2.4.1.7 ws side-info form with LONG
    * scalefactors (21 bands, scomp 9, scfsi 0), preflag granules,
    * nonzero subblock_gain fields (transmitted but inert for long
    * forms — their correct skipping is part of the bit account), the
    * implicit line-36 region boundary, and reservoir back-pointers.
    * Gains 210 + 4k and |is| ≤ 1 keep requantized values dyadic. */
  def layer3StartStopBytes(seed: Long, nFrames: Int): Array[Byte] =
    L3Writer.stream(nFrames, _ => 576, _ => L3Mono48,
                    back = L3Writer.reservoir(seed)) { f =>
      (0 until 2).map { g =>
        val s = L3Salt(seed, f, g, 0)
        val blockType = if ((seed + f + g) % 2 == 0) 1 else 3
        // subblock gains are inert for long forms
        val sbg = (0 until 3).map(w => ((seed + f + g + w) % 8).toInt)
        Gran(s.gain, 9, Seq(1, 1), (0 until 21).map(b => (s.sf(b), 2)),
          s.unitPairs(), s.quads, Some((blockType, 0, sbg)),
          preflag = if ((seed + f + g) % 3 == 0) 1 else 0)
      }
    }

  /** The encode half of the generalized-table/linbits round trip: a
    * real mono 48 kHz / 192 kbps Layer III stream whose big-values
    * regions select table 4 — the ISO-unused slot carrying the
    * GRAFT-SYNTHETIC uniform 8-bit linbits table (see [[L3Tables]]) —
    * with magnitudes 0..30, so the decode exercises every walker path:
    * plain codes, ESC (x or y = 15 ⇒ 4 linbits magnitude bits), sign
    * bits, and the count1 table-B region after; `part2_3_length` is
    * the exact bit count, so the account must land to the bit.
    * Zero scalefactor bits (scalefac_compress 0), gain 210+4k,
    * no reservoir (that path is proven by [[layer3BytesFull]]). */
  def layer3LinbitsBytes(seed: Long, nFrames: Int): Array[Byte] = {
    val t4 = Table(L3Tables(4).codes.map(_.swap), 4) // synthetic linbits slot
    L3Writer.stream(nFrames, _ => 576, _ => L3Mono48) { f =>
      (0 until 2).map { g =>
        val s = L3Salt(seed, f, g, 0)
        Gran(s.gain, 0, Seq(4, 4, 4), Nil,
          s.magPairs(10 + ((seed + f + g) % 7).toInt)(_ => 31), s.quads,
          code = _ => t4)
      }
    }
  }

  /** The encode half of the REAL-ISO-table round trip
    * (`multimodal_mp3_huffreal`): a mono 48 kHz / 192 kbps Layer III
    * stream whose THREE big-values regions select real ISO 11172-3
    * Table B.7 code tables — region0 table 7 (values 0–5), region1
    * table 10 (values 0–7), region2 table 9 (values 0–5), region
    * boundaries from region0_count 4 / region1_count 3 (entropy lines
    * 20 and 42 under the 48 kHz Table B.8 long geometry) — and whose
    * count1 region selects REAL count1 table A
    * (count1table_select 0). Every codeword is emitted from
    * [[L3IsoHuff.encode]] / [[L3IsoHuff.quadAEncode]], so the decoder
    * walks genuine ISO codewords and `part2_3_length` (the exact bit
    * account, checked to the bit) depends on the REAL code lengths —
    * a wrong hlen anywhere in the shipped tables breaks the account
    * and refuses the stream. Zero scalefactor bits
    * (scalefac_compress 0), no reservoir (proven by
    * [[layer3BytesFull]]). */
  def layer3HuffRealBytes(seed: Long, nFrames: Int): Array[Byte] = {
    // region of pair k: 0 (lines 0-19, table 7), 1 (lines 20-41,
    // table 10), 2 (table 9) — value range 0..5 / 0..7 / 0..5
    def tabOf(k: Int): Int = if (k < 10) 7 else if (k < 21) 10 else 9
    L3Writer.stream(nFrames, _ => 576, _ => L3Mono48) { f =>
      (0 until 2).map { g =>
        val s = L3Salt(seed, f, g, 0)
        Gran(s.gain, 0, Seq(7, 10, 9), Nil,
          s.magPairs(22 + ((seed + f + g) % 5).toInt)(k =>
            if (tabOf(k) == 10) 8 else 6),
          s.quads, count1B = false, code = k => L3Writer.iso(tabOf(k)))
      }
    }
  }

  /** The TABLE-12 twin of [[layer3HuffRealBytes]] (round 15 — exercises
    * the newly shipped ISO table): a mono 48 kHz / 192 kbps Layer III
    * stream whose all THREE big-values regions select REAL ISO table 12
    * (dim 8, values 0–7 — the formulas run mod 8 in every region, unlike
    * the 7/10/9 fixture's per-region mod) and whose count1 region
    * selects REAL count1 table A. Every codeword is emitted from
    * [[L3IsoHuff.encode]], so `part2_3_length` is the exact bit account
    * over table 12's REAL code lengths — one wrong hlen anywhere in the
    * 64-entry table breaks the account and refuses the stream. Zero
    * scalefactor bits, no reservoir. */
  def layer3Huff12Bytes(seed: Long, nFrames: Int): Array[Byte] =
    L3Writer.stream(nFrames, _ => 576, _ => L3Mono48) { f =>
      (0 until 2).map { g =>
        val s = L3Salt(seed, f, g, 0)
        Gran(s.gain, 0, Seq(12, 12, 12), Nil,
          s.magPairs(22 + ((seed + f + g) % 5).toInt)(_ => 8), s.quads,
          count1B = false, code = _ => L3Writer.iso(12))
      }
    }

  /** Fixture for the RUNTIME-LOADED table path ([[L3IsoHuff.load]],
    * round 16): a mono 48 kHz / 192 kbps stream whose big-values
    * regions select table ids that are NOT registered in [[L3Tables]] —
    * region0/region2 `t0` (no linbits) and region1 `t1` (linbits 4,
    * magnitudes to 30 through the ESC path) — so the stream REFUSES
    * under the shipped tables and decodes only when the caller mounts
    * the ids via `layer3DecodeFull(bytes, extraTables)`. Region
    * boundaries are the real 48 kHz Table B.8 lines 20/42
    * (region0_count 4, region1_count 3); count1 region uses real
    * table A; the encode map is the caller's (the loaded table's
    * inverse). */
  def layer3HuffLoadBytes(seed: Long, nFrames: Int, t0: Int, t1: Int,
                          enc: Map[(Int, Int), String],
                          linbits1: Int): Array[Byte] = {
    val sfb48 = L3IsoSynth.sfbLong(48000)
    // region1 (lines 20-41: region0_count 4, region1_count 3) travels the
    // ESC path with magnitudes 0..30; regions 0/2 stay plain 0..15 (t0
    // has no linbits: symbol 15 IS magnitude 15)
    def region1(k: Int): Boolean = 2 * k >= sfb48(5) && 2 * k < sfb48(9)
    L3Writer.stream(nFrames, _ => 576, _ => L3Mono48) { f =>
      (0 until 2).map { g =>
        val s = L3Salt(seed, f, g, 0)
        Gran(s.gain, 0, Seq(t0, t1, t0), Nil,
          s.magPairs(23 + ((seed + f + g) % 5).toInt)(k =>
            if (region1(k)) 31 else 16),
          s.quads, count1B = false,
          code = k => Table(enc, if (region1(k)) linbits1 else 0))
      }
    }
  }

  /** The 44.1 kHz twin of [[layer3HuffRealBytes]] (round 14): a mono
    * 44.1 kHz / 192 kbps stream — REAL ISO tables 7/10/9 + count1 A,
    * REAL Table B.8 44.1 kHz long geometry (region boundaries at lines
    * 20 and 44 from region0_count 4 / region1_count 3), NONZERO
    * scalefactors (scalefac_compress 5 → slen 1/1, 21 bits per
    * granule) so the requantized VALUES depend on the 44.1 band
    * boundaries (not just the bit account), and the PADDING bit
    * alternating per frame (144·192000/44100 is not integral — the
    * real-world CBR cadence the 48 kHz fixtures never exercise:
    * frame lengths 626/627). No reservoir.
    *
    * `sr32 = true` emits the same stream shape at 32 kHz (frame length
    * 864, integral — no padding): the region boundaries are identical
    * (both rates put band starts 20 and 44 at region0_count 4 /
    * region1_count 3) but the band of lines 52-53 differs (44.1 kHz
    * band 10 vs 32 kHz band 9), so the requantized values separate the
    * two Table B.8 columns. */
  def layer3Bytes44k(seed: Long, nFrames: Int,
                     sr32: Boolean = false): Array[Byte] = {
    def tabOf(k: Int): Int = if (k < 10) 7 else if (k < 22) 10 else 9
    // 32 kHz: 144·192000/32000 = 864, integral; 44.1 kHz: the padding
    // bit alternates, frame lengths 626/627
    L3Writer.stream(nFrames, f => if (sr32) 864 else 626 + f % 2,
      f => if (sr32) 0xfffbb8c0 else 0xfffbb0c0 | (f % 2) << 9) { f =>
      (0 until 2).map { g =>
        val s = L3Salt(seed, f, g, 0)
        // scalefac_compress 5 → slen 1/1: 21 one-bit scalefactors
        Gran(s.gain, 5, Seq(7, 10, 9),
          (0 until 21).map(b => ((seed + f + g + b) % 2, 1)),
          s.magPairs(23 + ((seed + f + g) % 5).toInt)(k =>
            if (tabOf(k) == 10) 8 else 6),
          s.quads, count1B = false, code = k => L3Writer.iso(tabOf(k)))
      }
    }
  }

  /** Joint-stereo (MS) twin of [[layer3BytesFull]]: 48 kHz / 192 kbps
    * frames with mode 01 + mode_extension 10, the 32-byte stereo side
    * info (3 private bits, per-channel scfsi, granule-major
    * channel-minor granule infos), per-channel scalefactors / big-values
    * / count1 content by ch-salted formulas, and the same byte-stuffed
    * bit-reservoir layout. The decoder must apply the §2.4.3.4.9.1 MS
    * matrix after requantizing both channels of each granule. */
  def layer3StereoBytes(seed: Long, nFrames: Int,
                        intensity: Boolean = false,
                        isPos67: Boolean = false): Array[Byte] =
    l3LongBytes(seed, nFrames, stereo = true, intensity = intensity,
                isPos67 = isPos67)

  /** One entropy-decoded MPEG-1 intra block: macroblock index, block
    * index within the macroblock (0–3 luma, 4 Cb, 5 Cr), the dequantized
    * DC (quantized DC × 8, the fixed DC quantizer), and the count / sum
    * of the dequantized AC coefficients (spec intra dequantization with
    * oddification — exact integers, so oracle comparison is hash-exact). */
  final case class MpegIBlock(pic: Int, mb: Int, blk: Int, dcF: Int,
                              nAc: Int, acSum: Long)

  /** ISO 11172-2 default intra quantizer matrix, raster order. */
  private val Mpeg1IntraMatrix: Array[Int] = Array(
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83)

  /** Default intra matrix value at zigzag position p (the natural-order
    * matrix walked through the same zigzag as the coefficients). */
  private[graft] def mpeg1W(p: Int): Int = Mpeg1IntraMatrix(Zigzag(p))

  // dct_dc_size VLC (tables B.1 luma / B.2 chroma), size -> code string.
  private val DcLuma = Array("100", "00", "01", "101", "110", "1110",
    "11110", "111110", "1111110")
  private val DcChroma = Array("00", "01", "10", "110", "1110", "11110",
    "111110", "1111110", "11111110")
  // dct_coeff_next VLC (table B.5, subsequent-coefficient form), code ->
  // (run, level); sign bit follows. EOB = "10", escape = "000001".
  private val AcCodes: Seq[(String, (Int, Int))] = Seq(
    "11" -> (0, 1), "0100" -> (0, 2), "00101" -> (0, 3),
    "0000110" -> (0, 4), "00100110" -> (0, 5), "00100001" -> (0, 6),
    "0000001010" -> (0, 7),
    "011" -> (1, 1), "000110" -> (1, 2), "00100101" -> (1, 3),
    "0101" -> (2, 1), "0000100" -> (2, 2),
    "00111" -> (3, 1), "00100100" -> (3, 2),
    "00110" -> (4, 1), "000111" -> (5, 1), "000101" -> (6, 1),
    "000100" -> (7, 1))
  private val AcByRunLevel: Map[(Int, Int), String] =
    AcCodes.map(_.swap).toMap

  /** REAL MPEG-1 VIDEO intra-frame entropy decode (ISO/IEC 11172-2,
    * public spec) — the video slice of the stub seam made real. Walks
    * sequence header (12-bit dims, optional custom matrices skipped),
    * optional GOP, an I-picture header, and one slice of intra
    * macroblocks: address-increment VLC, intra macroblock-type (both
    * plain and with-quant), then per block (4Y + Cb + Cr) the dct_dc_size
    * VLC (separate luma/chroma tables B.1/B.2) + one's-complement DC
    * differential against the per-component predictor chain (reset to
    * 128 at slice start), and table B.5 run/level AC codes — including
    * the 6-bit-run + 8-bit-level ESCAPE form — to end-of-block.
    * Dequantization is the spec intra form: DC × 8 (fixed quantizer);
    * AC `(QF·qscale·W)/8` truncating, oddified toward zero, saturated to
    * ±2047 — exact integer arithmetic end-to-end, so the DuckDB oracle
    * replays it bit-for-bit. The motion/predictive layer (P/B pictures)
    * stays the declared stub; intra entropy + dequant is the honest
    * scope (the IDCT itself is already proven on the JPEG path). Returns
    * ((width, height), blocks in bitstream order); None when the stream
    * is not an MPEG-1 I-frame sequence. */
  def mpeg1IFrameDecode(bytes: Array[Byte])
      : Option[((Int, Int), Seq[MpegIBlock])] = {
    if (bytes.length < 12) return None
    val r = new BitReader(bytes)
    try {
      if (r.bits(32) != 0x000001b3) return None
      val w = r.bits(12); val h = r.bits(12)
      r.bits(4); r.bits(4); r.bits(18); r.bits(1); r.bits(10); r.bits(1)
      if (r.bits(1) == 1) (0 until 64).foreach(_ => r.bits(8)) // intra matrix
      if (r.bits(1) == 1) (0 until 64).foreach(_ => r.bits(8)) // non-intra
      r.byteAlign()
      var code = r.bits(32)
      if (code == 0x000001b8) { // GOP header
        r.bits(27); r.byteAlign(); code = r.bits(32)
      }
      if (code != 0x00000100) return None // first picture start
      val nMb = (w / 16) * (h / 16)
      val blocks = Seq.newBuilder[MpegIBlock]
      def vlc[A](table: Seq[(String, A)]): A =
        r.code(c => table.find(_._1 == c).map(_._2), 13)
          .getOrElse(throw new RuntimeException("vlc"))
      var pic = 0
      var morePictures = true
      while (morePictures) {
        r.bits(10)
        if (r.bits(3) != 1) return None // I pictures only
        r.bits(16)
        while (r.bits(1) == 1) r.bits(8) // extra_information_picture
        r.byteAlign()
        val slice = r.bits(32)
        if (slice < 0x00000101 || slice > 0x000001af) return None
        var qscale = r.bits(5)
        while (r.bits(1) == 1) r.bits(8) // extra_information_slice
        val pred = Array(128, 128, 128) // DC predictors, reset per slice
        var mb = 0
        while (mb < nMb) {
          // macroblock_address_increment (increments 1..3 carried; our
          // encoder emits 1 but the table subset is decoded honestly)
          vlc(Seq("1" -> 1, "011" -> 2, "010" -> 3))
          // macroblock_type for I pictures: '1' intra, '01' intra+quant
          if (vlc(Seq("1" -> false, "01" -> true))) qscale = r.bits(5)
          var blk = 0
          while (blk < 6) {
            val comp = if (blk < 4) 0 else blk - 3
            val dcTab = if (blk < 4) DcLuma else DcChroma
            val size = vlc(dcTab.zipWithIndex.map { case (c, i) => (c, i) })
            val diff =
              if (size == 0) 0
              else {
                val v = r.bits(size)
                if (v >= (1 << (size - 1))) v else v - (1 << size) + 1
              }
            pred(comp) += diff
            val dcF = pred(comp) * 8
            var nAc = 0; var acSum = 0L
            var pos = 0
            var eob = false
            while (!eob) {
              val step = vlc(Seq[(String, (Int, Int))](
                "10" -> ((-1, 0)), "000001" -> ((-2, 0))) ++ AcCodes)
              step match {
                case (-1, _) => eob = true
                case (-2, _) => // escape: run(6) + 8-bit signed level
                  val run = r.bits(6)
                  val raw = r.bits(8)
                  val level = if (raw >= 128) raw - 256 else raw
                  pos += run + 1
                  acSum += dequantAc0(level, qscale, pos); nAc += 1
                case (run, mag) =>
                  val level = if (r.bits(1) == 1) -mag else mag
                  pos += run + 1
                  acSum += dequantAc0(level, qscale, pos); nAc += 1
              }
              if (!eob && pos > 63) throw new RuntimeException("overrun")
            }
            blocks += MpegIBlock(pic, mb, blk, dcF, nAc, acSum)
            blk += 1
          }
          mb += 1
        }
        r.byteAlign()
        morePictures = r.remaining >= 32 &&
          r.bits(32) == 0x00000100
        if (morePictures) pic += 1
      }
      Some(((w, h), blocks.result()))
    } catch { case _: RuntimeException | _: ArrayIndexOutOfBoundsException =>
      None }
  }

  /** Spec intra AC dequantization at zigzag position `pos`:
    * `(|QF|·qscale·W)/8` truncating, oddified downward when even,
    * saturated to 2047, re-signed. Exact integers. */
  private def dequantAc0(level: Int, qscale: Int, pos: Int): Long = {
    val a0 = math.abs(level) * qscale * mpeg1W(pos) / 8
    val a1 = if (a0 % 2 == 0) a0 - 1 else a0
    val a2 = math.min(a1, 2047)
    if (level < 0) -a2.toLong else a2.toLong
  }

  /** An MPEG-1 video sequence header (11172-2 §2.4.2.3): size, aspect
    * and picture-rate codes 1, variable bit rate (0x3FFFF), marker, VBV
    * buffer 0, not constrained, default quantizer matrices. */
  private def mpeg1SequenceHeader(out: BitWriter, width: Int,
                                  height: Int): Unit = {
    out.bits(0x000001b3L, 32)
    out.bits(width, 12); out.bits(height, 12)
    out.bits(1, 4); out.bits(1, 4); out.bits(0x3ffff, 18); out.bits(1, 1)
    out.bits(0, 10)
    out.bits(0, 1); out.bits(0, 1); out.bits(0, 1) // constrained, loadI, loadNI
    out.byteAlign()
  }

  /** A real MPEG-1 video I-frame elementary stream (sequence header +
    * I-picture + one slice of intra macroblocks + sequence end) with
    * genuinely VLC-coded deterministic content — the encode half of the
    * [[mpeg1IFrameDecode]] round trip. Per macroblock `m`, block `b`:
    * quantized DC target `(seed·7 + m·13 + b·29) % 256` (the stream
    * carries one's-complement differentials against the per-component
    * predictor chains), five AC coefficients at disjoint-range zigzag
    * positions with levels in ±10 (table-B.5 codes where the (run,level)
    * pair is in the table, the spec ESCAPE form otherwise — both paths
    * exercised), qscale 8. */
  def mpeg1IFrameBytes(seed: Long, width: Int = 32, height: Int = 32,
                       nPictures: Int = 1): Array[Byte] = {
    require(width % 16 == 0 && height % 16 == 0 && nPictures >= 1)
    val out = new BitWriter
    mpeg1SequenceHeader(out, width, height)
    (0 until nPictures).foreach { pic =>
      // temporal_reference carries the picture index (so a start-code
      // frame index recovers it without entropy decode)
      out.bits(0x00000100L, 32); out.bits(pic, 10); out.bits(1, 3)
      out.bits(0xffff, 16)
      out.bits(0, 1)
      out.byteAlign()
      out.bits(0x00000101L, 32)
      val qscale = 8
      out.bits(qscale, 5); out.bits(0, 1)
      val pred = Array(128, 128, 128)
      val nMb = (width / 16) * (height / 16)
      (0 until nMb).foreach { m =>
        out.str("1") // address increment 1
        out.str("1") // intra
        (0 until 6).foreach { b =>
          val comp = if (b < 4) 0 else b - 3
          val dcq = ((seed * 7 + pic * 37 + m * 13 + b * 29) % 256).toInt
          val diff = dcq - pred(comp)
          pred(comp) = dcq
          val size =
            if (diff == 0) 0
            else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
          out.str(if (b < 4) DcLuma(size) else DcChroma(size))
          if (size > 0)
            out.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
          // AC: five disjoint-range zigzag positions, ascending
          val ps = Seq(
            1 + ((seed + m + b) % 4).toInt, 6 + ((seed * 3 + m) % 6).toInt,
            15 + ((b * 5 + m) % 8).toInt, 30 + ((seed + b * 7) % 10).toInt,
            50 + ((m * 3 + b) % 13).toInt)
          var prev = 0
          ps.foreach { p =>
            val l0 = ((seed * 11 + pic * 41 + m * 17 + b * 23 + p * 31)
              % 21).toInt - 10
            val level = if (l0 == 0) 1 else l0
            val run = p - prev - 1
            prev = p
            AcByRunLevel.get((run, math.abs(level))) match {
              case Some(code) =>
                out.str(code); out.bits(if (level < 0) 1 else 0, 1)
              case None =>
                out.str("000001"); out.bits(run, 6); out.bits(level & 0xff, 8)
            }
          }
          out.str("10") // EOB
        }
      }
      out.byteAlign()
    }
    out.bits(0x000001b7L, 32) // sequence end
    out.toBytes
  }

  /** Start-code frame index of an MPEG-1 video elementary stream — the
    * 100 TB frame-sampling primitive: picture start codes are
    * byte-aligned by construction, so a stream is frame-indexed by a
    * single linear scan with NO entropy decode (seek-and-sample without
    * touching slice payloads). Returns one row per picture:
    * (byte offset, temporal_reference, picture_coding_type). */
  def mpeg1FrameOffsets(bytes: Array[Byte]): Seq[(Int, Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int, Int)]
    var p = 0
    while (p + 6 <= bytes.length) {
      if (bytes(p) == 0 && bytes(p + 1) == 0 && bytes(p + 2) == 1 &&
          bytes(p + 3) == 0) {
        val tempRef = ((bytes(p + 4) & 0xff) << 2) |
          ((bytes(p + 5) & 0xff) >> 6)
        val ptype = (bytes(p + 5) >> 3) & 0x7
        out += ((p, tempRef, ptype))
        p += 4
      } else p += 1
    }
    out.result()
  }

  // ---- MPEG-1 motion-compensated P pictures (11172-2 §2.4.4.2) --------

  /** 1e-12-quantized separable IDCT basis, flattened `u*8 + x`:
    * `C(u)/2 · cos((2x+1)uπ/16)` — interpolated into the oracle SQL as
    * literal doubles so both engines fold identical values. */
  val mpegIct: Array[Double] = Array.tabulate(64) { idx =>
    val u = idx / 8; val x = idx % 8
    val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    round12(cu / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0))
  }
  private[graft] def mpegZigzag: Array[Int] = Zigzag

  /** One reconstructed macroblock of an I/P/B picture: picture index,
    * macroblock address, kind (0 intra, 1 forward-MC, 2 skipped, 3
    * backward-MC, 4 interpolated), the reconstructed forward and
    * backward vectors in half-pel units (0 when unused; a skipped B
    * macroblock reports the vectors it reused), and the integer sum /
    * square-sum of the macroblock's 256 reconstructed luma pixels. */
  final case class MpegPMb(pic: Int, mb: Int, kind: Int, dx: Int, dy: Int,
                           ySum: Long, ySqSum: Long,
                           bdx: Int = 0, bdy: Int = 0, cbp: Int = 0)

  /** macroblock_address_increment VLC (ISO/IEC 11172-2 Table B.1,
    * public spec; shared with H.262 Table B-1) — the FULL table since
    * round 14: increments 1–33 plus the escape ('00000001000', adds 33
    * and continues) and stuffing ('00000001111', discarded) codes.
    * Structural closure asserted in Mpeg1ResidualSpec: prefix-free,
    * Kraft mass 2026/2048 with the deficit exactly the spec's reserved
    * regions ('00000000…', the six unused '00000001xxx' leaves around
    * escape/stuffing, and '00000010…'), and the B.4 pairing below. */
  private[graft] val AddrIncCodes: Seq[(String, Int)] = Seq(
    "1" -> 1, "011" -> 2, "010" -> 3, "0011" -> 4, "0010" -> 5,
    "00011" -> 6, "00010" -> 7, "0000111" -> 8, "0000110" -> 9,
    "00001011" -> 10, "00001010" -> 11, "00001001" -> 12,
    "00001000" -> 13, "00000111" -> 14, "00000110" -> 15,
    "0000010111" -> 16, "0000010110" -> 17, "0000010101" -> 18,
    "0000010100" -> 19, "0000010011" -> 20, "0000010010" -> 21,
    "00000100011" -> 22, "00000100010" -> 23, "00000100001" -> 24,
    "00000100000" -> 25, "00000011111" -> 26, "00000011110" -> 27,
    "00000011101" -> 28, "00000011100" -> 29, "00000011011" -> 30,
    "00000011010" -> 31, "00000011001" -> 32, "00000011000" -> 33)
  private[graft] val AddrIncEscape = "00000001000"
  private[graft] val AddrIncStuffing = "00000001111"
  // decode alphabet: stuffing → 0 (discard and read again), escape →
  // −1 (add 33 and read again)
  private val AddrIncAlphabet: Seq[(String, Int)] =
    AddrIncCodes ++ Seq(AddrIncStuffing -> 0, AddrIncEscape -> -1)

  /** motion_code VLC (11172-2 Table B.4), FULL |code| ≤ 16 since round
    * 14 — DERIVED from Table B.1 rather than recalled separately: the
    * published structural correspondence is that each B.4 magnitude
    * prefix p(m) splits into the two B.1 increment codes
    * B.1(2m) = p(m)+'1' and B.1(2m+1) = p(m)+'0', with the sign bit
    * (positive = '0') taking the place of the B.1 low bit. The
    * `require` makes the derivation a build-time structural check over
    * all 16 magnitudes; the pairing on magnitudes ≤ 3 reproduces the
    * codes every motion oracle row has decoded against since round 12. */
  private[graft] val MotionCodes: Seq[(String, Int)] = {
    val byVal = AddrIncCodes.map { case (c, v) => v -> c }.toMap
    ("1" -> 0) +: (1 to 16).flatMap { m =>
      val hi = byVal(2 * m)
      val lo = byVal(2 * m + 1)
      require(hi.last == '1' && lo == hi.dropRight(1) + "0",
              s"B.1/B.4 pairing broken at magnitude $m")
      val p = hi.dropRight(1)
      Seq((p + "0") -> m, (p + "1") -> -m)
    }
  }

  /** coded_block_pattern VLC (ISO/IEC 11172-2 Table B.3, public spec;
    * shared with H.262 Table B-9) — all 63 codes, cbp 1..63 (cbp 0 has
    * no code: a pattern-less macroblock never sends one). Bit semantics:
    * cbp = 32·Y0 + 16·Y1 + 8·Y2 + 4·Y3 + 2·Cb + Cr. Structural
    * properties asserted in CodecFuzzSpec: 63 entries, prefix-free,
    * Kraft mass 1 − 2·2⁻⁹ (the '00000000x' space is left un-coded by
    * the spec), cbp 60 (all-luma) shortest at 3 bits, the four
    * single-luma patterns at 4 bits, only {27,31,39,47,55,59} at 9. */
  private[graft] val CbpCodes: Seq[(String, Int)] = Seq(
    "111" -> 60,
    "1101" -> 4, "1100" -> 8, "1011" -> 16, "1010" -> 32,
    "10011" -> 12, "10010" -> 48, "10001" -> 20, "10000" -> 40,
    "01111" -> 28, "01110" -> 44, "01101" -> 52, "01100" -> 56,
    "01011" -> 1, "01010" -> 61, "01001" -> 2, "01000" -> 62,
    "001111" -> 24, "001110" -> 36, "001101" -> 3, "001100" -> 63,
    "0010111" -> 5, "0010110" -> 9, "0010101" -> 17, "0010100" -> 33,
    "0010011" -> 6, "0010010" -> 10, "0010001" -> 18, "0010000" -> 34,
    "00011111" -> 7, "00011110" -> 11, "00011101" -> 19, "00011100" -> 35,
    "00011011" -> 13, "00011010" -> 49, "00011001" -> 21, "00011000" -> 41,
    "00010111" -> 14, "00010110" -> 50, "00010101" -> 22, "00010100" -> 42,
    "00010011" -> 15, "00010010" -> 51, "00010001" -> 23, "00010000" -> 43,
    "00001111" -> 25, "00001110" -> 37, "00001101" -> 26, "00001100" -> 38,
    "00001011" -> 29, "00001010" -> 45, "00001001" -> 53, "00001000" -> 57,
    "00000111" -> 30, "00000110" -> 46, "00000101" -> 54, "00000100" -> 58,
    "000000111" -> 31, "000000110" -> 47, "000000101" -> 55,
    "000000100" -> 59, "000000011" -> 27, "000000010" -> 39)

  /** Full B-picture macroblock_type VLC (ISO 11172-2 Table B.2c):
    * code → (intra, quant, forward, backward, coded). Structurally
    * re-verified in Mpeg1ResidualSpec (the same discipline that
    * admitted the CBP table): prefix-free; Kraft mass 63/64 with
    * EXACTLY '000000' left reserved — the identical closure the
    * P-picture table B.2b exhibits; every quant row is a coded row's
    * flag set plus quant, and exactly the three coded non-intra forms
    * plus intra carry quant variants (mirroring B.2b, where both coded
    * forms and intra do); within each length group, prediction-richer
    * modes take the lexicographically larger code ('11' coded >
    * '10' not-coded, '000011' fwd > '000010' bwd). */
  private[graft] val BMbTypeCodes
      : Seq[(String, (Boolean, Boolean, Boolean, Boolean, Boolean))] = Seq(
    "10"     -> ((false, false, true,  true,  false)), // interp
    "11"     -> ((false, false, true,  true,  true)),  // interp+coded
    "010"    -> ((false, false, false, true,  false)), // bwd
    "011"    -> ((false, false, false, true,  true)),  // bwd+coded
    "0010"   -> ((false, false, true,  false, false)), // fwd
    "0011"   -> ((false, false, true,  false, true)),  // fwd+coded
    "00011"  -> ((true,  false, false, false, false)), // intra
    "00010"  -> ((false, true,  true,  true,  true)),  // quant+interp+c
    "000011" -> ((false, true,  true,  false, true)),  // quant+fwd+c
    "000010" -> ((false, true,  false, true,  true)),  // quant+bwd+c
    "000001" -> ((true,  true,  false, false, false))) // quant+intra

  private[graft] val CbpByValue: Map[Int, String] =
    CbpCodes.map(_.swap).toMap

  /** Spec NON-intra dequantization (11172-2 §2.4.4.3): with the default
    * non-intra quant matrix (uniform 16) the `((2·|QF|+1)·qscale·W)/16`
    * form collapses to `(2·|QF|+1)·qscale` exactly; oddified downward
    * when even (mismatch control), saturated to 2047, re-signed. */
  private def dequantNonIntra(level: Int, qscale: Int): Long = {
    val a0 = (2 * math.abs(level) + 1) * qscale
    val a1 = if (a0 % 2 == 0) a0 - 1 else a0
    val a2 = math.min(a1, 2047)
    if (level < 0) -a2.toLong else a2.toLong
  }

  /** REAL MPEG-1 VIDEO I→P decode with forward motion compensation
    * (ISO/IEC 11172-2 §2.4.4.2, public spec) — the motion-compensated
    * slice of the video stub seam made real. The I picture is
    * reconstructed to pixel planes (intra entropy decode as
    * [[mpeg1IFrameDecode]], then the separable IDCT over the
    * 1e-12-quantized basis, round-half-away, clamp to [0,255]); each P
    * picture is then built macroblock-by-macroblock:
    *
    *   - forward motion vectors decoded differentially (motion_code VLC
    *     subset |code| ≤ 3, ANY `f_code` 1-7 — per-component residual
    *     bits, delta = 1 + f·(|code|−1) + r, the general ±16f
    *     wraparound — half-pel units) with the spec predictor resets
    *     (slice start, after intra, after skipped);
    *   - half-pel interpolation by the spec's round-half-away integer
    *     averages ((a+b+1)>>1, (a+b+c+d+2)>>2);
    *   - skipped macroblocks (address increment > 1) copy the co-located
    *     reference block with vector 0 and reset the predictor;
    *   - intra macroblocks inside P pictures (full entropy + IDCT path,
    *     DC predictors re-reset after every non-intra macroblock);
    *   - chroma compensated with the half-magnitude vector
    *     (truncate-toward-zero), 4:2:0 planes.
    *
    *   - B pictures (Table B.2c not-coded forms): forward, backward, and
    *     interpolated prediction — the backward/interpolated pels come
    *     from the NEXT reference picture (bitstream order I P B), the
    *     two combined with the //2 round-half-away average; separate
    *     forward/backward predictor chains; B-skipped macroblocks repeat
    *     the previous macroblock's mode with unchanged vectors
    *     (§2.4.4.4 — different semantics from P-skipped).
    *
    *   - CODED non-intra macroblocks (P: all four Table-B.2b coded
    *     forms incl. the quant variants and the zero-vector
    *     pattern-only type; B: ALL SIX coded forms — the full Table
    *     B.2c via [[BMbTypeCodes]], quant variants included with
    *     running-quantizer carry): CBP
    *     via the full 63-entry Table B.3, per coded block the
    *     dct_coeff_first/next entropy decode (the '1' = run-0/±1 first
    *     code in EOB's freed prefix space, ESCAPE form included),
    *     non-intra dequantization ((2·|QF|+1)·qscale with the uniform-16
    *     default matrix, oddified, saturated), IDCT, and the
    *     prediction + residual add with the post-add [0,255] clamp;
    *
    *   - D pictures (picture_coding_type 4, §2.4.3.5): DC-only intra
    *     macroblocks with the end_of_macroblock gate, no f_code fields,
    *     never references;
    *
    *   - MULTI-SLICE pictures (§2.4.2.4, row-aligned slices): slice
    *     start codes between macroblocks reset the quantizer scale, DC
    *     predictors, motion-vector predictors, and the B skip-mode
    *     memory; slice_vertical_position must continue exactly at the
    *     next undecoded row (gaps refuse).
    *
    * Declared subset (None on encounter): |motion_code| > 3 (Table
    * B.4's longer codewords are tabulated data), mid-row slice starts.
    * Each decoded I/P becomes
    * the backward reference and slides the previous one to the forward
    * slot; B and D pictures are never references. Returns per-macroblock luma
    * statistics in decode order — integers end-to-end, so the DuckDB
    * oracle replays the whole chain bit-for-bit. */
  def mpeg1IPDecode(bytes: Array[Byte])
      : Option[((Int, Int), Seq[MpegPMb])] = {
    if (bytes.length < 12) return None
    val r = new BitReader(bytes)
    def vlc[A](table: Seq[(String, A)]): A =
      r.code(c => table.find(_._1 == c).map(_._2), 13)
        .getOrElse(throw new RuntimeException("vlc"))
    try {
      if (r.bits(32) != 0x000001b3) return None
      val w = r.bits(12); val h = r.bits(12)
      if (w % 16 != 0 || h % 16 != 0 || w == 0 || h == 0 ||
          w > 4096 || h > 4096) return None
      r.bits(4); r.bits(4); r.bits(18); r.bits(1); r.bits(10); r.bits(1)
      if (r.bits(1) == 1) (0 until 64).foreach(_ => r.bits(8))
      if (r.bits(1) == 1) (0 until 64).foreach(_ => r.bits(8))
      r.byteAlign()
      val mbw = w / 16; val nMb = mbw * (h / 16)
      val cw = w / 2; val chH = h / 2
      // planes: luma + Cb + Cr; refY.. = latest I/P reference (backward
      // ref for B pictures), prevY.. = the one before it (forward ref
      // for B pictures, which arrive after both in bitstream order).
      var refY: Array[Int] = null
      var refCb: Array[Int] = null
      var refCr: Array[Int] = null
      var prevY: Array[Int] = null
      var prevCb: Array[Int] = null
      var prevCr: Array[Int] = null
      val out = Seq.newBuilder[MpegPMb]

      def idctBlock(coeffs: Seq[(Int, Long)],
                    raw: Boolean = false): Array[Int] = {
        // coeffs: (zigzag pos, dequantized value) in decode order; the
        // float fold is order-pinned (decode order) over the quantized
        // basis, then round-half-away + clamp. `raw` = residual mode:
        // keep the signed rounded value (clamping happens after the
        // prediction add, §2.4.4.4 reconstruction order).
        val px = new Array[Int](64)
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            var acc = 0.0
            coeffs.foreach { case (pos, f) =>
              val p = Zigzag(pos)
              acc += f * mpegIct((p % 8) * 8 + x) * mpegIct((p / 8) * 8 + y)
            }
            val r = if (acc >= 0) math.floor(acc + 0.5)
                    else math.ceil(acc - 0.5)
            px(y * 8 + x) =
              if (raw) r.toInt else math.max(0, math.min(255, r.toInt))
            x += 1
          }
          y += 1
        }
        px
      }

      // One NON-intra coded block (11172-2 §2.4.3.7): dct_coeff_first
      // re-uses the '1' prefix freed by EOB (a coded block has ≥ 1
      // coefficient, so EOB cannot come first) for (run 0, level ±1);
      // every other first code — including the ESCAPE form — is the
      // 0-prefixed dct_coeff_next code unchanged. Returns (zigzag pos,
      // dequantized value) in decode order.
      def decodeNonIntraBlock(qs: Int): Seq[(Int, Long)] = {
        val coeffs = Seq.newBuilder[(Int, Long)]
        var pos =
          if (r.bits(1) == 1) {
            val lvl = if (r.bits(1) == 1) -1 else 1
            coeffs += ((0, dequantNonIntra(lvl, qs)))
            0
          } else {
            val zeroTable = Seq("000001" -> ((-2, 0))) ++
              AcCodes.filter(_._1.startsWith("0"))
            // the leading 0 is read; no code is "0" alone
            r.code(c => zeroTable.find(_._1 == "0" + c).map(_._2), 12)
              .getOrElse(throw new RuntimeException("vlc")) match {
              case (-2, _) =>
                val run = r.bits(6); val raw = r.bits(8)
                val level = if (raw >= 128) raw - 256 else raw
                coeffs += ((run, dequantNonIntra(level, qs)))
                run
              case (run, mag) =>
                val level = if (r.bits(1) == 1) -mag else mag
                coeffs += ((run, dequantNonIntra(level, qs)))
                run
            }
          }
        var eob = false
        while (!eob) {
          val step = vlc(Seq[(String, (Int, Int))](
            "10" -> ((-1, 0)), "000001" -> ((-2, 0))) ++ AcCodes)
          step match {
            case (-1, _) => eob = true
            case (-2, _) =>
              val run = r.bits(6); val raw = r.bits(8)
              val level = if (raw >= 128) raw - 256 else raw
              pos += run + 1
              coeffs += ((pos, dequantNonIntra(level, qs)))
            case (run, mag) =>
              val level = if (r.bits(1) == 1) -mag else mag
              pos += run + 1
              coeffs += ((pos, dequantNonIntra(level, qs)))
          }
          if (!eob && pos > 63) throw new RuntimeException("overrun")
        }
        coeffs.result()
      }

      def halfPel(plane: Array[Int], pw: Int, ph: Int, x2: Int, y2: Int)
          : Int = {
        val x0 = x2 >> 1; val y0 = y2 >> 1
        val fx = x2 & 1; val fy = y2 & 1
        if (x0 < 0 || y0 < 0 || x0 + fx >= pw || y0 + fy >= ph)
          throw new RuntimeException("mc oob")
        val p00 = plane(y0 * pw + x0)
        if (fx == 0 && fy == 0) p00
        else if (fy == 0) (p00 + plane(y0 * pw + x0 + 1) + 1) >> 1
        else if (fx == 0) (p00 + plane((y0 + 1) * pw + x0) + 1) >> 1
        else (p00 + plane(y0 * pw + x0 + 1) + plane((y0 + 1) * pw + x0) +
              plane((y0 + 1) * pw + x0 + 1) + 2) >> 2
      }

      var pic = 0
      var morePictures = true
      var code = r.bits(32)
      if (code == 0x000001b8) { r.bits(27); r.byteAlign(); code = r.bits(32) }
      if (code != 0x00000100) return None
      while (morePictures) {
        r.bits(10) // temporal_reference
        val ptype = r.bits(3)
        if (ptype < 1 || ptype > 4) return None // I/P/B/D
        if (ptype == 2 && refY == null) return None // P needs a reference
        if (ptype == 3 && (refY == null || prevY == null)) return None
        r.bits(16) // vbv_delay
        // f_code 1..7 (§2.4.3.1): r_size = f_code − 1 residual bits per
        // nonzero motion code, delta = 1 + f·(|code|−1) + residual,
        // predictors wrap into [−16f, 16f−1]
        var rSizeF = 0; var rSizeB = 0
        if (ptype == 2 || ptype == 3) {
          if (r.bits(1) != 0) return None // full_pel_forward_vector
          val fc = r.bits(3)
          if (fc < 1) return None // forbidden forward_f_code
          rSizeF = fc - 1
        }
        if (ptype == 3) {
          if (r.bits(1) != 0) return None // full_pel_backward_vector
          val fc = r.bits(3)
          if (fc < 1) return None // forbidden backward_f_code
          rSizeB = fc - 1
        }
        val fF = 1 << rSizeF; val fB = 1 << rSizeB
        while (r.bits(1) == 1) r.bits(8) // extra_information_picture
        r.byteAlign()
        val slice = r.bits(32)
        if (slice < 0x00000101 || slice > 0x000001af) return None
        // the first slice must cover the picture's first macroblock row
        if ((slice & 0xff) != 1) return None
        var qscale = r.bits(5)
        while (r.bits(1) == 1) r.bits(8)
        val newY = new Array[Int](w * h)
        val newCb = new Array[Int](cw * chH)
        val newCr = new Array[Int](cw * chH)
        val pred = Array(128, 128, 128)
        // forward and backward vector predictors (B uses both)
        var pmvFx = 0; var pmvFy = 0; var pmvBx = 0; var pmvBy = 0
        // previous macroblock's prediction flags (B skipped-MB semantics:
        // repeat the previous macroblock's mode with unchanged vectors)
        var lastFwd = false; var lastBwd = false
        val isB = ptype == 3
        val fY = if (isB) prevY else refY
        val fCb = if (isB) prevCb else refCb
        val fCr = if (isB) prevCr else refCr

        // motion-compensate one macroblock from the forward and/or
        // backward reference; both → the //2 round-half-away average.
        def predictMb(mb: Int, useFwd: Boolean, useBwd: Boolean): (Long, Long) = {
          val mbx = (mb % mbw) * 16; val mby = (mb / mbw) * 16
          var ys = 0L; var yq = 0L
          var yy = 0
          while (yy < 16) {
            var xx = 0
            while (xx < 16) {
              val fv = if (useFwd) halfPel(fY, w, h,
                2 * (mbx + xx) + pmvFx, 2 * (mby + yy) + pmvFy) else 0
              val bv = if (useBwd) halfPel(refY, w, h,
                2 * (mbx + xx) + pmvBx, 2 * (mby + yy) + pmvBy) else 0
              val v = if (useFwd && useBwd) (fv + bv + 1) >> 1
                      else if (useFwd) fv else bv
              newY((mby + yy) * w + mbx + xx) = v
              ys += v; yq += v.toLong * v
              xx += 1
            }
            yy += 1
          }
          val (fcdx, fcdy) = (pmvFx / 2, pmvFy / 2) // truncate toward zero
          val (bcdx, bcdy) = (pmvBx / 2, pmvBy / 2)
          val cbx = (mb % mbw) * 8; val cby = (mb / mbw) * 8
          var cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              def cpel(fp: Array[Int], bp: Array[Int]): Int = {
                val fv = if (useFwd) halfPel(fp, cw, chH,
                  2 * (cbx + cx) + fcdx, 2 * (cby + cy) + fcdy) else 0
                val bv = if (useBwd) halfPel(bp, cw, chH,
                  2 * (cbx + cx) + bcdx, 2 * (cby + cy) + bcdy) else 0
                if (useFwd && useBwd) (fv + bv + 1) >> 1
                else if (useFwd) fv else bv
              }
              newCb((cby + cy) * cw + cbx + cx) = cpel(fCb, refCb)
              newCr((cby + cy) * cw + cbx + cx) = cpel(fCr, refCr)
              cx += 1
            }
            cy += 1
          }
          (ys, yq)
        }
        def mbKind(useFwd: Boolean, useBwd: Boolean): Int =
          if (useFwd && useBwd) 4 else if (useBwd) 3 else 1

        // add one decoded residual block onto the already-predicted
        // macroblock pels, clamping AFTER the add (§2.4.4.4 order).
        def addResidual(blk: Int, mb: Int, res: Array[Int]): Unit =
          if (blk < 4) {
            val bx = (mb % mbw) * 16 + 8 * (blk % 2)
            val by = (mb / mbw) * 16 + 8 * (blk / 2)
            var y0 = 0
            while (y0 < 8) {
              var x0 = 0
              while (x0 < 8) {
                val i = (by + y0) * w + bx + x0
                newY(i) =
                  math.max(0, math.min(255, newY(i) + res(y0 * 8 + x0)))
                x0 += 1
              }
              y0 += 1
            }
          } else {
            val plane = if (blk == 4) newCb else newCr
            val bx = (mb % mbw) * 8; val by = (mb / mbw) * 8
            var y0 = 0
            while (y0 < 8) {
              var x0 = 0
              while (x0 < 8) {
                val i = (by + y0) * cw + bx + x0
                plane(i) =
                  math.max(0, math.min(255, plane(i) + res(y0 * 8 + x0)))
                x0 += 1
              }
              y0 += 1
            }
          }

        var mb = 0
        // > 0 when the NEXT address increment is a new slice's first:
        // it positions over macroblocks the previous slice already
        // decoded (no skip semantics) and must land exactly on `mb`
        var sliceFirstInc = -1
        // full Table B.1 read: stuffing codes are discarded, each
        // escape adds 33 and the read continues (§2.4.2.7)
        def addrInc(): Int = {
          var extra = 0
          var v = -1
          while (v <= 0) {
            val c = vlc(AddrIncAlphabet)
            if (c == -1) extra += 33 else if (c > 0) v = c
          }
          extra + v
        }
        while (mb < nMb) {
          // MULTI-SLICE (§2.4.2.4): between macroblocks, a byte-aligned
          // slice start code (after all-zero padding bits) opens the
          // next slice. Since round 14 slices may start MID-ROW:
          // slice_vertical_position must equal the next undecoded
          // macroblock's row + 1, and the slice's FIRST address
          // increment must walk from (svp−1)·mbw − 1 exactly onto that
          // macroblock (a short or long walk is a slice gap/overlap →
          // refuse). The header resets the quantizer scale, DC
          // predictors, motion-vector predictors, and the B
          // skipped-macroblock mode memory.
          if (mb > 0) {
            val save = r.pos
            // all-zero padding to the byte boundary, then a start code
            if (((save + 7) & ~7L) + 32 <= r.end && r.byteAlign() == 0) {
              val code = r.bits(32)
              if (code >= 0x00000101 && code <= 0x000001af) {
                if ((code & 0xff) - 1 != mb / mbw)
                  throw new RuntimeException("slicegap")
                qscale = r.bits(5)
                while (r.bits(1) == 1) r.bits(8)
                pred(0) = 128; pred(1) = 128; pred(2) = 128
                pmvFx = 0; pmvFy = 0; pmvBx = 0; pmvBy = 0
                lastFwd = false; lastBwd = false
                sliceFirstInc = mb % mbw + 1
              } else r.pos = save
            } else r.pos = save
          }
          val incRaw = addrInc()
          val inc =
            if (sliceFirstInc > 0) {
              if (incRaw != sliceFirstInc)
                throw new RuntimeException("slicegap")
              sliceFirstInc = -1
              1
            } else incRaw
          // skipped macroblocks: P copies co-located with vector 0 and
          // resets the predictor; B repeats the previous macroblock's
          // prediction mode with unchanged vectors (§2.4.4.4).
          var sk = 1
          while (sk < inc) {
            if (mb >= nMb) throw new RuntimeException("skip")
            if (ptype == 2) {
              copyMb(refY, refCb, refCr, newY, newCb, newCr, w, cw, mbw, mb)
              val (ys, yq) = mbLumaStats(newY, w, mbw, mb)
              out += MpegPMb(pic, mb, 2, 0, 0, ys, yq)
              pmvFx = 0; pmvFy = 0
            } else if (isB) {
              if (!lastFwd && !lastBwd) throw new RuntimeException("skipB")
              val (ys, yq) = predictMb(mb, lastFwd, lastBwd)
              out += MpegPMb(pic, mb, 2,
                if (lastFwd) pmvFx else 0, if (lastFwd) pmvFy else 0, ys, yq,
                if (lastBwd) pmvBx else 0, if (lastBwd) pmvBy else 0)
            } else throw new RuntimeException("skip")
            pred(0) = 128; pred(1) = 128; pred(2) = 128
            mb += 1; sk += 1
          }
          if (mb >= nMb) throw new RuntimeException("addr")
          // macroblock_type: I pictures ('1' intra, '01' intra+quant);
          // P pictures — full Table B.2b: '1' MC+coded / '01' coded
          // (no MC, zero vector) / '001' MC-not-coded / '00011' intra /
          // '00010' quant+MC+coded / '00001' quant+coded / '000001'
          // quant+intra; B pictures — full Table B.2c: '10'/'11' interp
          // not-coded/coded, '010'/'011' backward, '0010'/'0011'
          // forward, '00011' intra, '00010' quant+interp+coded,
          // '000011' quant+forward+coded, '000010' quant+backward+coded,
          // '000001' quant+intra. Both tables close Kraft mass to 63/64
          // with exactly '000000' reserved, every quant form pairs a
          // coded form's flag set plus quant, and the table is
          // re-verified structurally in Mpeg1ResidualSpec. Tuple:
          // (intra, withQuant, useFwd, useBwd, coded, zeroVec).
          val (intra, withQuant, useFwd, useBwd, coded, zeroVec) =
            if (ptype == 1) {
              val q = vlc(Seq("1" -> false, "01" -> true))
              (true, q, false, false, false, false)
            } else if (ptype == 4) {
              // D pictures (Table B.2d): intra DC-only is the ONLY type
              vlc(Seq("1" -> 0))
              (true, false, false, false, false, false)
            } else if (ptype == 2) {
              vlc(Seq[(String, Int)]("001" -> 0, "00011" -> 1,
                                     "000001" -> 2, "1" -> 3, "01" -> 4,
                                     "00010" -> 5, "00001" -> 6)) match {
                case 0 => (false, false, true, false, false, false) // MC
                case 1 => (true, false, false, false, false, false) // intra
                case 2 => (true, true, false, false, false, false)  // q+intra
                case 3 => (false, false, true, false, true, false)  // MC+coded
                case 4 => (false, false, true, false, true, true)   // coded
                case 5 => (false, true, true, false, true, false)   // q+MC+c
                case _ => (false, true, true, false, true, true)    // q+coded
              }
            } else {
              val (bI, bQ, bF, bBk, bC) = vlc(BMbTypeCodes)
              (bI, bQ, bF, bBk, bC, false)
            }
          if (withQuant) qscale = r.bits(5)
          if (useFwd || useBwd) {
            // reconstruct differentially (§2.4.4.2): delta =
            // 1 + f·(|code|−1) + residual, predictor wraps into
            // [−16f, 16f−1] (f = 1 reduces to pmv + code, ±16 wrap)
            def recon(pmv: Int, codeV: Int, r: Int, fv: Int): Int = {
              var v = pmv + (if (codeV == 0) 0 else {
                val d = 1 + fv * (math.abs(codeV) - 1) + r
                if (codeV < 0) -d else d
              })
              if (v > 16 * fv - 1) v -= 32 * fv
              if (v < -16 * fv) v += 32 * fv
              v
            }
            // field order per component: motion_code, then (when
            // f_code > 1 and code ≠ 0) r_size residual bits
            def readMv(rSize: Int): (Int, Int) = {
              val c = vlc(MotionCodes)
              (c, if (rSize > 0 && c != 0) r.bits(rSize) else 0)
            }
            if (useFwd && !zeroVec) {
              val (mh, rh) = readMv(rSizeF); val (mv, rv) = readMv(rSizeF)
              pmvFx = recon(pmvFx, mh, rh, fF)
              pmvFy = recon(pmvFy, mv, rv, fF)
            } else if (zeroVec) {
              // P pattern-only macroblock: zero vector AND the forward
              // predictor resets (§2.4.4.2 predictor-reset list).
              pmvFx = 0; pmvFy = 0
            }
            if (useBwd) {
              val (mh, rh) = readMv(rSizeB); val (mv, rv) = readMv(rSizeB)
              pmvBx = recon(pmvBx, mh, rh, fB)
              pmvBy = recon(pmvBy, mv, rv, fB)
            }
            val (ys0, yq0) = predictMb(mb, useFwd, useBwd)
            var cbp = 0
            if (coded) {
              cbp = vlc(CbpCodes)
              var blk = 0
              while (blk < 6) {
                if ((cbp & (1 << (5 - blk))) != 0)
                  addResidual(blk, mb,
                    idctBlock(decodeNonIntraBlock(qscale), raw = true))
                blk += 1
              }
            }
            val (ys, yq) =
              if (coded) mbLumaStats(newY, w, mbw, mb) else (ys0, yq0)
            val kind =
              if (!coded) mbKind(useFwd, useBwd)
              else if (zeroVec) 6
              else mbKind(useFwd, useBwd) + 4
            out += MpegPMb(pic, mb, kind,
              if (useFwd && !zeroVec) pmvFx else 0,
              if (useFwd && !zeroVec) pmvFy else 0, ys, yq,
              if (useBwd) pmvBx else 0, if (useBwd) pmvBy else 0, cbp)
            lastFwd = useFwd; lastBwd = useBwd
            pred(0) = 128; pred(1) = 128; pred(2) = 128
          } else {
            // intra macroblock (I picture, or intra-in-P/B)
            pmvFx = 0; pmvFy = 0; pmvBx = 0; pmvBy = 0
            lastFwd = false; lastBwd = false
            var blk = 0
            while (blk < 6) {
              val comp = if (blk < 4) 0 else blk - 3
              val dcTab = if (blk < 4) DcLuma else DcChroma
              val size = vlc(dcTab.zipWithIndex.map { case (c, i) => (c, i) })
              val diff =
                if (size == 0) 0
                else {
                  val v = r.bits(size)
                  if (v >= (1 << (size - 1))) v else v - (1 << size) + 1
                }
              pred(comp) += diff
              val coeffs = Seq.newBuilder[(Int, Long)]
              coeffs += ((0, pred(comp).toLong * 8))
              // D-picture blocks carry ONLY the DC chain — no AC codes,
              // no EOB (§2.4.3.5); everything else runs the AC walk
              if (ptype != 4) {
                var pos = 0
                var eob = false
                while (!eob) {
                  val step = vlc(Seq[(String, (Int, Int))](
                    "10" -> ((-1, 0)), "000001" -> ((-2, 0))) ++ AcCodes)
                  step match {
                    case (-1, _) => eob = true
                    case (-2, _) =>
                      val run = r.bits(6)
                      val raw = r.bits(8)
                      val level = if (raw >= 128) raw - 256 else raw
                      pos += run + 1
                      coeffs += ((pos, dequantAc0(level, qscale, pos)))
                    case (run, mag) =>
                      val level = if (r.bits(1) == 1) -mag else mag
                      pos += run + 1
                      coeffs += ((pos, dequantAc0(level, qscale, pos)))
                  }
                  if (!eob && pos > 63) throw new RuntimeException("overrun")
                }
              }
              val px = idctBlock(coeffs.result())
              // place the 8×8 block into its plane
              if (blk < 4) {
                val bx = (mb % mbw) * 16 + 8 * (blk % 2)
                val by = (mb / mbw) * 16 + 8 * (blk / 2)
                var y0 = 0
                while (y0 < 8) {
                  var x0 = 0
                  while (x0 < 8) {
                    newY((by + y0) * w + bx + x0) = px(y0 * 8 + x0)
                    x0 += 1
                  }
                  y0 += 1
                }
              } else {
                val plane = if (blk == 4) newCb else newCr
                val bx = (mb % mbw) * 8; val by = (mb / mbw) * 8
                var y0 = 0
                while (y0 < 8) {
                  var x0 = 0
                  while (x0 < 8) {
                    plane((by + y0) * cw + bx + x0) = px(y0 * 8 + x0)
                    x0 += 1
                  }
                  y0 += 1
                }
              }
              blk += 1
            }
            // D pictures close every macroblock with end_of_macroblock=1
            if (ptype == 4 && r.bits(1) != 1)
              throw new RuntimeException("eomb")
            val (ys, yq) = mbLumaStats(newY, w, mbw, mb)
            out += MpegPMb(pic, mb, 0, 0, 0, ys, yq)
          }
          mb += 1
        }
        r.byteAlign()
        if (!isB && ptype != 4) {
          // I/P become the new backward reference; the old one slides to
          // the forward slot. B and D pictures are never references.
          prevY = refY; prevCb = refCb; prevCr = refCr
          refY = newY; refCb = newCb; refCr = newCr
        }
        morePictures = r.remaining >= 32 &&
          r.bits(32) == 0x00000100
        if (morePictures) pic += 1
      }
      Some(((w, h), out.result()))
    } catch {
      case _: RuntimeException | _: ArrayIndexOutOfBoundsException |
           _: NullPointerException => None
    }
  }

  private def copyMb(refY: Array[Int], refCb: Array[Int], refCr: Array[Int],
                     newY: Array[Int], newCb: Array[Int], newCr: Array[Int],
                     w: Int, cw: Int, mbw: Int, mb: Int): Unit = {
    val mbx = (mb % mbw) * 16; val mby = (mb / mbw) * 16
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        newY((mby + y) * w + mbx + x) = refY((mby + y) * w + mbx + x)
        x += 1
      }
      y += 1
    }
    val cbx = (mb % mbw) * 8; val cby = (mb / mbw) * 8
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        newCb((cby + cy) * cw + cbx + cx) = refCb((cby + cy) * cw + cbx + cx)
        newCr((cby + cy) * cw + cbx + cx) = refCr((cby + cy) * cw + cbx + cx)
        cx += 1
      }
      cy += 1
    }
  }

  private def mbLumaStats(plane: Array[Int], w: Int, mbw: Int, mb: Int)
      : (Long, Long) = {
    val mbx = (mb % mbw) * 16; val mby = (mb / mbw) * 16
    var s = 0L; var q = 0L
    var y = 0
    while (y < 16) {
      var x = 0
      while (x < 16) {
        val v = plane((mby + y) * w + mbx + x)
        s += v; q += v.toLong * v
        x += 1
      }
      y += 1
    }
    (s, q)
  }

  /** The encode half of the [[mpeg1IPDecode]] round trip: a 64×32 MPEG-1
    * elementary stream with one intra picture (the same per-block
    * coefficient formulas as [[mpeg1IFrameBytes]]) followed by one P
    * picture exercising every supported macroblock kind — intra-in-P
    * (mb 0, 5), forward-MC with seed-dependent half-pel vectors coded
    * differentially against the running predictor (mb 1→2 and 6→7 are
    * genuine differential chains), and a skipped macroblock (mb 3).
    * Vector ranges are chosen so every reference read is in-bounds. */
  def mpeg1IPBytes(seed: Long, withB: Boolean = false): Array[Byte] = {
    val width = 64; val height = 32
    val out = new BitWriter
    val s = seed
    mpeg1SequenceHeader(out, width, height)
    val qscale = 8
    def putIntraMb(pic: Int, m: Int, pred: Array[Int]): Unit = {
      (0 until 6).foreach { b =>
        val comp = if (b < 4) 0 else b - 3
        val dcq = ((s * 7 + pic * 37 + m * 13 + b * 29) % 256).toInt
        val diff = dcq - pred(comp)
        pred(comp) = dcq
        val size =
          if (diff == 0) 0
          else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
        out.str(if (b < 4) DcLuma(size) else DcChroma(size))
        if (size > 0)
          out.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
        val ps = Seq(
          1 + ((s + m + b) % 4).toInt, 6 + ((s * 3 + m) % 6).toInt,
          15 + ((b * 5 + m) % 8).toInt, 30 + ((s + b * 7) % 10).toInt,
          50 + ((m * 3 + b) % 13).toInt)
        var prev = 0
        ps.foreach { p =>
          val l0 = ((s * 11 + pic * 41 + m * 17 + b * 23 + p * 31) % 21)
            .toInt - 10
          val level = if (l0 == 0) 1 else l0
          val run = p - prev - 1
          prev = p
          AcByRunLevel.get((run, math.abs(level))) match {
            case Some(code) =>
              out.str(code); out.bits(if (level < 0) 1 else 0, 1)
            case None =>
              out.str("000001"); out.bits(run, 6); out.bits(level & 0xff, 8)
          }
        }
        out.str("10")
      }
    }
    // ---- I picture ----
    out.bits(0x00000100L, 32); out.bits(0, 10); out.bits(1, 3)
    out.bits(0xffff, 16); out.bits(0, 1)
    out.byteAlign()
    out.bits(0x00000101L, 32); out.bits(qscale, 5); out.bits(0, 1)
    val predI = Array(128, 128, 128)
    (0 until 8).foreach { m => out.str("1"); out.str("1"); putIntraMb(0, m, predI) }
    out.byteAlign()
    // ---- P picture ----
    out.bits(0x00000100L, 32); out.bits(1, 10); out.bits(2, 3); out.bits(0xffff, 16)
    out.bits(0, 1); out.bits(1, 3) // full_pel 0, forward_f_code 1
    out.bits(0, 1)
    out.byteAlign()
    out.bits(0x00000101L, 32); out.bits(qscale, 5); out.bits(0, 1)
    val predP = Array(128, 128, 128)
    def mcode(v: Int): String = MotionCodes.find(_._2 == v).get._1
    val (v1x, v1y) = mpeg1PVec(s, 1)
    val (v2x, v2y) = mpeg1PVec(s, 2)
    val (v4x, v4y) = mpeg1PVec(s, 4)
    val (v6x, v6y) = mpeg1PVec(s, 6)
    val (v7x, v7y) = mpeg1PVec(s, 7)
    // mb0: intra
    out.str("1"); out.str("00011"); putIntraMb(1, 0, predP)
    // mb1: MC (PMV reset by intra → codes = v1)
    out.str("1"); out.str("001"); out.str(mcode(v1x)); out.str(mcode(v1y))
    // mb2: MC, coded DIFFERENTIALLY against v1
    out.str("1"); out.str("001")
    out.str(mcode(v2x - v1x)); out.str(mcode(v2y - v1y))
    // mb3: skipped (mb4's increment is 2); mb4: MC (PMV reset by skip)
    out.str("011"); out.str("001"); out.str(mcode(v4x)); out.str(mcode(v4y))
    // mb5: intra (resets PMV + DC predictors were reset after mb0)
    predP(0) = 128; predP(1) = 128; predP(2) = 128
    out.str("1"); out.str("00011"); putIntraMb(1, 5, predP)
    // mb6: MC; mb7: MC differential against v6
    out.str("1"); out.str("001"); out.str(mcode(v6x)); out.str(mcode(v6y))
    out.str("1"); out.str("001")
    out.str(mcode(v7x - v6x)); out.str(mcode(v7y - v6y))
    out.byteAlign()
    if (withB) {
      // ---- B picture (display order between I and P: tempref 1) ----
      out.bits(0x00000100L, 32); out.bits(1, 10); out.bits(3, 3)
      out.bits(0xffff, 16)
      out.bits(0, 1); out.bits(1, 3) // full_pel_fwd 0, forward_f_code 1
      out.bits(0, 1); out.bits(1, 3) // full_pel_bwd 0, backward_f_code 1
      out.bits(0, 1)
      out.byteAlign()
      out.bits(0x00000101L, 32); out.bits(qscale, 5); out.bits(0, 1)
      val predB = Array(128, 128, 128)
      val (bf1x, bf1y, _, _) = mpeg1BVec(s, 1)
      val (_, _, bb3x, bb3y) = mpeg1BVec(s, 3)
      val (bf4x, bf4y, _, _) = mpeg1BVec(s, 4)
      val (bf6x, bf6y, bb6x, bb6y) = mpeg1BVec(s, 6)
      val (_, _, bb7x, bb7y) = mpeg1BVec(s, 7)
      // mb0: intra
      out.str("1"); out.str("00011"); putIntraMb(2, 0, predB)
      // mb1: forward, not coded (PMVs reset by intra → codes = bf1)
      out.str("1"); out.str("0010"); out.str(mcode(bf1x)); out.str(mcode(bf1y))
      // mb2: skipped (repeats mb1's forward mode, unchanged vectors)
      // mb3: backward, not coded (bwd PMV still 0 → codes = bb3)
      out.str("011"); out.str("010"); out.str(mcode(bb3x)); out.str(mcode(bb3y))
      // mb4: forward — fwd PMV is still bf1 (skip/bwd leave it) →
      // a genuine differential chain across intervening macroblocks
      out.str("1"); out.str("0010")
      out.str(mcode(bf4x - bf1x)); out.str(mcode(bf4y - bf1y))
      // mb5: intra (resets PMVs; DC predictors were reset after mb0)
      predB(0) = 128; predB(1) = 128; predB(2) = 128
      out.str("1"); out.str("00011"); putIntraMb(2, 5, predB)
      // mb6: interpolated (both vectors, PMVs reset → codes = vectors)
      out.str("1"); out.str("10")
      out.str(mcode(bf6x)); out.str(mcode(bf6y))
      out.str(mcode(bb6x)); out.str(mcode(bb6y))
      // mb7: backward, differential against bb6
      out.str("1"); out.str("010")
      out.str(mcode(bb7x - bb6x)); out.str(mcode(bb7y - bb6y))
      out.byteAlign()
    }
    out.bits(0x000001b7L, 32)
    out.toBytes
  }

  /** Seed-dependent P-picture forward vectors (half-pel units), ranged so
    * every reference read stays inside the 64×32 picture and every
    * differential motion code stays within the |code| ≤ 3 subset. */
  private[graft] def mpeg1PVec(s: Long, mb: Int): (Int, Int) = (mb match {
    case 1 => (s % 4 - 2, (s / 4) % 3)
    case 2 => (s % 4 - 2 + ((s / 7) % 3 - 1), (s / 9) % 3)
    case 4 => ((s / 11) % 4, -((s / 13) % 4))
    case 6 => (-((s / 17) % 3), -((s / 19) % 3))
    case 7 => (-((s / 23) % 4), -((s / 29) % 4))
    case _ => (0L, 0L)
  }) match { case (a, b) => (a.toInt, b.toInt) }

  /** Seed-dependent B-picture (forward, backward) vectors, half-pel
    * units, ranged for in-bounds reads against BOTH references and for
    * |differential code| ≤ 3 across the predictor chains (mb 4 is coded
    * against mb 1's surviving forward predictor, mb 7 against mb 6's
    * backward predictor). mb 2 is skipped and reuses mb 1's mode. */
  private[graft] def mpeg1BVec(s: Long, mb: Int): (Int, Int, Int, Int) =
    (mb match {
      case 1 => ((s / 2) % 2, (s / 3) % 2, 0L, 0L)
      case 2 => ((s / 2) % 2, (s / 3) % 2, 0L, 0L) // skipped: mb1 repeated
      case 3 => (0L, 0L, -((s / 5) % 4), (s / 7) % 3)
      case 4 => ((s / 11) % 4, -((s / 13) % 3), 0L, 0L)
      case 6 => ((s / 17) % 5 - 2, -((s / 19) % 3),
                 -((s / 23) % 3), -((s / 29) % 3))
      case 7 => (0L, 0L, -((s / 31) % 4), -((s / 37) % 4))
      case _ => (0L, 0L, 0L, 0L)
    }) match { case (a, b, c, d) => (a.toInt, b.toInt, c.toInt, d.toInt) }

  /** Seed-dependent P-picture forward vectors for the RESIDUAL fixture
    * (half-pel units), ranged so every luma/chroma reference read stays
    * inside the 64×32 picture and every motion code is |code| ≤ 3
    * absolute (each MC macroblock's predictor is freshly reset by the
    * preceding intra / pattern-only / skipped macroblock). */
  private[graft] def mpeg1PResVec(s: Long, mb: Int): (Int, Int) = (mb match {
    case 1 => (s % 5 - 2, (s / 3) % 3)
    case 3 => (-((s / 5) % 3), (s / 7) % 3)
    case 5 => (s % 3, -((s / 11) % 2))
    case _ => (0L, 0L)
  }) match { case (a, b) => (a.toInt, b.toInt) }

  /** BIG-MOTION twin of [[mpeg1PResVec]] (round 14): vectors whose
    * motion codes at f_code 1 span magnitudes 4–16, exercising the full
    * Table B.4 VLC (codes to magnitude 16 when (s/5)%5 = 4), still
    * in-bounds for luma AND halved-chroma reads at each macroblock's
    * position in the 64×32 frame, and inside the f_code 1 principal
    * range [−16, +15] (+16 would wrap; magnitude-16 CODES are exercised
    * through mb3's dx = −16). All three coded macroblocks sit next
    * to predictor resets, so the codes are absolute. */
  private[graft] def mpeg1PResVecBig(s: Long, mb: Int): (Int, Int) =
    (mb match {
      case 1 => (11 + s % 3, 13 + (s % 2) * 2)
      case 3 => (-(12 + (s / 5) % 5), 4 + (s / 7) % 4)
      case 5 => (8 + s % 5, -(12 + (s / 11) % 3))
      case _ => (0L, 0L)
    }) match { case (a, b) => (a.toInt, b.toInt) }

  /** Seed-dependent B-picture (forward, backward) vectors for the
    * residual fixture — absolute-coded (each MC macroblock's predictors
    * are freshly reset by a neighboring intra, or carried unchanged:
    * mb5 skip and mb6's zero motion codes both reuse mb4's). Ranged for
    * in-bounds luma/chroma reads against BOTH references. */
  private[graft] def mpeg1BResVec(s: Long, mb: Int): (Int, Int, Int, Int) =
    (mb match {
      case 1 => (s % 3 - 1, (s / 3) % 2, 0L, 0L)
      case 2 => (0L, 0L, -((s / 5) % 2), (s / 7) % 2)
      case 4 | 5 | 6 => (s % 2, -((s / 11) % 2), (s / 13) % 2, -((s / 17) % 2))
      case _ => (0L, 0L, 0L, 0L)
    }) match { case (a, b, c, d) => (a.toInt, b.toInt, c.toInt, d.toInt) }

  /** Seed-dependent B-picture (forward, backward) vectors for the
    * QUANT-form residual fixture — mb1 interp absolute, mb2 forward
    * carried from mb1 (zero motion codes), mb4 backward absolute, mb5
    * interp with absolute forward and mb4's backward carried, mb6
    * forward carried from mb5. Ranged for in-bounds luma/chroma reads
    * against both references at each macroblock's position. */
  private[graft] def mpeg1BQVec(s: Long, mb: Int): (Int, Int, Int, Int) =
    (mb match {
      case 1 | 2 => (s % 3 - 1, (s / 3) % 2, -((s / 5) % 2), (s / 7) % 2)
      case 4 => (0L, 0L, (s / 11) % 2, -((s / 13) % 2))
      case 5 | 6 => (s % 2, -((s / 17) % 2), (s / 11) % 2, -((s / 13) % 2))
      case _ => (0L, 0L, 0L, 0L)
    }) match { case (a, b, c, d) => (a.toInt, b.toInt, c.toInt, d.toInt) }

  /** Seed-dependent P-picture forward vectors for the MULTI-SLICE
    * fixture (half-pel units, in-bounds at each macroblock's edge
    * position, |differential code| ≤ 3 along the chains). */
  private[graft] def mpeg1SliceVec(s: Long, mb: Int): (Int, Int) = (mb match {
    case 1 => (s % 4 - 2, (s / 4) % 3)
    case 2 => ((s / 5) % 3 - 1, (s / 7) % 3)
    case 3 => (-((s / 11) % 3), (s / 13) % 3)
    case 4 => ((s / 17) % 3, -((s / 19) % 3))
    case 5 => ((s / 23) % 3 - 1, -((s / 29) % 2))
    case 7 => (-((s / 31) % 3), -((s / 37) % 2))
    case _ => (0L, 0L)
  }) match { case (a, b) => (a.toInt, b.toInt) }

  /** The encode half of the MULTI-SLICE round trip: a 64×32 MPEG-1
    * stream (mb rows of 4) whose I and P pictures each carry TWO slices
    * — 0x101 for macroblock row 0, 0x102 for row 1 (§2.4.2.4,
    * row-aligned slices). The slice-2 header resets the DC and
    * motion-vector predictors: the I picture's mb4 DC chain restarts
    * from 128, and the P picture's slice 1 deliberately leaves a
    * NONZERO forward predictor (mb1 abs → mb2/mb3 differential) so
    * mb4's motion codes are absolute ONLY because of the reset — a
    * decoder that fails to reset produces wrong pixels and fails the
    * oracle. All P macroblocks are prediction-only ('001') or intra.
    *
    * `midRow = true` (round 14) RE-SLICES the P picture without
    * changing any reconstructed value: slice 1 runs through mb5
    * (crossing the row boundary, mb4/mb5 now differential — same
    * reconstructed vectors), and slice 2 starts MID-ROW at mb6
    * (slice_vertical_position 2, first address increment 3 walking
    * from the reset address 3 onto mb6 over macroblocks the previous
    * slice owns). Decoded rows are IDENTICAL to the row-aligned
    * stream's by construction — the re-encode-equivalence oracle shape
    * — and a wrong first increment is a slice gap (refusal-tested). */
  def mpeg1SliceBytes(seed: Long, midRow: Boolean = false): Array[Byte] = {
    val width = 64; val height = 32
    val out = new BitWriter
    val s = seed
    mpeg1SequenceHeader(out, width, height)
    def putIntraMb(pic: Int, m: Int, pred: Array[Int]): Unit = {
      (0 until 6).foreach { b =>
        val comp = if (b < 4) 0 else b - 3
        val dcq = ((s * 7 + pic * 37 + m * 13 + b * 29) % 256).toInt
        val diff = dcq - pred(comp)
        pred(comp) = dcq
        val size =
          if (diff == 0) 0
          else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
        out.str(if (b < 4) DcLuma(size) else DcChroma(size))
        if (size > 0)
          out.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
        val ps = Seq(
          1 + ((s + m + b) % 4).toInt, 6 + ((s * 3 + m) % 6).toInt,
          15 + ((b * 5 + m) % 8).toInt, 30 + ((s + b * 7) % 10).toInt,
          50 + ((m * 3 + b) % 13).toInt)
        var prev = 0
        ps.foreach { p =>
          val l0 = ((s * 11 + pic * 41 + m * 17 + b * 23 + p * 31) % 21)
            .toInt - 10
          val level = if (l0 == 0) 1 else l0
          val run = p - prev - 1
          prev = p
          AcByRunLevel.get((run, math.abs(level))) match {
            case Some(code) =>
              out.str(code); out.bits(if (level < 0) 1 else 0, 1)
            case None =>
              out.str("000001"); out.bits(run, 6); out.bits(level & 0xff, 8)
          }
        }
        out.str("10")
      }
    }
    def mcode(v: Int): String = MotionCodes.find(_._2 == v).get._1
    // ---- I picture, two slices ----
    out.bits(0x00000100L, 32); out.bits(0, 10); out.bits(1, 3)
    out.bits(0xffff, 16); out.bits(0, 1)
    out.byteAlign()
    out.bits(0x00000101L, 32); out.bits(8, 5); out.bits(0, 1)
    val predI = Array(128, 128, 128)
    (0 until 4).foreach { m => out.str("1"); out.str("1"); putIntraMb(0, m, predI) }
    out.byteAlign()
    out.bits(0x00000102L, 32); out.bits(8, 5); out.bits(0, 1)
    predI(0) = 128; predI(1) = 128; predI(2) = 128 // slice reset
    (4 until 8).foreach { m => out.str("1"); out.str("1"); putIntraMb(0, m, predI) }
    out.byteAlign()
    // ---- P picture, two slices ----
    out.bits(0x00000100L, 32); out.bits(1, 10); out.bits(2, 3); out.bits(0xffff, 16)
    out.bits(0, 1); out.bits(1, 3)
    out.bits(0, 1)
    out.byteAlign()
    val v = (0 until 8).map(m => mpeg1SliceVec(s, m))
    out.bits(0x00000101L, 32); out.bits(8, 5); out.bits(0, 1)
    val predP = Array(128, 128, 128)
    // mb0 intra; mb1 MC abs; mb2/mb3 MC differential — leaves PMV = v3
    out.str("1"); out.str("00011"); putIntraMb(1, 0, predP)
    out.str("1"); out.str("001"); out.str(mcode(v(1)._1)); out.str(mcode(v(1)._2))
    out.str("1"); out.str("001")
    out.str(mcode(v(2)._1 - v(1)._1)); out.str(mcode(v(2)._2 - v(1)._2))
    out.str("1"); out.str("001")
    out.str(mcode(v(3)._1 - v(2)._1)); out.str(mcode(v(3)._2 - v(2)._2))
    if (midRow) {
      // slice 1 continues across the row boundary: mb4/mb5 carry the
      // SAME reconstructed vectors, now coded differentially
      out.str("1"); out.str("001")
      out.str(mcode(v(4)._1 - v(3)._1)); out.str(mcode(v(4)._2 - v(3)._2))
      out.str("1"); out.str("001")
      out.str(mcode(v(5)._1 - v(4)._1)); out.str(mcode(v(5)._2 - v(4)._2))
      out.byteAlign()
      // slice 2 starts MID-ROW at mb6: vertical position 2, first
      // increment 3 (reset address 2·4−1−... = 3 → 3+3 = mb6)
      out.bits(0x00000102L, 32); out.bits(8, 5); out.bits(0, 1)
      predP(0) = 128; predP(1) = 128; predP(2) = 128
      out.str("010") // first address increment = 3 (positioning)
      out.str("00011"); putIntraMb(1, 6, predP)
      out.str("1"); out.str("001")
      out.str(mcode(v(7)._1)); out.str(mcode(v(7)._2))
      out.byteAlign()
    } else {
      out.byteAlign()
      out.bits(0x00000102L, 32); out.bits(8, 5); out.bits(0, 1)
      predP(0) = 128; predP(1) = 128; predP(2) = 128
      // mb4 MC ABSOLUTE (slice reset zeroed the predictor); mb5
      // differential vs mb4; mb6 intra; mb7 MC absolute after the intra
      out.str("1"); out.str("001"); out.str(mcode(v(4)._1)); out.str(mcode(v(4)._2))
      out.str("1"); out.str("001")
      out.str(mcode(v(5)._1 - v(4)._1)); out.str(mcode(v(5)._2 - v(4)._2))
      out.str("1"); out.str("00011"); putIntraMb(1, 6, predP)
      out.str("1"); out.str("001"); out.str(mcode(v(7)._1)); out.str(mcode(v(7)._2))
      out.byteAlign()
    }
    out.bits(0x000001b7L, 32)
    out.toBytes
  }

  /** The encode half of the D-PICTURE round trip: a 64×32 MPEG-1 stream
    * of DC-only D pictures (picture_coding_type 4, §2.4.3.5) — the only
    * macroblock type is '1' (intra, Table B.2d), blocks carry just the
    * DC-differential chain (no AC codes, no EOB), every macroblock
    * closes with end_of_macroblock = 1, the picture header carries no
    * f_code fields, and D pictures never become references. */
  def mpeg1DBytes(seed: Long, nPictures: Int): Array[Byte] = {
    val width = 64; val height = 32
    val out = new BitWriter
    val s = seed
    mpeg1SequenceHeader(out, width, height)
    (0 until nPictures).foreach { pic =>
      out.bits(0x00000100L, 32); out.bits(pic, 10); out.bits(4, 3)
      out.bits(0xffff, 16)
      out.bits(0, 1) // extra_bit_picture (no f_code fields for D)
      out.byteAlign()
      out.bits(0x00000101L, 32); out.bits(8, 5); out.bits(0, 1)
      val pred = Array(128, 128, 128)
      (0 until 8).foreach { m =>
        out.str("1") // macroblock_address_increment 1
        out.str("1") // macroblock_type: intra (the only D type)
        (0 until 6).foreach { b =>
          val comp = if (b < 4) 0 else b - 3
          val dcq = ((s * 7 + pic * 37 + m * 13 + b * 29) % 256).toInt
          val diff = dcq - pred(comp)
          pred(comp) = dcq
          val size =
            if (diff == 0) 0
            else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
          out.str(if (b < 4) DcLuma(size) else DcChroma(size))
          if (size > 0)
            out.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
        }
        out.str("1") // end_of_macroblock
      }
      out.byteAlign()
    }
    out.bits(0x000001b7L, 32)
    out.toBytes
  }

  /** The encode half of the PREDICTION-ERROR (coded-residual) round
    * trip: a 64×32 MPEG-1 stream with one intra picture (same per-block
    * formulas as [[mpeg1IPBytes]]) followed by one P picture exercising
    * every supported P macroblock type including the coded path —
    * mb0 intra; mb1 MC+coded ('1'); mb2 pattern-only ('01', zero
    * vector); mb3 quant+MC+coded ('00010', qscale 8→4); mb4 skipped;
    * mb5 MC not-coded ('001'); mb6 quant+pattern-only ('00001',
    * re-emits 4); mb7 intra (decoded at the updated qscale). CBP per
    * coded macroblock is `1 + (seed·5 + mb·11) % 63` — across seeds
    * this walks a broad slice of Table B.3 (9-bit codes included), and
    * chroma-CBP bits emit real chroma residual blocks. Each coded block
    * carries 2–4 residual coefficients at closed-formula zigzag
    * positions/levels, so the stream decodes through every
    * dct_coeff_first/next path: the 1-bit run-0/±1 first form, plain
    * table codes, and the ESCAPE form. */
  def mpeg1PResidualBytes(seed: Long, withB: Boolean = false,
                          bQuant: Boolean = false,
                          fcode2: Boolean = false,
                          bigMotion: Boolean = false): Array[Byte] = {
    val width = 64; val height = 32
    val out = new BitWriter
    val s = seed
    mpeg1SequenceHeader(out, width, height)
    def putIntraMb(pic: Int, m: Int, pred: Array[Int]): Unit = {
      (0 until 6).foreach { b =>
        val comp = if (b < 4) 0 else b - 3
        val dcq = ((s * 7 + pic * 37 + m * 13 + b * 29) % 256).toInt
        val diff = dcq - pred(comp)
        pred(comp) = dcq
        val size =
          if (diff == 0) 0
          else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
        out.str(if (b < 4) DcLuma(size) else DcChroma(size))
        if (size > 0)
          out.bits(if (diff > 0) diff else diff + (1 << size) - 1, size)
        val ps = Seq(
          1 + ((s + m + b) % 4).toInt, 6 + ((s * 3 + m) % 6).toInt,
          15 + ((b * 5 + m) % 8).toInt, 30 + ((s + b * 7) % 10).toInt,
          50 + ((m * 3 + b) % 13).toInt)
        var prev = 0
        ps.foreach { p =>
          val l0 = ((s * 11 + pic * 41 + m * 17 + b * 23 + p * 31) % 21)
            .toInt - 10
          val level = if (l0 == 0) 1 else l0
          val run = p - prev - 1
          prev = p
          AcByRunLevel.get((run, math.abs(level))) match {
            case Some(code) =>
              out.str(code); out.bits(if (level < 0) 1 else 0, 1)
            case None =>
              out.str("000001"); out.bits(run, 6); out.bits(level & 0xff, 8)
          }
        }
        out.str("10")
      }
    }
    def putResidualBlock(m: Int, b: Int): Unit = {
      val n = 2 + ((s + m + b) % 3).toInt
      var prev = -1
      (0 until n).foreach { k =>
        val pos =
          if (k == 0) ((s + m + b) % 2).toInt
          else prev + 1 + ((s * 3 + b * 5 + k * 7) % 6).toInt
        val l0 = ((s * 7 + m * 3 + b * 11 + k * 13) % 19).toInt - 9
        val level = if (l0 == 0) 1 else l0
        val run = if (k == 0) pos else pos - prev - 1
        prev = pos
        if (k == 0 && run == 0 && math.abs(level) == 1) {
          out.str("1"); out.bits(if (level < 0) 1 else 0, 1) // dct_coeff_first
        } else {
          AcByRunLevel.get((run, math.abs(level))) match {
            case Some(code) =>
              out.str(code); out.bits(if (level < 0) 1 else 0, 1)
            case None =>
              out.str("000001"); out.bits(run, 6); out.bits(level & 0xff, 8)
          }
        }
      }
      out.str("10") // EOB
    }
    def cbpOf(m: Int): Int = (1 + ((s * 5 + m * 11) % 63)).toInt
    def putCodedBlocks(m: Int): Unit = {
      val cbp = cbpOf(m)
      out.str(CbpByValue(cbp))
      (0 until 6).foreach { b =>
        if ((cbp & (1 << (5 - b))) != 0) putResidualBlock(m, b)
      }
    }
    // ---- I picture ----
    out.bits(0x00000100L, 32); out.bits(0, 10); out.bits(1, 3)
    out.bits(0xffff, 16); out.bits(0, 1)
    out.byteAlign()
    out.bits(0x00000101L, 32); out.bits(8, 5); out.bits(0, 1)
    val predI = Array(128, 128, 128)
    (0 until 8).foreach { m => out.str("1"); out.str("1"); putIntraMb(0, m, predI) }
    out.byteAlign()
    // ---- P picture ----
    out.bits(0x00000100L, 32); out.bits(1, 10); out.bits(2, 3); out.bits(0xffff, 16)
    // full_pel 0; forward_f_code 1, or 2 in the fcode2 variant (every
    // nonzero motion code then carries one residual bit)
    out.bits(0, 1); out.bits(if (fcode2) 2 else 1, 3)
    out.bits(0, 1)
    out.byteAlign()
    out.bits(0x00000101L, 32); out.bits(8, 5); out.bits(0, 1)
    def mcode(v: Int): String = MotionCodes.find(_._2 == v).get._1
    // encode vector value v at the active f_code: f = 1 emits the code
    // directly; f = 2 emits (code, 1-bit residual) with
    // |v| = 1 + 2·(|code|−1) + r — the SAME decoded vector either way
    def putMv(v: Int): Unit =
      if (!fcode2 || v == 0) out.str(mcode(v))
      else {
        val a = math.abs(v)
        val code = (a - 1) / 2 + 1; val r = (a - 1) % 2
        out.str(mcode(if (v < 0) -code else code)); out.bits(r, 1)
      }
    def vecOf(m: Int): (Int, Int) =
      if (bigMotion) mpeg1PResVecBig(s, m) else mpeg1PResVec(s, m)
    val (w1x, w1y) = vecOf(1)
    val (w3x, w3y) = vecOf(3)
    val (w5x, w5y) = vecOf(5)
    val predP = Array(128, 128, 128)
    // mb0: intra (resets PMV and DC predictors)
    out.str("1"); out.str("00011"); putIntraMb(1, 0, predP)
    // mb1: MC + coded (PMV reset by intra → codes = w1)
    out.str("1"); out.str("1")
    putMv(w1x); putMv(w1y); putCodedBlocks(1)
    // mb2: pattern-only (zero vector; resets PMV)
    out.str("1"); out.str("01"); putCodedBlocks(2)
    // mb3: quant + MC + coded, qscale → 4 (PMV reset by mb2 → codes = w3)
    out.str("1"); out.str("00010"); out.bits(4, 5)
    putMv(w3x); putMv(w3y); putCodedBlocks(3)
    // mb4: skipped (mb5's increment is 2); mb5: MC not-coded (PMV reset
    // by the skip → codes = w5)
    out.str("011"); out.str("001"); putMv(w5x); putMv(w5y)
    // mb6: quant + pattern-only (re-emits qscale 4)
    out.str("1"); out.str("00001"); out.bits(4, 5); putCodedBlocks(6)
    // mb7: intra — DC predictors reset after the non-intra run; decoded
    // at the UPDATED qscale 4 (proves the decoder carries the new value)
    predP(0) = 128; predP(1) = 128; predP(2) = 128
    out.str("1"); out.str("00011"); putIntraMb(1, 7, predP)
    out.byteAlign()
    if (withB) {
      // ---- B picture: the three CODED Table-B.2c forms + the carry
      // ---- paths (display order between I and P: tempref 1); with
      // ---- bQuant, the three QUANT+coded forms instead ----
      out.bits(0x00000100L, 32); out.bits(1, 10); out.bits(3, 3)
      out.bits(0xffff, 16)
      out.bits(0, 1); out.bits(1, 3) // full_pel_fwd 0, forward_f_code 1
      out.bits(0, 1); out.bits(1, 3) // full_pel_bwd 0, backward_f_code 1
      out.bits(0, 1)
      out.byteAlign()
      out.bits(0x00000101L, 32); out.bits(8, 5); out.bits(0, 1)
      if (bQuant) {
        // mb0 intra; mb1 quant+interp+coded '00010' (qscale→4, absolute
        // vectors after the intra reset); mb2 quant+forward+coded
        // '000011' (qscale→6, zero forward codes CARRY mb1's forward);
        // mb3 intra decoded at the updated qscale 6; mb4
        // quant+backward+coded '000010' (qscale→4, absolute after mb3's
        // reset); mb5 interp+coded '11' at the CARRIED qscale 4
        // (absolute forward, zero backward codes carry mb4's); mb6
        // forward not-coded '0010' with zero codes (carries mb5's
        // forward); mb7 intra at qscale 4. Residual/cbp formulas use
        // m+16 so the blocks differ from both the P and plain-B slices.
        val predQ = Array(128, 128, 128)
        val (f1x, f1y, b1x, b1y) = mpeg1BQVec(s, 1)
        val (_, _, b4x, b4y) = mpeg1BQVec(s, 4)
        val (f5x, f5y, _, _) = mpeg1BQVec(s, 5)
        out.str("1"); out.str("00011"); putIntraMb(2, 0, predQ)
        out.str("1"); out.str("00010"); out.bits(4, 5)
        out.str(mcode(f1x)); out.str(mcode(f1y))
        out.str(mcode(b1x)); out.str(mcode(b1y))
        putCodedBlocks(17)
        out.str("1"); out.str("000011"); out.bits(6, 5)
        out.str(mcode(0)); out.str(mcode(0)); putCodedBlocks(18)
        predQ(0) = 128; predQ(1) = 128; predQ(2) = 128
        out.str("1"); out.str("00011"); putIntraMb(2, 3, predQ)
        out.str("1"); out.str("000010"); out.bits(4, 5)
        out.str(mcode(b4x)); out.str(mcode(b4y)); putCodedBlocks(20)
        out.str("1"); out.str("11")
        out.str(mcode(f5x)); out.str(mcode(f5y))
        out.str(mcode(0)); out.str(mcode(0))
        putCodedBlocks(21)
        out.str("1"); out.str("0010"); out.str(mcode(0)); out.str(mcode(0))
        predQ(0) = 128; predQ(1) = 128; predQ(2) = 128
        out.str("1"); out.str("00011"); putIntraMb(2, 7, predQ)
        out.byteAlign()
        out.bits(0x000001b7L, 32)
        return out.toBytes
      }
      val predB = Array(128, 128, 128)
      val (f1x, f1y, _, _) = mpeg1BResVec(s, 1)
      val (_, _, b2x, b2y) = mpeg1BResVec(s, 2)
      val (f4x, f4y, b4x, b4y) = mpeg1BResVec(s, 4)
      // mb0: intra (resets both PMVs and DC predictors)
      out.str("1"); out.str("00011"); putIntraMb(2, 0, predB)
      // mb1: forward CODED '0011' (PMVs reset → codes absolute).
      // Residual/cbp formulas use m+8 so B blocks differ from P's.
      out.str("1"); out.str("0011"); out.str(mcode(f1x)); out.str(mcode(f1y))
      putCodedBlocks(9)
      // mb2: backward CODED '011' (bwd PMV still 0 → absolute)
      out.str("1"); out.str("011"); out.str(mcode(b2x)); out.str(mcode(b2y))
      putCodedBlocks(10)
      // mb3: intra (resets both PMVs)
      predB(0) = 128; predB(1) = 128; predB(2) = 128
      out.str("1"); out.str("00011"); putIntraMb(2, 3, predB)
      // mb4: interpolated CODED '11' (PMVs reset → absolute)
      out.str("1"); out.str("11")
      out.str(mcode(f4x)); out.str(mcode(f4y))
      out.str(mcode(b4x)); out.str(mcode(b4y))
      putCodedBlocks(12)
      // mb5: skipped — repeats mb4's interp mode with unchanged
      // vectors and NO residual (skipped macroblocks are
      // prediction-only even after a coded one); mb6: forward
      // not-coded with zero motion codes — the forward predictor
      // CARRIES mb4's vector across the skip
      out.str("011"); out.str("0010"); out.str(mcode(0)); out.str(mcode(0))
      // mb7: intra
      predB(0) = 128; predB(1) = 128; predB(2) = 128
      out.str("1"); out.str("00011"); putIntraMb(2, 7, predB)
      out.byteAlign()
    }
    out.bits(0x000001b7L, 32)
    out.toBytes
  }

  /** A minimal real MP4: ftyp + moov(mvhd + one video trak [+ one audio
    * trak]) + mdat filler. Box sizes, fixed-point dims, and sample-entry
    * fourccs are genuine ISO BMFF; `v1 = true` writes version-1
    * mvhd/tkhd (64-bit times) and a largesize (`size == 1`) mdat so both
    * length paths are exercised. The mdat payload is deterministic
    * filler (metadata fixture, not playable samples). */
  def mp4Bytes(durationUnits: Long, timescale: Int, width: Int, height: Int,
               codec: String, withAudio: Boolean, v1: Boolean,
               mdatLen: Int = 32): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def u32(v: Long): Unit = { u16((v >> 16).toInt); u16(v.toInt) }
    def u64(v: Long): Unit = { u32(v >>> 32); u32(v & 0xffffffffL) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def box(typ: String)(body: => Unit): Unit = {
      val mark = out.size()
      u32(0); tag(typ); body
      val arr = out.toByteArray // patch the length in place
      val sz = arr.length - mark
      arr(mark) = (sz >> 24).toByte; arr(mark + 1) = (sz >> 16).toByte
      arr(mark + 2) = (sz >> 8).toByte; arr(mark + 3) = sz.toByte
      out.reset(); out.write(arr, 0, arr.length)
    }
    def fullbox(typ: String, version: Int)(body: => Unit): Unit =
      box(typ) { u8(version); u8(0); u16(0); body }
    def trak(handler: String, fmt: String, w: Int, h: Int): Unit =
      box("trak") {
        fullbox("tkhd", if (v1) 1 else 0) {
          if (v1) { u64(0); u64(0); u32(1); u32(0); u64(durationUnits) }
          else { u32(0); u32(0); u32(1); u32(0); u32(durationUnits) }
          u64(0) // reserved
          u16(0); u16(0); u16(0); u16(0) // layer/group/volume/reserved
          Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(m => u32(m.toLong))
          u32(w.toLong << 16); u32(h.toLong << 16) // 16.16 fixed
        }
        box("mdia") {
          fullbox("mdhd", 0) {
            u32(0); u32(0); u32(timescale.toLong); u32(durationUnits)
            u16(0x55c4); u16(0) // language "und"
          }
          fullbox("hdlr", 0) {
            u32(0); tag(handler); u32(0); u32(0); u32(0); u8(0)
          }
          box("minf") {
            box("stbl") {
              fullbox("stsd", 0) {
                u32(1) // entry_count
                box(fmt) { u32(0); u16(0); u16(1) } // reserved + data_ref_idx
              }
            }
          }
        }
      }
    box("ftyp") { tag("isom"); u32(0x200); tag("mp42") }
    box("moov") {
      fullbox("mvhd", if (v1) 1 else 0) {
        if (v1) { u64(0); u64(0); u32(timescale.toLong); u64(durationUnits) }
        else { u32(0); u32(0); u32(timescale.toLong); u32(durationUnits) }
        u32(0x10000); u16(0x100); u16(0); u64(0) // rate/volume/reserved
        Seq(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000).foreach(m => u32(m.toLong))
        (0 until 6).foreach(_ => u32(0)) // pre_defined
        u32(if (withAudio) 3 else 2)     // next_track_ID
      }
      trak("vide", codec, width, height)
      if (withAudio) trak("soun", "mp4a", 0, 0)
    }
    if (v1) { // largesize mdat: size==1 + 64-bit length
      u32(1); tag("mdat"); u64(16L + mdatLen)
      (0 until mdatLen).foreach(i => u8(i * 7))
    } else box("mdat") { (0 until mdatLen).foreach(i => u8(i * 7)) }
    out.toByteArray
  }

  /** A minimal real AVI: RIFF/AVI with LIST hdrl (avih + one strl per
    * stream with strh) and LIST movi filler. Chunk sizes and the
    * MainAVIHeader field layout are genuine; frame data is filler. */
  def aviBytes(usPerFrame: Int, totalFrames: Int, width: Int, height: Int,
               withAudio: Boolean, moviLen: Int = 32,
               frames: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def le32b(v: Int): Unit = { u8(v); u8(v >> 8); u8(v >> 16); u8(v >> 24) }
    def tag(s: String): Unit = out.write(s.getBytes("US-ASCII"))
    def chunk(t: String)(body: => Unit): Unit = {
      val mark = out.size()
      tag(t); le32b(0); body
      val arr = out.toByteArray
      val sz = arr.length - mark - 8
      arr(mark + 4) = sz.toByte; arr(mark + 5) = (sz >> 8).toByte
      arr(mark + 6) = (sz >> 16).toByte; arr(mark + 7) = (sz >> 24).toByte
      out.reset(); out.write(arr, 0, arr.length)
      if ((sz & 1) == 1) u8(0) // WORD alignment pad
    }
    def list(kind: String)(body: => Unit): Unit =
      chunk("LIST") { tag(kind); body }
    def strl(fccType: String, fccHandler: String, scale: Int, rate: Int): Unit =
      list("strl") {
        chunk("strh") {
          tag(fccType); tag(fccHandler)
          le32b(0); le32b(0); le32b(0)       // flags/prio+lang/initialframes
          le32b(scale); le32b(rate)          // dwScale / dwRate
          le32b(0); le32b(totalFrames)       // start / length
          le32b(0); le32b(0); le32b(0); le32b(0)
        }
      }
    chunk("RIFF") {
      tag("AVI ")
      list("hdrl") {
        chunk("avih") {
          le32b(usPerFrame); le32b(0); le32b(0); le32b(0)
          le32b(totalFrames); le32b(0)
          le32b(if (withAudio) 2 else 1); le32b(0)
          le32b(width); le32b(height)
          le32b(0); le32b(0); le32b(0); le32b(0)
        }
        strl("vids", "mjpg", 1, 1000000 / math.max(usPerFrame, 1))
        if (withAudio) strl("auds", "araw", 1, 16000)
      }
      list("movi") {
        if (frames.nonEmpty)
          frames.foreach(f => chunk("00dc") { out.write(f, 0, f.length) })
        else (0 until moviLen).foreach(i => u8(i * 13))
      }
    }
    out.toByteArray
  }

  /** REAL AVI frame extraction (the `movi` face [[aviMeta]] deliberately
    * skips): walk the RIFF tree to `LIST movi` and return every video
    * frame chunk payload (`##dc` compressed / `##db` uncompressed, and
    * frames nested in `LIST rec ` groups) in stream order, honoring WORD
    * alignment. This is the demux half of video decode; pair each
    * returned payload with the matching still-image codec (e.g.
    * [[jpegChannelStats]] for an MJPG `vids` stream). */
  def aviFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (bytes.length < 12 || fourcc(bytes, 0) != "RIFF" ||
        fourcc(bytes, 8) != "AVI ") return Nil
    val frames = Seq.newBuilder[Array[Byte]]
    def isVideoChunk(tag: String): Boolean =
      tag.length == 4 && tag(0).isDigit && tag(1).isDigit &&
        (tag.endsWith("dc") || tag.endsWith("db"))
    def walk(from: Int, to: Int, inMovi: Boolean): Boolean = {
      var p = from
      var ok = true
      while (ok && p + 8 <= to) {
        val tag = fourcc(bytes, p)
        val size = le32(bytes, p + 4)
        if (size < 0 || p + 8 + size > to) ok = false
        else {
          if (tag == "LIST" && size >= 4) {
            val kind = fourcc(bytes, p + 8)
            if (kind == "movi") ok = walk(p + 12, p + 8 + size, inMovi = true)
            else if (inMovi && kind == "rec ")
              ok = walk(p + 12, p + 8 + size, inMovi = true)
          } else if (inMovi && isVideoChunk(tag))
            frames += java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + size)
          p += 8 + size + (size & 1) // RIFF chunks are WORD-aligned
        }
      }
      ok
    }
    if (!walk(12, bytes.length, inMovi = false)) Nil else frames.result()
  }

  /** MJPEG video decode = [[aviFrames]] demux ∘ [[jpegChannelStats]] still
    * decode: per extracted frame, the full baseline-JPEG pipeline (marker
    * walk, Huffman, dequant, IDCT) and its luma statistics. Frames whose
    * payload is not a decodable baseline JPEG are dropped — the honest
    * partial-decode contract ([[AudioMeta]]-style). */
  def mjpegFrameStats(bytes: Array[Byte])
      : Seq[(Int, ImageMeta, Long, Array[Double], Array[Double])] =
    aviFrames(bytes).zipWithIndex.flatMap { case (f, i) =>
      jpegChannelStats(f).map { case (meta, n, sums, sqs) =>
        (i, meta, n, sums, sqs)
      }
    }

  /** Deterministic synthetic media table (id, kind, media BINARY, meta).
    * Image rows carry a REAL parseable BMP container (64×64×3 header +
    * digest-derived pixel payload); audio rows a REAL canonical WAV header
    * (16 kHz mono 16-bit PCM + digest 'samples'); video stays opaque
    * digest bytes. Every kind is exactly `bytesPerRow` long. */
  def syntheticMedia(spark: SparkSession, n: Int, bytesPerRow: Int = 256): DataFrame = {
    val bmpHdr = bmpBytes(64, 64, Array.empty)
    val wavHdr = wavBytes(16000, 1, 16, Array.empty,
                          declaredLen = bytesPerRow - 44)
    val payload = substring(
      to_binary(repeat(sha2(col("media_id").cast("string"), 256),
                       bytesPerRow / 16), lit("hex")),
      1, bytesPerRow)
    spark.range(n).toDF("media_id")
      .withColumn("kind",
        element_at(array(lit("image"), lit("audio"), lit("video")),
                   (col("media_id") % 3 + 1).cast("int")))
      .select(
        col("media_id"), col("kind"),
        when(col("kind") === "image",
             concat(lit(bmpHdr), substring(payload, 1, bytesPerRow - bmpHdr.length)))
          .when(col("kind") === "audio",
             concat(lit(wavHdr), substring(payload, 1, bytesPerRow - wavHdr.length)))
          .otherwise(payload).as("media"),
        lit(64).as("width"), lit(64).as("height"), lit(16000).as("sample_rate"))
  }

  /** Decode + feature extraction over partition-local batches. Container
    * metadata is REAL: width/height/channels for PNG/BMP via [[imageMeta]],
    * sample_rate/channels for WAV via [[audioMeta]]; −1 for unrecognized
    * containers. Features:
    *  - BMP and PNG rows: REAL pixel statistics via [[bmpChannelStats]] /
    *    [[pngChannelStats]] (the latter a full JDK-Inflater zlib decode +
    *    scanline unfilter) — [mean_c per channel, mean-square_c per
    *    channel, decoded-pixel fraction, 0-padding] truncated/padded to
    *    `dim` (24bpp BMP is BGR so f0 is the blue mean; PNG truecolor is
    *    RGB so f0 is the red mean);
    *  - PCM WAV rows: REAL sample statistics via [[wavSampleStats]] —
    *    [mean, mean-square, peak, zero-crossing rate, decoded-sample
    *    fraction, 0-padding];
    *  - MPEG-1 Layer I/II rows: REAL subband-sample statistics via
    *    [[mpegSubbandStats]] — [mean, mean-square, peak, decoded fill
    *    fraction, 0-padding];
    *  - MPEG-1 video I-frame rows: REAL intra entropy decode via
    *    [[mpeg1IFrameDecode]] — [mean luma DC, mean chroma DC, AC
    *    density, mean |AC|, 0-padding];
    *  - everything else (Layer III/AAC, video, unknown containers): the
    *    declared STUB — `dim` deterministic byte-derived moments, so
    *    downstream operators (dedup, ANN) are exercised end-to-end
    *    either way. */
  def decodeFeatures(media: Dataset[MediaRow], dim: Int = 8): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // one 'codec init' per partition happens here
      rows.map { r =>
        val bytes = r.media
        val imeta = imageMeta(bytes)
        // WAV header, else real MP3 frame-header metadata (payload decode
        // for MP3 stays the stub path below).
        val mpeg = mpegSubbandStats(bytes)
        val ameta = audioMeta(bytes).orElse(mpeg.map(_._1))
          .orElse(mp3Meta(bytes).map(_._1))
        val pixelStats = bmpChannelStats(bytes).orElse(pngChannelStats(bytes))
          .orElse(jpegChannelStats(bytes)).orElse(gifChannelStats(bytes))
        val feats = (pixelStats, wavSampleStats(bytes)) match {
          case (Some((meta, n, sums, sqs)), _) if n > 0 =>
            val ch = meta.channels
            Array.tabulate(dim) { i =>
              if (i < ch) sums(i) / n
              else if (i < 2 * ch) sqs(i - ch) / n
              else if (i == 2 * ch)
                n.toDouble / (meta.width.toLong * meta.height)
              else 0.0
            }
          case (_, Some((meta, n, mean, meanSq, peak, crossings))) if n > 0 =>
            Array.tabulate(dim) {
              case 0 => mean
              case 1 => meanSq
              case 2 => peak
              case 3 => crossings.toDouble / math.max(1L, n - 1)
              case 4 => n.toDouble / math.max(1L, meta.nFrames.toLong * meta.channels)
              case _ => 0.0
            }
          case _ => mpeg match {
            // REAL MPEG-1 Layer I/II subband stats (was the stub path):
            // [mean, mean-square, peak, decoded fill fraction, 0-pad].
            case Some((_, n, mean, meanSq, peak, fill)) if n > 0 =>
              Array.tabulate(dim) {
                case 0 => mean
                case 1 => meanSq
                case 2 => peak
                case 3 => fill
                case _ => 0.0
              }
            case _ => layer3DecodeFull(bytes) match {
              // REAL MP3 Layer III chain (was the stub path): time-domain
              // subband stats from reservoir + requant + IMDCT —
              // [sample mean, sample mean-square, peak subband energy,
              // fraction of subbands carrying energy].
              case Some((_, _, subs, _)) if subs.nonEmpty =>
                val n = subs.size * 18L
                val sum = subs.map(_.sSum).sum
                val sq = subs.map(_.sMsq).sum
                Array.tabulate(dim) {
                  case 0 => sum / n
                  case 1 => sq / n
                  case 2 => subs.map(_.sMsq / 18.0).max
                  case 3 => subs.count(_.sMsq != 0.0).toDouble / subs.size
                  case _ => 0.0
                }
              case _ => mpeg1IFrameDecode(bytes) match {
              // REAL MPEG-1 video intra-frame stats (was the stub path):
              // [mean luma DC (brightness, /2048 normalized), mean
              // chroma DC, AC density (nonzero per 63), mean |AC|].
              case Some((_, blocks)) if blocks.nonEmpty =>
                val luma = blocks.filter(_.blk < 4)
                val chroma = blocks.filter(_.blk >= 4)
                val nAcTot = blocks.map(_.nAc.toLong).sum
                Array.tabulate(dim) {
                  case 0 => luma.map(_.dcF.toDouble).sum /
                    math.max(1, luma.size) / 2048.0
                  case 1 => chroma.map(_.dcF.toDouble).sum /
                    math.max(1, chroma.size) / 2048.0
                  case 2 => nAcTot.toDouble / (blocks.size * 63L)
                  case 3 => blocks.map(_.acSum.abs.toDouble).sum /
                    math.max(1L, nAcTot)
                  case _ => 0.0
                }
              case _ => mpeg1IPDecode(bytes) match {
                // REAL MPEG-1 motion-compensated I→P decode (was the
                // stub path): [mean luma, mean-square luma (both /255-
                // normalized), fraction of P macroblocks that are
                // motion-compensated, mean |vector| over MC macroblocks].
                case Some((_, mbs)) if mbs.nonEmpty =>
                  val n = mbs.size * 256L
                  val p = mbs.filter(_.pic > 0)
                  val mcMbs = p.filter(_.kind == 1)
                  Array.tabulate(dim) {
                    case 0 => mbs.map(_.ySum).sum.toDouble / n / 255.0
                    case 1 => mbs.map(_.ySqSum).sum.toDouble / n / 65025.0
                    case 2 =>
                      if (p.isEmpty) 0.0
                      else mcMbs.size.toDouble / p.size
                    case 3 =>
                      if (mcMbs.isEmpty) 0.0
                      else mcMbs.map(r => (r.dx.abs + r.dy.abs).toDouble)
                        .sum / mcMbs.size
                    case _ => 0.0
                  }
                case _ =>
                  Array.tabulate(dim) { i =>
                    if (bytes.isEmpty) 0.0
                    else {
                      var acc = 0.0
                      var j = i
                      while (j < bytes.length) {
                        acc += (bytes(j) & 0xFF) / 255.0; j += dim
                      }
                      acc / math.max(1, (bytes.length + dim - 1 - i) / dim)
                    }
                  }
                }
              }
            }
          }
        }
        MediaFeatures(r.media_id, r.kind, bytes.length.toLong,
                      imeta.map(_.width).getOrElse(-1),
                      imeta.map(_.height).getOrElse(-1),
                      imeta.map(_.channels)
                        .orElse(ameta.map(_.channels)).getOrElse(-1),
                      ameta.map(_.sampleRate).getOrElse(-1),
                      feats.toSeq)
      }
    }
  }

  // ---- REAL PNG codec (JDK-only: java.util.zip Deflater/Inflater/CRC32) --

  /** Adam7 interlace passes (RFC 2083 §2.6): (x0, y0, dx, dy). The
    * non-interlaced layout is the single pass (0, 0, 1, 1). */
  private val Adam7: Array[(Int, Int, Int, Int)] = Array(
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
  private val NoInterlace: Array[(Int, Int, Int, Int)] = Array((0, 0, 1, 1))

  /** Build a real, spec-conformant PNG (RFC 2083): signature, IHDR, one
    * IDAT with zlib-compressed filtered scanlines, IEND — all chunk CRCs
    * genuine. `pixels` is the raw row-major channel-interleaved byte
    * stream (length = width × height × channels); `filterOf` picks the
    * per-row filter type 0–4 (None/Sub/Up/Average/Paeth) by a running row
    * counter, letting tests and corpora exercise every decode path. With
    * `interlaced`, the scanline stream is the Adam7 pass sequence — each
    * pass its own reduced image, filtered against pass-local neighbors
    * (§2.6/§6.2). Bit depth 8; channels 1 (grey), 3 (RGB), 4 (RGBA). */
  def pngBytes(width: Int, height: Int, channels: Int,
               pixels: Array[Byte], filterOf: Int => Int = _ => 0,
               interlaced: Boolean = false): Array[Byte] = {
    require(pixels.length == width * height * channels, "pixel stream size")
    val colorType = channels match {
      case 1 => 0
      case 3 => 2
      case 4 => 6
      case c => throw new IllegalArgumentException(s"channels $c")
    }
    pngEncode(width, height, colorType, 8, channels, pixels, filterOf,
              interlaced, None)
  }

  /** Build a real PALETTE-indexed PNG (color type 3): PLTE chunk with the
    * grey identity palette, 8-bit index scanlines. */
  def pngBytesPalette(width: Int, height: Int, indices: Array[Byte],
                      filterOf: Int => Int = _ => 0,
                      interlaced: Boolean = false): Array[Byte] = {
    require(indices.length == width * height, "index stream size")
    val plte = new Array[Byte](768)
    (0 until 256).foreach { i =>
      plte(3 * i) = i.toByte; plte(3 * i + 1) = i.toByte
      plte(3 * i + 2) = i.toByte
    }
    pngEncode(width, height, 3, 8, 1, indices, filterOf, interlaced,
              Some(plte))
  }

  /** Build a real 16-BIT-depth PNG: big-endian samples, filters over the
    * byte stream with the spec's bpp (= 2·channels) left distance. */
  def pngBytes16(width: Int, height: Int, channels: Int,
                 samples: Array[Int], filterOf: Int => Int = _ => 0,
                 interlaced: Boolean = false): Array[Byte] = {
    require(samples.length == width * height * channels, "sample count")
    val colorType = channels match {
      case 1 => 0
      case 3 => 2
      case 4 => 6
      case c => throw new IllegalArgumentException(s"channels $c")
    }
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      raw(2 * i) = ((samples(i) >> 8) & 0xff).toByte
      raw(2 * i + 1) = (samples(i) & 0xff).toByte
      i += 1
    }
    pngEncode(width, height, colorType, 16, channels * 2, raw, filterOf,
              interlaced, None)
  }

  /** Shared PNG encoder core: `pixelBytes` is the raw byte image (bpp
    * bytes per pixel, row-major); filtering runs per pass over bytes with
    * the spec's bpp left distance (RFC 2083 §6.2 — for 16-bit images the
    * filters operate on BYTES, not samples). */
  private def pngEncode(width: Int, height: Int, colorType: Int, depth: Int,
                        bpp: Int, pixelBytes: Array[Byte],
                        filterOf: Int => Int, interlaced: Boolean,
                        plte: Option[Array[Byte]]): Array[Byte] = {
    val stride = width * bpp
    val passes = if (interlaced) Adam7 else NoInterlace
    val rawB = new java.io.ByteArrayOutputStream()
    var rowCounter = 0
    passes.foreach { case (x0, y0, dx, dy) =>
      val wP = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val hP = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (wP > 0 && hP > 0) {
        val strideP = wP * bpp
        val cur = new Array[Int](strideP); val up = new Array[Int](strideP)
        var r = 0
        while (r < hP) {
          var j = 0
          while (j < strideP) {
            cur(j) = pixelBytes((y0 + r * dy) * stride +
                                (x0 + (j / bpp) * dx) * bpp + j % bpp) & 0xff
            j += 1
          }
          val ft = filterOf(rowCounter); rowCounter += 1
          rawB.write(ft)
          var i = 0
          while (i < strideP) {
            val x = cur(i)
            val a = if (i >= bpp) cur(i - bpp) else 0 // left
            val b = if (r > 0) up(i) else 0           // up
            val c = if (r > 0 && i >= bpp) up(i - bpp) else 0
            val f = ft match {
              case 0 => x
              case 1 => x - a
              case 2 => x - b
              case 3 => x - (a + b) / 2
              case 4 => // Paeth predictor (RFC 2083 §6.6)
                val p = a + b - c
                val pa = math.abs(p - a); val pb = math.abs(p - b)
                val pc = math.abs(p - c)
                val pred =
                  if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
                x - pred
              case t => throw new IllegalArgumentException(s"filter $t")
            }
            rawB.write(f & 0xff)
            i += 1
          }
          System.arraycopy(cur, 0, up, 0, strideP)
          r += 1
        }
      }
    }
    val raw = rawB.toByteArray
    // zlib-compress the scanline stream.
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    val out = new java.io.ByteArrayOutputStream()
    while (!deflater.finished())
      out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val idat = out.toByteArray
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      val tb = tag.getBytes("US-ASCII")
      crc.update(tb); crc.update(body)
      val len = body.length
      Array((len >> 24).toByte, (len >> 16).toByte, (len >> 8).toByte,
            len.toByte) ++ tb ++ body ++ {
        val v = crc.getValue
        Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
      }
    }
    val ihdr = Array((width >> 24).toByte, (width >> 16).toByte,
      (width >> 8).toByte, width.toByte, (height >> 24).toByte,
      (height >> 16).toByte, (height >> 8).toByte, height.toByte,
      depth.toByte, colorType.toByte, 0.toByte, 0.toByte,
      (if (interlaced) 1 else 0).toByte)
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
      chunk("IHDR", ihdr) ++
      plte.map(p => chunk("PLTE", p)).getOrElse(Array.empty[Byte]) ++
      chunk("IDAT", idat) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** REAL PNG pixel decode — walks the chunk stream (multiple IDATs
    * concatenate per the spec; ancillary chunks skipped), inflates the
    * zlib scanline stream with the JDK Inflater, reverses the per-row
    * filter (all five types), and returns the same per-channel statistics
    * shape as [[bmpChannelStats]]: (meta, nPixels, perChannelSum,
    * perChannelSumSq) with bytes scaled to [0,1]. A truncated or
    * corrupt IDAT decodes the complete rows that survive inflation —
    * partial-tail honesty like the BMP path. Adam7-interlaced streams
    * decode for real: the inflated stream is walked as the 7-pass
    * sequence of reduced images, each unfiltered against pass-local
    * neighbors (RFC 2083 §2.6). PALETTE images (color type 3) decode
    * through their PLTE chunk to 3-channel stats; 16-BIT depth decodes
    * big-endian sample pairs with the spec's byte-level filtering
    * (bpp = 2·channels left distance). Chunk CRCs are not re-verified
    * (decode-what's-there policy; the builder writes real CRCs). None
    * for non-PNG containers or unsupported layouts (depths 1/2/4,
    * 16-bit palette). */
  def pngChannelStats(bytes: Array[Byte])
      : Option[(ImageMeta, Long, Array[Double], Array[Double])] =
    imageMeta(bytes) match {
      case Some(meta) if meta.format == "png" &&
          (bytes(24) == 8 || bytes(24) == 16) &&
          !(bytes(25) == 3 && bytes(24) != 8) && (bytes(28) & 0xff) <= 1 =>
        val depth = bytes(24) & 0xff
        val isPalette = bytes(25) == 3
        // Concatenate IDAT chunk bodies; pick up PLTE for palette images.
        val idat = new java.io.ByteArrayOutputStream()
        var pal: Array[Int] = null
        var off = 33 // after signature + IHDR chunk
        var halted = false
        while (!halted && off + 8 <= bytes.length) {
          val len = be32(bytes, off)
          val tag = new String(bytes.slice(off + 4, off + 8), "US-ASCII")
          if (tag == "IEND" || len < 0) halted = true
          else {
            if (tag == "IDAT") {
              val end = math.min(bytes.length.toLong, off + 8L + len).toInt
              if (end > off + 8) idat.write(bytes, off + 8, end - (off + 8))
            } else if (tag == "PLTE" && off + 8 + len <= bytes.length) {
              pal = Array.tabulate(len / 3)(i =>
                ((bytes(off + 8 + 3 * i) & 0xff) << 16) |
                  ((bytes(off + 8 + 3 * i + 1) & 0xff) << 8) |
                  (bytes(off + 8 + 3 * i + 2) & 0xff))
            }
            off += 12 + len // len + tag + body + crc
          }
        }
        if (isPalette && pal == null) return None
        val ch = meta.channels // 1 for palette (index plane)
        val bpp = ch * depth / 8 // filter left-distance in BYTES (§6.2)
        val statCh = if (isPalette) 3 else ch
        val passes = if (bytes(28) == 1) Adam7 else NoInterlace
        // Pass geometry; total expected inflated size spans all passes.
        val passDims = passes.map { case (x0, y0, dx, dy) =>
          val wP = if (meta.width > x0) (meta.width - x0 + dx - 1) / dx else 0
          val hP = if (meta.height > y0) (meta.height - y0 + dy - 1) / dy
                   else 0
          (wP, hP)
        }
        val expect = passDims.map { case (wP, hP) =>
          if (wP > 0 && hP > 0) hP * (wP * bpp + 1) else 0
        }.sum
        val raw = new Array[Byte](expect)
        val inflater = new java.util.zip.Inflater()
        inflater.setInput(idat.toByteArray)
        var got = 0
        try {
          var n = -1
          while (got < expect && !inflater.finished() && n != 0) {
            n = inflater.inflate(raw, got, expect - got)
            got += n
          }
        } catch { case _: java.util.zip.DataFormatException => () }
        finally inflater.end()
        // Unfilter pass by pass (each pass is its own reduced image whose
        // rows reference pass-local neighbors); complete rows only.
        // Sample extraction by layout: 8-bit direct, palette→PLTE RGB,
        // 16-bit big-endian pairs (/65535).
        val sums = new Array[Double](statCh)
        val sqs = new Array[Double](statCh)
        var nPix = 0L
        var base = 0
        var trunc = false
        passDims.foreach { case (wP, hP) =>
          if (wP > 0 && hP > 0 && !trunc) {
            val strideP = wP * bpp
            var r = 0
            while (r < hP && base + strideP + 1 <= got) {
              val ft = raw(base) & 0xff
              var i = 0
              while (i < strideP) {
                val f = raw(base + 1 + i) & 0xff
                val a = if (i >= bpp) raw(base + 1 + i - bpp) & 0xff else 0
                val b = if (r > 0) raw(base - strideP + i) & 0xff else 0
                val c = if (r > 0 && i >= bpp)
                          raw(base - strideP + i - bpp) & 0xff
                        else 0
                val x = ft match {
                  case 0 => f
                  case 1 => f + a
                  case 2 => f + b
                  case 3 => f + (a + b) / 2
                  case 4 =>
                    val p = a + b - c
                    val pa = math.abs(p - a); val pb = math.abs(p - b)
                    val pc = math.abs(p - c)
                    f + (if (pa <= pb && pa <= pc) a
                         else if (pb <= pc) b else c)
                  case _ => f // unknown filter: pass through, stay honest
                }
                raw(base + 1 + i) = x.toByte
                if (depth == 8) {
                  if (isPalette) {
                    if ((x & 0xff) < pal.length) {
                      val rgb = pal(x & 0xff)
                      var cc = 0
                      while (cc < 3) {
                        val v = ((rgb >> (16 - 8 * cc)) & 0xff) / 255.0
                        sums(cc) += v; sqs(cc) += v * v; cc += 1
                      }
                    }
                  } else {
                    val v = (x & 0xff) / 255.0
                    sums(i % ch) += v; sqs(i % ch) += v * v
                  }
                } else if (i % 2 == 1) { // 16-bit: sample completes here
                  val s16 = ((raw(base + i) & 0xff) << 8) | (x & 0xff)
                  val v = s16 / 65535.0
                  sums((i / 2) % ch) += v; sqs((i / 2) % ch) += v * v
                }
                i += 1
              }
              nPix += wP
              base += strideP + 1
              r += 1
            }
            // a truncated pass must stop the walk: later (narrower)
            // passes would misread the remaining bytes as their own rows
            if (r < hP) trunc = true
          }
        }
        Some((if (isPalette) meta.copy(channels = 3) else meta,
              nPix, sums, sqs))
      case _ => None
    }

  // ---- REAL baseline JPEG codec (dependency-free, ITU T.81) ------------

  /** Standard Annex K luminance Huffman tables (ITU T.81, public spec):
    * (BITS counts per code length 1..16, HUFFVAL symbol list). */
  private val JpegDcBits =
    Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val JpegDcVals = Array(0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11)
  private val JpegAcBits =
    Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val JpegAcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3,
    0xa4, 0xa5, 0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4,
    0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa)

  /** JPEG magnitude category: the bit length of |v| (T.81 F.1.2.1). */
  private def jpegCat(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** An entropy-coded segment of the JPEG encoders: Huffman codes and
    * magnitude bits in a [[BitWriter]], written out at each restart
    * marker and scan end padded with 1 bits to a byte boundary, every
    * 0xFF byte followed by a stuffed 0x00 (T.81 F.1.2.3, B.1.1.5). */
  private final class JpegEntropyWriter(out: java.io.ByteArrayOutputStream) {
    private var seg = new BitWriter
    /** One raw bit, as a DC refinement scan sends it. */
    def bit(v: Int): Unit = seg.bits(v, 1)
    def coded(codes: Map[Int, (Int, Int)], sym: Int): Unit = {
      val (c, l) = codes(sym); seg.bits(c, l)
    }
    /** `v` in `t` bits; a negative value as v − 1 in the low bits (the
      * 'extend' convention of T.81 F.1.2.1). */
    def magnitude(v: Int, t: Int): Unit =
      if (t > 0) seg.bits((if (v < 0) v - 1 else v) & ((1 << t) - 1), t)
    def flush(): Unit = {
      seg.bits(0xff, ((8 - (seg.pos & 7)) & 7).toInt)
      seg.toBytes.foreach { b => out.write(b); if (b == -1) out.write(0) }
      seg = new BitWriter
    }
  }

  /** Canonical Huffman code assignment (T.81 Annex C): symbol → (code, len). */
  private def huffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = scala.collection.mutable.Map.empty[Int, (Int, Int)]
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len)) {
        out(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out.toMap
  }

  /** Build a real baseline-sequential GRAYSCALE JPEG (SOI, DQT, SOF0, DHT,
    * SOS, EOI; standard Annex K luminance Huffman tables; quantization
    * table all-1s) whose pixels are CONSTANT per 8×8 block —
    * `blockVals(by * (width/8) + bx)` in [0, 255]. A constant block has a
    * DC-only DCT (DC = 8·(v−128), every AC zero), so with q=1 the lossy
    * pipeline is EXACT for these images: encode → Huffman-decode →
    * dequantize → IDCT reproduces every pixel bit-for-bit, letting a
    * closed-form oracle check a genuine entropy-coded JPEG. Width and
    * height must be multiples of 8. */
  def jpegBytes(width: Int, height: Int, blockVals: Array[Int]): Array[Byte] =
    jpegBytesFromCoefs(width, height, blockVals.map { v =>
      val c = new Array[Int](64); c(0) = 8 * (v - 128); c
    })

  /** Build a baseline grayscale JPEG from per-block QUANTIZED coefficient
    * arrays in ZIGZAG order (index 0 = DC, q=1 table): DC differences, AC
    * run-length with ZRL and EOB, Annex K Huffman tables, byte stuffing.
    * Lets specs exercise the decoder's AC paths with exactly-known
    * coefficients. */
  def jpegBytesFromCoefs(width: Int, height: Int,
                         blocks: Array[Array[Int]]): Array[Byte] =
    jpegBytesInterleaved(width, height, blocks.map(Array(_)))

  /** 1x1-sampled entropy encoder behind [[jpegBytes]] /
    * [[jpegBytesFromCoefs]]: `mcus(m)(c)` is the zigzag-order quantized
    * coefficient block of component `c` in MCU `m` — one component is a
    * grayscale stream, three is the interleaved YCbCr 4:4:4 layout.
    * Delegates to [[jpegBytesSampled]] with all-1x1 sampling. */
  def jpegBytesInterleaved(width: Int, height: Int,
                           mcus: Array[Array[Array[Int]]],
                           restartInterval: Int = 0): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0, "dims must be multiples of 8")
    require(mcus.length == (width / 8) * (height / 8),
            "one MCU per 8x8 block position")
    jpegBytesSampled(width, height,
      Array.fill(mcus(0).length)((1, 1)), mcus.map(_.map(Array(_))),
      restartInterval)
  }

  /** The fully general baseline entropy encoder: per-component sampling
    * factors (h, v) per T.81 A.1.1 — `mcus(m)(c)(k)` is the k-th
    * zigzag-order quantized block of component `c` in MCU `m`, k in
    * raster order over the component's v×h block grid within the MCU
    * (so 4:2:0 YCbCr is sampling = [(2,2),(1,1),(1,1)] with 4 Y + 1 Cb +
    * 1 Cr blocks per 16×16-pixel MCU). The MCU grid covers
    * ceil(width / 8Hmax) × ceil(height / 8Vmax); callers supply the edge
    * padding blocks (their values are arbitrary but participate in DC
    * prediction, exactly as the spec requires). Shared q=1 quant table,
    * Annex K Huffman, per-component DC predictors, byte stuffing,
    * restart intervals. */
  def jpegBytesSampled(width: Int, height: Int,
                       sampling: Array[(Int, Int)],
                       mcus: Array[Array[Array[Array[Int]]]],
                       restartInterval: Int = 0): Array[Byte] = {
    val nComp = sampling.length
    require(nComp == 1 || nComp == 3, s"1 or 3 components, got $nComp")
    val hMax = sampling.map(_._1).max; val vMax = sampling.map(_._2).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    require(mcus.length == mcusX * mcusY,
            s"need ${mcusX * mcusY} MCUs, got ${mcus.length}")
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8) // SOI
    marker(0xdb); u16(2 + 1 + 64); u8(0) // DQT: 8-bit table 0
    (0 until 64).foreach(_ => u8(1))     // all-1 quantization
    marker(0xc0); u16(2 + 6 + 3 * nComp); u8(8) // SOF0: 8-bit precision
    u16(height); u16(width); u8(nComp)
    (1 to nComp).foreach { c =>
      val (hc, vc) = sampling(c - 1)
      u8(c); u8((hc << 4) | vc); u8(0) // id c, (h,v) sampling, qtable 0
    }
    def dht(tc: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length); u8(tc)
      (1 to 16).foreach(l => u8(bits(l))); vals.foreach(u8)
    }
    dht(0x00, JpegDcBits, JpegDcVals) // DC table 0
    dht(0x10, JpegAcBits, JpegAcVals) // AC table 0
    if (restartInterval > 0) { marker(0xdd); u16(4); u16(restartInterval) }
    marker(0xda); u16(2 + 1 + 2 * nComp + 3); u8(nComp) // SOS
    (1 to nComp).foreach { c => u8(c); u8(0x00) } // all use DC 0 / AC 0
    u8(0); u8(63); u8(0) // Ss, Se, Ah/Al
    // Entropy-coded segment: per block DC diff (category + bits) then EOB.
    val dcC = huffCodes(JpegDcBits, JpegDcVals)
    val acC = huffCodes(JpegAcBits, JpegAcVals)
    val ent = new JpegEntropyWriter(out)
    val prevDc = new Array[Int](nComp)
    var rstSeq = 0
    mcus.zipWithIndex.foreach { case (mcu, m) =>
      if (restartInterval > 0 && m > 0 && m % restartInterval == 0) {
        // Pad to the byte boundary with 1s, emit RSTn, reset predictors.
        ent.flush()
        u8(0xff); u8(0xd0 + rstSeq)
        rstSeq = (rstSeq + 1) % 8
        java.util.Arrays.fill(prevDc, 0)
      }
      var c = 0
      while (c < nComp) {
        val (hc, vc) = sampling(c)
        require(mcu(c).length == hc * vc,
                s"component $c needs ${hc * vc} blocks per MCU")
        var k = 0
        while (k < hc * vc) {
          val coefs = mcu(c)(k)
          val diff = coefs(0) - prevDc(c)
          prevDc(c) = coefs(0)
          val t = jpegCat(diff)
          ent.coded(dcC, t); ent.magnitude(diff, t)
          // AC run-length coding over zigzag indices 1..63
          val lastNz = (63 to 1 by -1).find(coefs(_) != 0).getOrElse(0)
          var run = 0
          var z = 1
          while (z <= lastNz) {
            if (coefs(z) == 0) run += 1
            else {
              while (run >= 16) { ent.coded(acC, 0xf0); run -= 16 } // ZRL
              val s = jpegCat(coefs(z))
              ent.coded(acC, (run << 4) | s); ent.magnitude(coefs(z), s)
              run = 0
            }
            z += 1
          }
          if (lastNz < 63) ent.coded(acC, 0x00) // EOB
          k += 1
        }
        c += 1
      }
    }
    ent.flush()
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** Build a real PROGRESSIVE JPEG (SOF2, T.81 Annex G, Huffman coding):
    * `comps(c)(blockIdx)(zigzagPos)` are full-resolution quantized blocks
    * (q=1, 1x1 sampling, raster block order). Scan script: one
    * interleaved DC first scan at successive-approximation Al=1, per-
    * component spectral-selection AC scans for bands 1–5 and 6–63 (with
    * genuine end-of-band run coding — Annex K tables carry only EOB0, so
    * runs are per-block), and a final interleaved DC refinement scan
    * (Ah=1→Al=0, one raw bit per block). Together with [[jpegDecode]]'s
    * progressive path this round-trips bit-exactly against the baseline
    * encoding of the same coefficients. */
  def jpegBytesProgressive(width: Int, height: Int,
                           comps: Array[Array[Array[Int]]]): Array[Byte] = {
    require(width % 8 == 0 && height % 8 == 0, "dims must be multiples of 8")
    val nComp = comps.length
    require(nComp == 1 || nComp == 3, s"1 or 3 components, got $nComp")
    val (bw, bh) = (width / 8, height / 8)
    require(comps.forall(_.length == bw * bh), "one block per position")
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    def marker(m: Int): Unit = { u8(0xff); u8(m) }
    marker(0xd8) // SOI
    marker(0xdb); u16(2 + 1 + 64); u8(0)
    (0 until 64).foreach(_ => u8(1)) // q=1 table 0
    marker(0xc2); u16(2 + 6 + 3 * nComp); u8(8) // SOF2 progressive
    u16(height); u16(width); u8(nComp)
    (1 to nComp).foreach { c => u8(c); u8(0x11); u8(0) }
    def dht(tc: Int, bits: Array[Int], vals: Array[Int]): Unit = {
      marker(0xc4); u16(2 + 1 + 16 + vals.length); u8(tc)
      (1 to 16).foreach(l => u8(bits(l))); vals.foreach(u8)
    }
    dht(0x00, JpegDcBits, JpegDcVals)
    dht(0x10, JpegAcBits, JpegAcVals)
    val dcC = huffCodes(JpegDcBits, JpegDcVals)
    val acC = huffCodes(JpegAcBits, JpegAcVals)
    val ent = new JpegEntropyWriter(out)
    def sosHeader(sel: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit = {
      marker(0xda); u16(2 + 1 + 2 * sel.length + 3); u8(sel.length)
      sel.foreach { c => u8(c + 1); u8(0x00) }
      u8(ss); u8(se); u8((ah << 4) | al)
    }
    // Scan 1: interleaved DC first, Al=1 — diffs of the point-transformed
    // DC (arithmetic shift; two's complement makes refinement exact).
    sosHeader(0 until nComp, 0, 0, 0, 1)
    locally {
      val prevDc = new Array[Int](nComp)
      var b = 0
      while (b < bw * bh) {
        var c = 0
        while (c < nComp) {
          val dc1 = comps(c)(b)(0) >> 1
          val diff = dc1 - prevDc(c); prevDc(c) = dc1
          val t = jpegCat(diff); ent.coded(dcC, t); ent.magnitude(diff, t)
          c += 1
        }
        b += 1
      }
      ent.flush()
    }
    // Scans 2..: per-component spectral-selection AC bands, Al=0.
    for (c <- 0 until nComp; band <- Seq((1, 5), (6, 63))) {
      val (ss, se) = band
      sosHeader(Seq(c), ss, se, 0, 0)
      var b = 0
      while (b < bw * bh) {
        val coefs = comps(c)(b)
        val lastNz = (se to ss by -1).find(coefs(_) != 0).getOrElse(ss - 1)
        var run = 0; var k = ss
        while (k <= lastNz) {
          if (coefs(k) == 0) run += 1
          else {
            while (run >= 16) { ent.coded(acC, 0xf0); run -= 16 } // ZRL
            val s = jpegCat(coefs(k))
            ent.coded(acC, (run << 4) | s); ent.magnitude(coefs(k), s)
            run = 0
          }
          k += 1
        }
        if (lastNz < se) ent.coded(acC, 0x00) // EOB0: end-of-band run of 1
        b += 1
      }
      ent.flush()
    }
    // Final scan: interleaved DC refinement Ah=1→Al=0, one raw bit/block.
    sosHeader(0 until nComp, 0, 0, 1, 0)
    locally {
      var b = 0
      while (b < bw * bh) {
        var c = 0
        while (c < nComp) { ent.bit(comps(c)(b)(0) & 1); c += 1 }
        b += 1
      }
      ent.flush()
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  /** REAL baseline JPEG pixel decode — full marker walk (DQT incl. 16-bit
    * tables, SOF0, DHT, DRI, skip-unknown), Huffman entropy decode with
    * byte-unstuffing and restart markers, de-zigzag, dequantization,
    * double-precision IDCT (T.81 A.3.3), level shift + clamp. Handles any
    * baseline stream with sampling factors 1..4 per component (grayscale,
    * YCbCr 4:4:4 / 4:2:2 / 4:2:0, interleaved MCU with v×h blocks per
    * component per A.1.1/A.2.3); per-component statistics are computed
    * over each component's OWN subsampled plane, WITHOUT color conversion
    * or chroma upsampling (component 0 = Y/grey — what quality screens
    * threshold on; nPixels counts the Y plane). PROGRESSIVE (SOF2) frames
    * decode for real too — multi-scan coefficient accumulation with
    * spectral selection, successive approximation (DC and AC refinement
    * scans), and end-of-band run coding per T.81 Annex G. Arithmetic-
    * coded and hierarchical streams return None (the honest stub path).
    * Same shape as [[bmpChannelStats]]: (meta, nPixels, perCompSum,
    * perCompSumSq). */
  def jpegChannelStats(bytes: Array[Byte])
      : Option[(ImageMeta, Long, Array[Double], Array[Double])] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xff) != 0xd8) return None
    try jpegDecode(bytes) catch { case _: Exception => None }
  }

  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** 8×8 double-precision IDCT (T.81 A.3.3) of dequantized NATURAL-order
    * coefficients into level-shifted (+128) pixel values. */
  private def idct8x8(dq: Array[Double], pix: Array[Double]): Unit = {
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            val cu = if (u == 0) 0.70710678118654752 else 1.0
            val cv = if (v == 0) 0.70710678118654752 else 1.0
            s += cu * cv * dq(v * 8 + u) *
              math.cos((2 * x + 1) * u * math.Pi / 16) *
              math.cos((2 * y + 1) * v * math.Pi / 16)
            v += 1
          }
          u += 1
        }
        pix(y * 8 + x) = s / 4 + 128
        x += 1
      }
      y += 1
    }
  }

  // Huffman tables: (class 0=DC/1=AC, id) → decode arrays (T.81 F.2.2.3)
  private final case class Huff(maxcode: Array[Int], mincode: Array[Int],
                                valptr: Array[Int], vals: Array[Int])
  private def buildHuff(bits: Array[Int], vals: Array[Int]): Huff = {
    val mincode = new Array[Int](17); val maxcode = new Array[Int](17)
    val valptr = new Array[Int](17)
    var code = 0; var k = 0
    var l = 1
    while (l <= 16) {
      valptr(l) = k; mincode(l) = code
      code += bits(l); k += bits(l)
      maxcode(l) = code - 1
      code <<= 1
      l += 1
    }
    (1 to 16).foreach(l => if (bits(l) == 0) maxcode(l) = -1)
    Huff(maxcode, mincode, valptr, vals)
  }

  private def extendCoef(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  /** Entropy-segment bit reader with byte unstuffing; stops feeding at any
    * true marker. One instance per scan (progressive frames have many). */
  private final class JpegBits(bytes: Array[Byte], var p: Int) {
    private var bitBuf = 0; private var nBits = 0
    private def fill(): Boolean = {
      while (nBits <= 24 && p < bytes.length) {
        val b = bytes(p) & 0xff
        if (b == 0xff) {
          val nx = if (p + 1 < bytes.length) bytes(p + 1) & 0xff else 0xd9
          if (nx == 0x00) p += 2 // stuffed data byte
          else return nBits > 0  // RSTn / EOI / other marker: stop
        } else p += 1
        bitBuf = (bitBuf << 8) | b; nBits += 8
      }
      nBits > 0
    }
    def getBit(): Int = {
      if (nBits == 0 && !fill()) return -1
      if (nBits == 0) return -1
      nBits -= 1
      (bitBuf >> nBits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val b = getBit(); if (b < 0) return v << (n - i)
        v = (v << 1) | b; i += 1
      }
      v
    }
    def decodeSym(h: Huff): Int = {
      var code = getBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16) {
        if (h.maxcode(l) >= 0 && code <= h.maxcode(l) &&
            code >= h.mincode(l))
          return h.vals(h.valptr(l) + code - h.mincode(l))
        val b = getBit(); if (b < 0) return -1
        code = (code << 1) | b
        l += 1
      }
      -1
    }
    /** Discard buffered padding, scan to and consume the next RSTn. */
    def restartResync(): Unit = {
      bitBuf = 0; nBits = 0
      var scanning = true
      while (scanning && p + 1 < bytes.length) {
        val b = bytes(p) & 0xff
        if (b == 0xff) {
          val nx = bytes(p + 1) & 0xff
          if (nx == 0x00) p += 2
          else { if (nx >= 0xd0 && nx <= 0xd7) p += 2; scanning = false }
        } else p += 1
      }
    }
    /** Offset of the next true marker (skipping stuffing and RSTn). */
    def skipToMarker(): Int = {
      var q = p
      var found = -1
      while (found < 0 && q + 1 < bytes.length) {
        if ((bytes(q) & 0xff) == 0xff) {
          val nx = bytes(q + 1) & 0xff
          if (nx == 0xff) q += 1 // fill byte
          else if (nx == 0x00 || (nx >= 0xd0 && nx <= 0xd7)) q += 2
          else found = q
        } else q += 1
      }
      if (found < 0) bytes.length else found
    }
  }

  private def jpegDecode(bytes: Array[Byte])
      : Option[(ImageMeta, Long, Array[Double], Array[Double])] = {
    val quant = Array.fill(4)(new Array[Int](64))
    val huffs = scala.collection.mutable.Map.empty[(Int, Int), Huff]
    var width = 0; var height = 0; var nComp = 0
    var compQ: Array[Int] = null // per-component quant table id
    var compH: Array[Int] = null; var compV: Array[Int] = null // sampling
    var compId: Array[Int] = null // SOF-declared component identifiers
    var restartInterval = 0
    // Progressive (SOF2) state: zigzag-order coefficients accumulated
    // across scans on the frame-level padded block grids.
    var progressive = false
    var sawScan = false
    var fHMax = 1; var fVMax = 1; var fMcusX = 0; var fMcusY = 0
    var fCw: Array[Int] = null; var fCh: Array[Int] = null
    var fBwFull: Array[Int] = null
    var coefStore: Array[Array[Array[Int]]] = null
    var dcPred: Array[Int] = null
    // Finalize a progressive frame: dequantize + IDCT every in-bounds
    // block of every component plane from the accumulated coefficients.
    def finishProgressive()
        : Option[(ImageMeta, Long, Array[Double], Array[Double])] = {
      if (!sawScan) return None
      val sums = new Array[Double](nComp); val sqs = new Array[Double](nComp)
      var nPix = 0L
      val dq = new Array[Double](64); val pix = new Array[Double](64)
      var c = 0
      while (c < nComp) {
        val q = quant(compQ(c))
        val bwV = (fCw(c) + 7) / 8; val bhV = (fCh(c) + 7) / 8
        var by = 0
        while (by < bhV) {
          var bx = 0
          while (bx < bwV) {
            val coefZ = coefStore(c)(by * fBwFull(c) + bx)
            var z = 0
            while (z < 64) { dq(Zigzag(z)) = coefZ(z).toDouble * q(z); z += 1 }
            idct8x8(dq, pix)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                if (bx * 8 + xx < fCw(c) && by * 8 + yy < fCh(c)) {
                  val vv = math.max(0.0, math.min(255.0,
                    math.rint(pix(yy * 8 + xx)))) / 255.0
                  sums(c) += vv; sqs(c) += vv * vv
                  if (c == 0) nPix += 1
                }
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      Some((ImageMeta(width, height, nComp, "jpeg"), nPix, sums, sqs))
    }
    var off = 2
    while (off + 4 <= bytes.length) {
      if ((bytes(off) & 0xff) != 0xff) return None
      // Skip T.81 B.1.1.2 fill bytes (repeated 0xFF) before the marker code.
      while (off + 4 <= bytes.length && (bytes(off + 1) & 0xff) == 0xff)
        off += 1
      val m = bytes(off + 1) & 0xff
      if (m == 0xd9) // EOI: progressive frames finalize here
        return if (progressive) finishProgressive() else None
      val len = ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      val seg = off + 4
      var nextOff = -1 // progressive SOS sets this past its entropy data
      m match {
        case 0xda if progressive => // progressive scan (T.81 Annex G)
          if (width <= 0 || height <= 0 || nComp <= 0 || coefStore == null)
            return None
          val ns = bytes(seg) & 0xff
          val cIdx = new Array[Int](ns)
          val cDc = new Array[Int](ns); val cAc = new Array[Int](ns)
          var i = 0
          while (i < ns) {
            val cid = bytes(seg + 1 + 2 * i) & 0xff
            val t = bytes(seg + 2 + 2 * i) & 0xff
            val fi = (0 until nComp).indexWhere(compId(_) == cid)
            if (fi < 0) return None
            cIdx(i) = fi; cDc(i) = (t >> 4) & 0xf; cAc(i) = t & 0xf
            i += 1
          }
          val ss = bytes(seg + 1 + 2 * ns) & 0xff
          val se = bytes(seg + 2 + 2 * ns) & 0xff
          val ah = (bytes(seg + 3 + 2 * ns) & 0xf0) >> 4
          val al = bytes(seg + 3 + 2 * ns) & 0x0f
          if (se > 63 || se < ss) return None
          if (ss > 0 && ns != 1) return None // AC scans: one component (G.1.1.1.1)
          if (ss == 0 && se != 0) return None // progressive DC scans have Se=0
          val br = new JpegBits(bytes, seg + 1 + 2 * ns + 3)
          var eobrun = 0
          var truncated = false
          java.util.Arrays.fill(dcPred, 0)
          if (ss == 0) {
            val hdcArr = Array.tabulate(ns)(i2 =>
              huffs.getOrElse((0, cDc(i2)), null))
            if (ah == 0 && hdcArr.exists(_ == null)) return None
            // First scan codes diffs of (DC >> Al) (G.1.2.1); refinement
            // appends one raw bit per block at position Al (G.1.2.1).
            def dcUnit(ci: Int, c: Int, idx: Int): Boolean = {
              val coefZ = coefStore(c)(idx)
              if (ah == 0) {
                val t = br.decodeSym(hdcArr(ci))
                if (t < 0) return false
                dcPred(c) += extendCoef(br.receive(t), t)
                coefZ(0) = dcPred(c) << al
              } else {
                val b = br.getBit(); if (b < 0) return false
                if (b == 1) coefZ(0) |= (1 << al)
              }
              true
            }
            if (ns > 1 && ns != nComp) return None // partial interleave: decline
            if (ns > 1) { // interleaved DC scan over the frame MCU grid
              val nMcu = fMcusX * fMcusY
              var mcu = 0
              while (mcu < nMcu && !truncated) {
                if (restartInterval > 0 && mcu > 0 &&
                    mcu % restartInterval == 0) {
                  br.restartResync(); java.util.Arrays.fill(dcPred, 0)
                }
                var ci = 0
                while (ci < ns && !truncated) {
                  val c = cIdx(ci)
                  var blk = 0
                  while (blk < compH(c) * compV(c) && !truncated) {
                    val bx = (mcu % fMcusX) * compH(c) + blk % compH(c)
                    val by = (mcu / fMcusX) * compV(c) + blk / compH(c)
                    truncated = !dcUnit(ci, c, by * fBwFull(c) + bx)
                    blk += 1
                  }
                  ci += 1
                }
                mcu += 1
              }
            } else { // single-component DC scan: non-interleaved plane grid
              val c = cIdx(0)
              val bwV = (fCw(c) + 7) / 8; val bhV = (fCh(c) + 7) / 8
              var u = 0
              while (u < bwV * bhV && !truncated) {
                if (restartInterval > 0 && u > 0 && u % restartInterval == 0) {
                  br.restartResync(); java.util.Arrays.fill(dcPred, 0)
                }
                truncated = !dcUnit(0, c, (u / bwV) * fBwFull(c) + (u % bwV))
                u += 1
              }
            }
          } else {
            // AC scan over one component's non-interleaved plane grid.
            val c = cIdx(0)
            val hac = huffs.getOrElse((1, cAc(0)), null)
            if (hac == null) return None
            // G.1.2.2: first AC scan — band coefficients at magnitude
            // (value << Al) with end-of-band run coding (EOBn symbols).
            def acFirst(coefZ: Array[Int]): Boolean = {
              if (eobrun > 0) { eobrun -= 1; return true }
              var k = ss
              while (k <= se) {
                val rs = br.decodeSym(hac)
                if (rs < 0) return false
                val r = rs >> 4; val s2 = rs & 0xf
                if (s2 == 0) {
                  if (r == 15) k += 16 // ZRL
                  else {
                    eobrun = (1 << r) - 1
                    if (r > 0) eobrun += br.receive(r)
                    return true
                  }
                } else {
                  k += r
                  if (k > se) return true // corrupt run: tolerate
                  coefZ(k) = extendCoef(br.receive(s2), s2) << al
                  k += 1
                }
              }
              true
            }
            // G.1.2.3: AC refinement — correction bits for already-nonzero
            // coefficients, ±(1 << Al) insertions for newly-nonzero ones.
            def acRefine(coefZ: Array[Int]): Boolean = {
              val p1 = 1 << al; val m1 = -1 << al
              var k = ss
              if (eobrun == 0) {
                var done = false
                while (k <= se && !done) {
                  val rs = br.decodeSym(hac)
                  if (rs < 0) return false
                  var r = rs >> 4; val s2 = rs & 0xf
                  var newval = 0
                  if (s2 == 0) {
                    if (r < 15) {
                      eobrun = 1 << r
                      if (r > 0) eobrun += br.receive(r)
                      done = true
                    } // r == 15: span of 16 zero-history coefficients
                  } else {
                    val b = br.getBit(); if (b < 0) return false
                    newval = if (b == 1) p1 else m1
                  }
                  if (!done) {
                    var placed = false
                    while (k <= se && !placed) {
                      if (coefZ(k) != 0) {
                        val b = br.getBit(); if (b < 0) return false
                        if (b == 1 && (coefZ(k) & p1) == 0)
                          coefZ(k) += (if (coefZ(k) >= 0) p1 else m1)
                      } else {
                        if (r == 0) {
                          if (newval != 0) coefZ(k) = newval
                          placed = true
                        } else r -= 1
                      }
                      k += 1
                    }
                  }
                }
              }
              if (eobrun > 0) {
                while (k <= se) {
                  if (coefZ(k) != 0) {
                    val b = br.getBit(); if (b < 0) return false
                    if (b == 1 && (coefZ(k) & p1) == 0)
                      coefZ(k) += (if (coefZ(k) >= 0) p1 else m1)
                  }
                  k += 1
                }
                eobrun -= 1
              }
              true
            }
            val bwV = (fCw(c) + 7) / 8; val bhV = (fCh(c) + 7) / 8
            var u = 0
            while (u < bwV * bhV && !truncated) {
              if (restartInterval > 0 && u > 0 && u % restartInterval == 0) {
                br.restartResync(); eobrun = 0
              }
              val coefZ = coefStore(c)((u / bwV) * fBwFull(c) + (u % bwV))
              truncated = !(if (ah == 0) acFirst(coefZ) else acRefine(coefZ))
              u += 1
            }
          }
          sawScan = true
          nextOff = br.skipToMarker()
        case 0xdb => // DQT: one or more tables
          var p = seg
          while (p < seg + len - 2) {
            val pq = (bytes(p) & 0xf0) >> 4; val tq = bytes(p) & 0x0f
            p += 1
            var i = 0
            while (i < 64) {
              quant(tq)(i) =
                if (pq == 0) bytes(p + i) & 0xff
                else ((bytes(p + 2 * i) & 0xff) << 8) | (bytes(p + 2 * i + 1) & 0xff)
              i += 1
            }
            p += (if (pq == 0) 64 else 128)
          }
        case 0xc4 => // DHT: one or more tables
          var p = seg
          while (p < seg + len - 2) {
            val tc = (bytes(p) & 0xf0) >> 4; val th = bytes(p) & 0x0f
            val bits = new Array[Int](17)
            var total = 0
            (1 to 16).foreach { l =>
              bits(l) = bytes(p + l) & 0xff; total += bits(l)
            }
            val vals = Array.tabulate(total)(i => bytes(p + 17 + i) & 0xff)
            huffs((tc, th)) = buildHuff(bits, vals)
            p += 17 + total
          }
        case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
          progressive = m == 0xc2
          height = ((bytes(seg + 1) & 0xff) << 8) | (bytes(seg + 2) & 0xff)
          width = ((bytes(seg + 3) & 0xff) << 8) | (bytes(seg + 4) & 0xff)
          nComp = bytes(seg + 5) & 0xff
          compQ = new Array[Int](nComp)
          compH = new Array[Int](nComp); compV = new Array[Int](nComp)
          compId = new Array[Int](nComp)
          var i = 0
          while (i < nComp) {
            compId(i) = bytes(seg + 6 + 3 * i) & 0xff
            val samp = bytes(seg + 6 + 3 * i + 1) & 0xff
            compH(i) = (samp >> 4) & 0x0f; compV(i) = samp & 0x0f
            if (compH(i) < 1 || compH(i) > 4 || compV(i) < 1 || compV(i) > 4)
              return None // T.81 B.2.2: sampling factors 1..4
            compQ(i) = bytes(seg + 6 + 3 * i + 2) & 0xff
            i += 1
          }
          // T.81 B.2.3: at most 10 blocks per interleaved MCU
          if (nComp > 1 &&
              (0 until nComp).map(i => compH(i) * compV(i)).sum > 10)
            return None
          if (progressive) {
            // Frame-level geometry: padded per-component block grids the
            // scans address (A.1.1); coefficients accumulate across scans.
            fHMax = (0 until nComp).map(compH(_)).max
            fVMax = (0 until nComp).map(compV(_)).max
            fMcusX = (width + 8 * fHMax - 1) / (8 * fHMax)
            fMcusY = (height + 8 * fVMax - 1) / (8 * fVMax)
            fCw = Array.tabulate(nComp)(i =>
              (width * compH(i) + fHMax - 1) / fHMax)
            fCh = Array.tabulate(nComp)(i =>
              (height * compV(i) + fVMax - 1) / fVMax)
            fBwFull = Array.tabulate(nComp)(i => fMcusX * compH(i))
            coefStore = Array.tabulate(nComp)(i =>
              Array.fill(fBwFull(i) * fMcusY * compV(i))(new Array[Int](64)))
            dcPred = new Array[Int](nComp)
          }
        case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          return None // non-baseline/progressive-Huffman frame: honest stub
        case 0xdd => // DRI
          restartInterval = ((bytes(seg) & 0xff) << 8) | (bytes(seg + 1) & 0xff)
        case 0xda => // SOS — entropy-coded data follows
          if (width <= 0 || height <= 0 || nComp <= 0) return None
          val ns = bytes(seg) & 0xff
          if (ns != nComp) return None
          val compTables = Array.tabulate(ns) { i =>
            val t = bytes(seg + 2 + 2 * i) & 0xff
            ((t & 0xf0) >> 4, t & 0x0f) // (DC id, AC id)
          }
          var p = seg + 1 + 2 * ns + 3 // start of entropy data
          // Bit reader with unstuffing; stops feeding at ANY marker
          // (incl. RSTn — consumed only by the explicit restart resync
          // below, never mid-symbol).
          var bitBuf = 0; var nBits = 0
          def fill(): Boolean = {
            while (nBits <= 24 && p < bytes.length) {
              val b = bytes(p) & 0xff
              if (b == 0xff) {
                val nx = if (p + 1 < bytes.length) bytes(p + 1) & 0xff else 0xd9
                if (nx == 0x00) p += 2 // stuffed data byte
                else return nBits > 0  // RSTn / EOI / other marker: stop
              } else p += 1
              bitBuf = (bitBuf << 8) | b; nBits += 8
            }
            nBits > 0
          }
          def getBit(): Int = {
            if (nBits == 0 && !fill()) return -1
            if (nBits == 0) return -1
            nBits -= 1
            (bitBuf >> nBits) & 1
          }
          def receive(n: Int): Int = {
            var v = 0; var i = 0
            while (i < n) {
              val b = getBit(); if (b < 0) return v << (n - i)
              v = (v << 1) | b; i += 1
            }
            v
          }
          def extend(v: Int, t: Int): Int =
            if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v
          def decodeSym(h: Huff): Int = {
            var code = getBit()
            if (code < 0) return -1
            var l = 1
            while (l <= 16) {
              if (h.maxcode(l) >= 0 && code <= h.maxcode(l) &&
                  code >= h.mincode(l))
                return h.vals(h.valptr(l) + code - h.mincode(l))
              val b = getBit(); if (b < 0) return -1
              code = (code << 1) | b
              l += 1
            }
            -1
          }
          // Effective per-scan sampling: a single-component scan is
          // non-interleaved (T.81 A.2.2) — one 8×8 block per MCU over the
          // full-size plane regardless of declared factors; a multi-
          // component scan interleaves v×h blocks per component, MCU grid
          // ceil(width / 8Hmax) × ceil(height / 8Vmax), component planes
          // ceil(width·h/Hmax) × ceil(height·v/Vmax) (A.1.1).
          val hs = Array.tabulate(ns)(i => if (ns == 1) 1 else compH(i))
          val vs = Array.tabulate(ns)(i => if (ns == 1) 1 else compV(i))
          val hMax = hs.max; val vMax = vs.max
          val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
          val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
          val cw = Array.tabulate(ns)(i => (width * hs(i) + hMax - 1) / hMax)
          val chh = Array.tabulate(ns)(i => (height * vs(i) + vMax - 1) / vMax)
          val sums = new Array[Double](ns); val sqs = new Array[Double](ns)
          var nPix = 0L
          val prevDc = new Array[Int](ns)
          val coef = new Array[Int](64)
          val pix = new Array[Double](64)
          var mcu = 0
          val nMcu = mcusX * mcusY
          var truncated = false
          while (mcu < nMcu && !truncated) {
            if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
              // Restart resync: discard buffered padding bits, scan
              // forward over any not-yet-read padding (incl. stuffed
              // 0xFF00) to the RSTn marker, consume it, reset DC
              // predictors. A non-RST marker is left for the caller
              // (truncation honesty).
              bitBuf = 0; nBits = 0
              var scanning = true
              while (scanning && p + 1 < bytes.length) {
                val b = bytes(p) & 0xff
                if (b == 0xff) {
                  val nx = bytes(p + 1) & 0xff
                  if (nx == 0x00) p += 2 // stuffed padding byte
                  else {
                    if (nx >= 0xd0 && nx <= 0xd7) p += 2 // RSTn
                    scanning = false
                  }
                } else p += 1
              }
              java.util.Arrays.fill(prevDc, 0)
            }
            var c = 0
            while (c < ns && !truncated) {
              val hdc = huffs.getOrElse((0, compTables(c)._1), null)
              val hac = huffs.getOrElse((1, compTables(c)._2), null)
              if (hdc == null || hac == null) return None
              var blk = 0
              while (blk < hs(c) * vs(c) && !truncated) {
                java.util.Arrays.fill(coef, 0)
                val t = decodeSym(hdc)
                if (t < 0) truncated = true
                else {
                  coef(0) = prevDc(c) + extend(receive(t), t)
                  prevDc(c) = coef(0)
                  var k = 1
                  var eob = false
                  while (k < 64 && !eob && !truncated) {
                    val rs = decodeSym(hac)
                    if (rs < 0) { truncated = true }
                    else if (rs == 0x00) eob = true
                    else if (rs == 0xf0) k += 16 // ZRL
                    else {
                      k += (rs >> 4)
                      if (k < 64)
                        coef(Zigzag(k)) = extend(receive(rs & 0xf), rs & 0xf)
                      k += 1
                    }
                  }
                  if (!truncated) {
                    // Dequantize + IDCT. coef holds NATURAL-order values
                    // (de-zigzagged on store); quant tables are stored in
                    // zigzag order per the spec, so re-walk the zigzag.
                    val q = quant(compQ(c))
                    val dq = new Array[Double](64)
                    var z = 0
                    while (z < 64) { dq(Zigzag(z)) = coef(Zigzag(z)).toDouble * q(z); z += 1 }
                    idct8x8(dq, pix)
                    // accumulate stats over pixels inside the COMPONENT
                    // plane bounds (= image bounds for 1x1 sampling)
                    val baseX = ((mcu % mcusX) * hs(c) + blk % hs(c)) * 8
                    val baseY = ((mcu / mcusX) * vs(c) + blk / hs(c)) * 8
                    var yy = 0
                    while (yy < 8) {
                      var xx = 0
                      while (xx < 8) {
                        if (baseX + xx < cw(c) && baseY + yy < chh(c)) {
                          val vv = math.max(0.0, math.min(255.0,
                            math.rint(pix(yy * 8 + xx)))) / 255.0
                          sums(c) += vv; sqs(c) += vv * vv
                          if (c == 0) nPix += 1
                        }
                        xx += 1
                      }
                      yy += 1
                    }
                  }
                }
                blk += 1
              }
              c += 1
            }
            mcu += 1
          }
          return Some((ImageMeta(width, height, ns, "jpeg"), nPix, sums, sqs))
        case _ => () // APPn, COM, unknown: skip
      }
      off = if (nextOff >= 0) nextOff else off + 2 + len
    }
    // Stream ended without EOI: finalize whatever scans a progressive
    // frame managed to deliver (truncation honesty, as in baseline).
    if (progressive) finishProgressive() else None
  }

  // ---- REAL Ogg container (RFC 3533) + Opus/Vorbis ID headers ------------

  /** Ogg page CRC (RFC 3533 §6): CRC-32, polynomial 0x04c11db7, init 0,
    * no reflection, no final xor, computed with the crc field zeroed. */
  private def oggCrc(bytes: Array[Byte], from: Int, len: Int,
                     crcFieldAt: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      val b = if (i >= crcFieldAt && i < crcFieldAt + 4) 0
              else bytes(i) & 0xff
      crc ^= b << 24
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80000000) != 0) (crc << 1) ^ 0x04c11db7
              else crc << 1
        k += 1
      }
      i += 1
    }
    crc
  }

  /** REAL Ogg container metadata (RFC 3533 + RFC 7845 / Vorbis I, public
    * specs): page walk by capture pattern + segment-lacing lengths with
    * per-page CRC VERIFICATION, codec identification from the first
    * (BOS) page's payload — `OpusHead` (channels, preskip, informational
    * input rate; granules run at 48 kHz) or `vorbis` (channels,
    * rate) — and duration from the final page's granule position.
    * Returns (meta, nPages, durationSec, codec); stops at the first
    * malformed or CRC-failing page (partial-tail honesty). */
  def oggMeta(bytes: Array[Byte])
      : Option[(AudioMeta, Int, Double, String)] = {
    if (bytes.length < 28 ||
        new String(bytes.slice(0, 4), "US-ASCII") != "OggS") return None
    try {
      var p = 0
      var nPages = 0
      var lastGranule = 0L
      var codec = ""
      var channels = -1; var rate = -1; var preskip = 0
      var ok = true
      while (ok && p + 27 <= bytes.length &&
             new String(bytes.slice(p, p + 4), "US-ASCII") == "OggS") {
        val nsegs = bytes(p + 26) & 0xff
        if (p + 27 + nsegs > bytes.length) ok = false
        else {
          var payloadLen = 0
          (0 until nsegs).foreach(i => payloadLen += bytes(p + 27 + i) & 0xff)
          val pageLen = 27 + nsegs + payloadLen
          if (p + pageLen > bytes.length) ok = false
          else {
            val crcStored = le32(bytes, p + 22)
            if (oggCrc(bytes, p, pageLen, p + 22) != crcStored) ok = false
            else {
              var g = 0L
              (0 until 8).foreach(i =>
                g |= (bytes(p + 6 + i) & 0xffL) << (8 * i))
              lastGranule = g
              val d = p + 27 + nsegs
              if (nPages == 0 && payloadLen >= 16) {
                if (new String(bytes.slice(d, d + 8), "US-ASCII")
                      == "OpusHead") {
                  codec = "opus"
                  channels = bytes(d + 9) & 0xff
                  preskip = le16(bytes, d + 10)
                  rate = le32(bytes, d + 12) // informational input rate
                } else if ((bytes(d) & 0xff) == 1 &&
                           new String(bytes.slice(d + 1, d + 7), "US-ASCII")
                             == "vorbis") {
                  codec = "vorbis"
                  channels = bytes(d + 11) & 0xff
                  rate = le32(bytes, d + 12)
                }
              }
              nPages += 1
              p += pageLen
            }
          }
        }
      }
      if (nPages == 0 || codec.isEmpty) None
      else {
        // Opus granules tick at 48 kHz regardless of input rate (RFC
        // 7845 §4) and preskip samples are trimmed; Vorbis granules tick
        // at the declared rate.
        val dur =
          if (codec == "opus") math.max(0L, lastGranule - preskip) / 48000.0
          else lastGranule.toDouble / math.max(1, rate)
        Some((AudioMeta(rate, channels, -1, -1), nPages, dur, codec))
      }
    } catch { case _: Exception => None }
  }

  /** Build a real Ogg stream — genuine page structure with computed
    * CRCs: a BOS identification page (OpusHead or Vorbis ID), a comment
    * page (OpusTags / minimal Vorbis comment), then `audioPages` payload
    * pages advancing the granule by `granulePerPage`, the last flagged
    * EOS. */
  /** The comment (tags) packet: OpusTags (RFC 7845 §5.2) or the Vorbis
    * type-3 comment header (framing bit 1) around the shared
    * little-endian vorbis-comment structure. Empty vendor + no comments
    * reproduces the pre-tags fixture bytes exactly. */
  def oggTagsPacket(codec: String, vendor: String,
                    comments: Seq[(String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32o(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    if (codec == "opus") out.write("OpusTags".getBytes("US-ASCII"))
    else { out.write(3); out.write("vorbis".getBytes("US-ASCII")) }
    val vb = vendor.getBytes("UTF-8")
    le32o(vb.length); out.write(vb)
    le32o(comments.length)
    comments.foreach { case (k, v) =>
      val cb = s"$k=$v".getBytes("UTF-8")
      le32o(cb.length); out.write(cb)
    }
    if (codec != "opus") out.write(1) // framing bit
    out.toByteArray
  }

  /** Parse the tags packet back out of a full Ogg stream: page walk with
    * CRC verification, payload reassembly of the second logical packet
    * (continuation pages honored), codec routing by the BOS magic, the
    * LE comment structure, and the Vorbis framing-bit check (absent or
    * zero refuses). Returns (codec, vendor, comments). */
  def oggTags(bytes: Array[Byte])
      : Option[(String, String, Seq[(String, String)])] = {
    if (bytes.length < 28 ||
        new String(bytes.slice(0, 4), "US-ASCII") != "OggS") return None
    try {
      var p = 0
      var pageIdx = 0
      var codec = ""
      val packet = new java.io.ByteArrayOutputStream()
      var collecting = false
      var done = false
      while (!done && p + 27 <= bytes.length) {
        val nsegs = bytes(p + 26) & 0xff
        if (p + 27 + nsegs > bytes.length) return None
        val headerType = bytes(p + 5) & 0xff
        var payloadLen = 0
        (0 until nsegs).foreach(i => payloadLen += bytes(p + 27 + i) & 0xff)
        val pageLen = 27 + nsegs + payloadLen
        if (p + pageLen > bytes.length) return None
        val crcStored = le32(bytes, p + 22)
        if (oggCrc(bytes, p, pageLen, p + 22) != crcStored) return None
        val body = bytes.slice(p + 27 + nsegs, p + pageLen)
        if (pageIdx == 0) {
          codec =
            if (body.length >= 8 &&
                new String(body.take(8), "US-ASCII") == "OpusHead") "opus"
            else if (body.length >= 7 && body(0) == 1 &&
                new String(body.slice(1, 7), "US-ASCII") == "vorbis") "vorbis"
            else return None
        } else if (pageIdx == 1 || (collecting && (headerType & 1) != 0)) {
          packet.write(body)
          collecting = true
          // ends when the page's final lacing value is < 255
          if (nsegs > 0 && (bytes(p + 27 + nsegs - 1) & 0xff) < 255)
            done = true
        } else if (collecting) done = true
        p += pageLen
        pageIdx += 1
      }
      val d = packet.toByteArray
      var o =
        if (codec == "opus") {
          if (d.length < 8 ||
              new String(d.take(8), "US-ASCII") != "OpusTags") return None
          8
        } else {
          if (d.length < 7 || d(0) != 3 ||
              new String(d.slice(1, 7), "US-ASCII") != "vorbis") return None
          7
        }
      if (o + 4 > d.length) return None
      val vLen = le32(d, o)
      if (o + 4 + vLen + 4 > d.length) return None
      val vendor = new String(d, o + 4, vLen, "UTF-8")
      val n = le32(d, o + 4 + vLen)
      o = o + 8 + vLen
      val cs = Seq.newBuilder[(String, String)]
      var i = 0
      while (i < n) {
        if (o + 4 > d.length) return None
        val cLen = le32(d, o)
        if (o + 4 + cLen > d.length) return None
        val s = new String(d, o + 4, cLen, "UTF-8")
        val eq = s.indexOf('=')
        if (eq < 0) return None
        cs += ((s.substring(0, eq), s.substring(eq + 1)))
        o += 4 + cLen
        i += 1
      }
      if (codec == "vorbis" && (o >= d.length || (d(o) & 1) != 1))
        return None // framing bit mandatory
      Some((codec, vendor, cs.result()))
    } catch { case _: ArrayIndexOutOfBoundsException => None }
  }

  def oggBytes(codec: String, channels: Int, rate: Int, preskip: Int,
               audioPages: Int, granulePerPage: Long,
               oggVendor: String = "",
               oggComments: Seq[(String, String)] = Nil): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var seq = 0
    def page(headerType: Int, granule: Long, payload: Array[Byte]): Unit = {
      require(payload.length < 255 * 255, "single-page payloads only")
      val nsegs = payload.length / 255 + 1
      val page = new Array[Byte](27 + nsegs + payload.length)
      "OggS".getBytes("US-ASCII").copyToArray(page, 0)
      page(4) = 0; page(5) = headerType.toByte
      (0 until 8).foreach(i => page(6 + i) = ((granule >> (8 * i)) & 0xff).toByte)
      (0 until 4).foreach(i => page(14 + i) = ((0x4754 >> (8 * i)) & 0xff).toByte)
      (0 until 4).foreach(i => page(18 + i) = ((seq >> (8 * i)) & 0xff).toByte)
      page(26) = nsegs.toByte
      (0 until nsegs - 1).foreach(i => page(27 + i) = 255.toByte)
      page(27 + nsegs - 1) = (payload.length % 255).toByte
      payload.copyToArray(page, 27 + nsegs)
      val crc = oggCrc(page, 0, page.length, 22)
      (0 until 4).foreach(i => page(22 + i) = ((crc >> (8 * i)) & 0xff).toByte)
      out.write(page, 0, page.length)
      seq += 1
    }
    val id = new java.io.ByteArrayOutputStream()
    def i8(v: Int): Unit = id.write(v & 0xff)
    def i16(v: Int): Unit = { i8(v); i8(v >> 8) }
    def i32(v: Int): Unit = { i16(v); i16(v >> 16) }
    codec match {
      case "opus" =>
        id.write("OpusHead".getBytes("US-ASCII"))
        i8(1); i8(channels); i16(preskip); i32(rate); i16(0); i8(0)
      case "vorbis" =>
        i8(1); id.write("vorbis".getBytes("US-ASCII"))
        i32(0); i8(channels); i32(rate)
        i32(0); i32(0); i32(0); i8(0xb8); i8(1)
      case c => throw new IllegalArgumentException(s"codec $c")
    }
    page(0x02, 0, id.toByteArray) // BOS
    page(0x00, 0, oggTagsPacket(codec, oggVendor, oggComments))
    (1 to audioPages).foreach { k =>
      val eos = if (k == audioPages) 0x04 else 0x00
      page(eos, k.toLong * granulePerPage,
           Array.tabulate(20)(i => ((k * 31 + i) % 256).toByte))
    }
    out.toByteArray
  }

  // ---- REAL tar / zip shard containers (WebDataset-style ingestion) -----

  /** REAL ustar tar walk (POSIX.1-1988 ustar, public spec): 512-byte
    * header blocks — name (NUL-trimmed), octal size field, header
    * checksum verified (sum of header bytes with the chksum field as
    * spaces), data padded to block size, terminated by a zero block.
    * Returns regular-file entries in archive order; stops at the first
    * malformed or checksum-failing header (partial-tail honesty). The
    * WebDataset shard layout — pairs like `000017.jpg`/`000017.txt` —
    * is exactly this. */
  def tarEntries(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, Array[Byte])]
    var p = 0
    var ok = true
    def octal(off: Int, len: Int): Long = {
      var v = 0L; var i = off
      val end = off + len
      while (i < end && (bytes(i) == ' ' || bytes(i) == 0)) i += 1
      while (i < end && bytes(i) >= '0' && bytes(i) <= '7') {
        v = v * 8 + (bytes(i) - '0'); i += 1
      }
      v
    }
    while (ok && p + 512 <= bytes.length) {
      if (bytes(p) == 0) ok = false // zero block: end of archive
      else {
        var sum = 0L
        var i = 0
        while (i < 512) {
          sum += (if (i >= 148 && i < 156) ' '.toInt // chksum field as spaces
                  else bytes(p + i) & 0xff)
          i += 1
        }
        if (sum != octal(p + 148, 8)) ok = false
        else {
          val nameEnd = (p until p + 100).indexWhere(j => bytes(j) == 0) match {
            case -1 => 100
            case k => k
          }
          val name = new String(bytes, p, nameEnd, "US-ASCII")
          val size = octal(p + 124, 12)
          val typeflag = bytes(p + 156)
          val dataAt = p + 512
          if (dataAt + size > bytes.length) ok = false
          else {
            if (typeflag == '0' || typeflag == 0) // regular file
              out += ((name, java.util.Arrays.copyOfRange(
                bytes, dataAt, (dataAt + size).toInt)))
            p = dataAt + (((size + 511) / 512) * 512).toInt
          }
        }
      }
    }
    out.result()
  }

  /** Build a real ustar tar from (name, payload) entries — genuine octal
    * fields, computed checksums, 512-byte padding, two-zero-block
    * terminator. */
  def tarBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, data) =>
      val hdr = new Array[Byte](512)
      def putText(off: Int, s: String): Unit = {
        val b = s.getBytes("US-ASCII")
        System.arraycopy(b, 0, hdr, off, math.min(b.length, 99))
      }
      def putOctal(off: Int, len: Int, v: Long): Unit =
        putText(off, ("%0" + (len - 1) + "o").format(v))
      putText(0, name)
      putOctal(100, 8, 420)  // mode 0644
      putOctal(108, 8, 0); putOctal(116, 8, 0) // uid/gid
      putOctal(124, 12, data.length)
      putOctal(136, 12, 0)   // mtime
      hdr(156) = '0'         // regular file
      putText(257, "ustar"); hdr(262) = 0
      putText(263, "00")
      java.util.Arrays.fill(hdr, 148, 156, ' '.toByte)
      var sum = 0L
      (0 until 512).foreach(i => sum += hdr(i) & 0xff)
      putOctal(148, 8, sum); hdr(155) = ' '
      out.write(hdr, 0, 512)
      out.write(data, 0, data.length)
      val pad = (512 - data.length % 512) % 512
      (0 until pad).foreach(_ => out.write(0))
    }
    (0 until 1024).foreach(_ => out.write(0)) // two zero blocks
    out.toByteArray
  }

  /** REAL ZIP walk via the JDK's ZipInputStream (the PKZIP local-header
    * stream face): entry names + inflated payloads in archive order;
    * directories skipped; None for non-ZIP payloads. */
  def zipEntries(bytes: Array[Byte]): Option[Seq[(String, Array[Byte])]] = {
    if (bytes.length < 4 || bytes(0) != 'P' || bytes(1) != 'K') return None
    try {
      val zin = new java.util.zip.ZipInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = Seq.newBuilder[(String, Array[Byte])]
      var e = zin.getNextEntry
      var n = 0
      while (e != null && n < 100000) {
        if (!e.isDirectory) {
          val buf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          var r = zin.read(tmp)
          while (r > 0) { buf.write(tmp, 0, r); r = zin.read(tmp) }
          out += ((e.getName, buf.toByteArray))
          n += 1
        }
        e = zin.getNextEntry
      }
      zin.close()
      Some(out.result())
    } catch { case _: Exception => None }
  }

  /** zip-compress (name, payload) entries via the JDK (DEFLATE members). */
  def zipBytes(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zout = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, data) =>
      zout.putNextEntry(new java.util.zip.ZipEntry(name))
      zout.write(data); zout.closeEntry()
    }
    zout.close()
    bos.toByteArray
  }

  /** WebDataset-style shard ingestion: explode a BINARY column of tar or
    * zip shards into one row per entry (shard_id, name, n_bytes, data).
    * Partition-local codec-seam Dataset map — a 100 TB shard corpus
    * ingests embarrassingly parallel, one task per shard split. */
  def shardCorpus(shards: DataFrame, idCol: String,
                  shardCol: String): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.select(col(idCol).cast("long").as("shard_id"),
                  col(shardCol).as("b"))
      .as[(Long, Array[Byte])]
      .flatMap { case (sid, b) =>
        val entries =
          if (b == null) Seq.empty
          else zipEntries(b).getOrElse(tarEntries(b))
        entries.map { case (name, data) =>
          (sid, name, data.length.toLong, data)
        }
      }
      .toDF("shard_id", "name", "n_bytes", "data")
  }

  // ---- REAL GIF codec (dependency-free LZW, GIF89a spec) -----------------

  /** Build a real, spec-conformant GIF89a (CompuServe GIF89a spec, 1990):
    * logical screen descriptor, 256-entry greyscale identity global color
    * table, optionally a graphic-control extension block (which decoders
    * must skip by sub-block lengths), image descriptor, and a genuine LZW
    * entropy coder — variable 9..12-bit codes packed LSB-first, code width
    * growing at each table power of two, clear-and-reset when the table
    * reaches 4096 — packaged in ≤255-byte data sub-blocks. `pixels` are
    * 8-bit palette indices (= grey levels under the identity palette),
    * row-major, not interlaced. */
  def gifBytes(width: Int, height: Int, pixels: Array[Byte],
               withGce: Boolean = false,
               localTable: Boolean = false): Array[Byte] = {
    require(pixels.length == width * height,
            s"pixels must be width*height indices, got ${pixels.length}")
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def ole16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    ole16(width); ole16(height)
    // grey identity palette as GLOBAL table, or per-image LOCAL table
    // (GCT absent → packed 0x77: no table flag, 8-bit color resolution)
    u8(if (localTable) 0x77 else 0xf7)
    u8(0); u8(0) // background color index, pixel aspect ratio
    if (!localTable)
      (0 until 256).foreach { i => u8(i); u8(i); u8(i) }
    if (withGce) { // 0x21 0xF9, 4-byte block, terminator
      u8(0x21); u8(0xf9); u8(4); u8(0); ole16(0); u8(0); u8(0)
    }
    u8(0x2c) // image descriptor
    ole16(0); ole16(0); ole16(width); ole16(height)
    u8(if (localTable) 0x87 else 0) // LCT(256) flag, not interlaced
    if (localTable)
      (0 until 256).foreach { i => u8(i); u8(i); u8(i) }
    u8(8) // LZW minimum code size
    val clear = 256; val eoi = 257
    var next = 258; var codeWidth = 9
    val dict = new java.util.HashMap[Integer, Integer]()
    val data = new java.io.ByteArrayOutputStream()
    var bitBuf = 0; var bitCnt = 0
    def emit(code: Int): Unit = {
      bitBuf |= code << bitCnt; bitCnt += codeWidth
      while (bitCnt >= 8) { data.write(bitBuf & 0xff); bitBuf >>>= 8; bitCnt -= 8 }
    }
    def reset(): Unit = { dict.clear(); next = 258; codeWidth = 9 }
    emit(clear); reset()
    var cur = pixels(0) & 0xff
    var i = 1
    while (i < pixels.length) {
      val k = pixels(i) & 0xff
      val key = Integer.valueOf((cur << 8) | k) // prefix code ≤ 4095, byte 8 bits
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        emit(cur)
        dict.put(key, Integer.valueOf(next)); next += 1
        // encoder grows one code EARLY relative to the decoder's counter:
        // entry 2^w is assigned after emitting the code the decoder reads
        // at width w+1 (GIF89a appendix F variable-length-code discipline)
        if (next > (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        cur = k
        if (next == 4096) { emit(clear); reset() }
      }
      i += 1
    }
    emit(cur); emit(eoi)
    if (bitCnt > 0) data.write(bitBuf & 0xff)
    val arr = data.toByteArray
    var off = 0
    while (off < arr.length) {
      val n = math.min(255, arr.length - off)
      u8(n); out.write(arr, off, n); off += n
    }
    u8(0) // block terminator
    u8(0x3b) // trailer
    out.toByteArray
  }

  /** REAL GIF decode: signature + logical-screen walk, global/local color
    * table, extension blocks skipped by their declared sub-block lengths,
    * and a full LZW decoder — variable-width codes LSB-first, prefix-chain
    * string reconstruction, the KwKwK (code == next) case, width growth at
    * table powers of two, clear-code reset, and deferred-clear tolerance
    * (full table keeps coding statically). Returns the first image's
    * metadata, its palette indices (row-major), and the active palette as
    * 0xRRGGBB ints; None on anything malformed. Interlaced images are
    * declined (None) rather than mis-ordered. */
  def gifDecode(bytes: Array[Byte])
      : Option[(ImageMeta, Array[Byte], Array[Int])] = {
    if (bytes.length < 13) return None
    val sig = new String(bytes.slice(0, 6), "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    try {
      var p = 10
      val packed = bytes(p) & 0xff
      p = 13
      def readPalette(n: Int): Array[Int] = {
        val pal = Array.tabulate(n)(i =>
          ((bytes(p + 3 * i) & 0xff) << 16) |
            ((bytes(p + 3 * i + 1) & 0xff) << 8) |
            (bytes(p + 3 * i + 2) & 0xff))
        p += 3 * n
        pal
      }
      var gct: Array[Int] = null
      if ((packed & 0x80) != 0) gct = readPalette(1 << ((packed & 7) + 1))
      while (p < bytes.length) {
        (bytes(p) & 0xff) match {
          case 0x21 => // extension: label byte then length-prefixed sub-blocks
            p += 2
            while ((bytes(p) & 0xff) != 0) p += 1 + (bytes(p) & 0xff)
            p += 1
          case 0x2c =>
            val iw = le16(bytes, p + 5); val ih = le16(bytes, p + 7)
            val ipacked = bytes(p + 9) & 0xff
            p += 10
            if ((ipacked & 0x40) != 0) return None // interlaced: declined
            var pal = gct
            if ((ipacked & 0x80) != 0)
              pal = readPalette(1 << ((ipacked & 7) + 1))
            if (pal == null || iw <= 0 || ih <= 0) return None
            val minCode = bytes(p) & 0xff; p += 1
            if (minCode < 2 || minCode > 8) return None
            val dataB = new java.io.ByteArrayOutputStream()
            while ((bytes(p) & 0xff) != 0) {
              val n = bytes(p) & 0xff
              dataB.write(bytes, p + 1, n); p += 1 + n
            }
            val data = dataB.toByteArray
            val clear = 1 << minCode; val eoi = clear + 1
            var width = minCode + 1
            var nextCode = eoi + 1
            val prefix = new Array[Int](4096)
            val suffix = new Array[Byte](4096)
            val outPix = new java.io.ByteArrayOutputStream(iw * ih)
            var bi = 0; var bitBuf = 0; var bitCnt = 0
            def read(): Int = {
              while (bitCnt < width && bi < data.length) {
                bitBuf |= (data(bi) & 0xff) << bitCnt; bitCnt += 8; bi += 1
              }
              if (bitCnt < width) -1
              else {
                val v = bitBuf & ((1 << width) - 1)
                bitBuf >>>= width; bitCnt -= width; v
              }
            }
            val stack = new Array[Byte](4096)
            // write string(c) to outPix via its prefix chain; returns first byte
            def outputCode(c: Int): Byte = {
              var sp = 0; var cc = c
              while (cc >= eoi + 1) { stack(sp) = suffix(cc); sp += 1; cc = prefix(cc) }
              outPix.write(cc)
              while (sp > 0) { sp -= 1; outPix.write(stack(sp)) }
              cc.toByte
            }
            def firstByte(c: Int): Byte = {
              var cc = c
              while (cc >= eoi + 1) cc = prefix(cc)
              cc.toByte
            }
            var prev = -1
            var done = false
            while (!done) {
              val c = read()
              if (c < 0 || c == eoi) done = true
              else if (c == clear) { nextCode = eoi + 1; width = minCode + 1; prev = -1 }
              else if (prev < 0) {
                if (c >= clear) return None // first code after clear must be a literal
                outputCode(c); prev = c
              } else if (c < nextCode) {
                val first = outputCode(c)
                if (nextCode < 4096) {
                  prefix(nextCode) = prev; suffix(nextCode) = first; nextCode += 1
                  if (nextCode == (1 << width) && width < 12) width += 1
                }
                prev = c
              } else if (c == nextCode && nextCode < 4096) {
                val fb = firstByte(prev) // KwKwK: entry exists only after itself
                prefix(nextCode) = prev; suffix(nextCode) = fb; nextCode += 1
                outputCode(c)
                if (nextCode == (1 << width) && width < 12) width += 1
                prev = c
              } else return None
            }
            val idx = outPix.toByteArray
            if (idx.length < iw * ih) return None
            return Some((ImageMeta(iw, ih, 3, "gif"),
                         java.util.Arrays.copyOf(idx, iw * ih), pal))
          case _ => return None // trailer (0x3b) or junk before any image
        }
      }
      None
    } catch { case _: Exception => None }
  }

  /** [[bmpChannelStats]]-shaped statistics over a REAL GIF decode: per-RGB
    * palette-mapped channel sums and sums of squares of v/255 over every
    * decoded pixel, plus the decoded-pixel count. */
  def gifChannelStats(bytes: Array[Byte])
      : Option[(ImageMeta, Long, Array[Double], Array[Double])] =
    gifDecode(bytes).map { case (meta, idx, pal) =>
      val sums = new Array[Double](3); val sqs = new Array[Double](3)
      var i = 0
      while (i < idx.length) {
        val rgb = pal(idx(i) & 0xff)
        var c = 0
        while (c < 3) {
          val v = ((rgb >> (16 - 8 * c)) & 0xff) / 255.0
          sums(c) += v; sqs(c) += v * v; c += 1
        }
        i += 1
      }
      (meta, idx.length.toLong, sums, sqs)
    }

  /** Frame sampling: split the payload into fixed-size chunks and keep every
    * `stride`-th — pure expression (binary substring), no UDF. */
  def sampleFrames(df: DataFrame, mediaCol: String, frameBytes: Int,
                   stride: Int): DataFrame =
    df.withColumn("frames", expr(
      s"""transform(
         |  filter(sequence(0, cast(length($mediaCol) / $frameBytes as int) - 1),
         |         i -> i % $stride = 0),
         |  i -> substring($mediaCol, cast(i * $frameBytes + 1 as int), $frameBytes))"""
        .stripMargin))

  /** REAL nearest-neighbor resize of a single-channel raster (row-major):
    * source coordinate sx = ⌊x·w/ow⌋, sy = ⌊y·h/oh⌋ — the classic integer
    * NN mapping, exact and replayable (replaces the former byte-truncate
    * resize stub now that decode-to-pixels is real). */
  def resizeNearest(px: Array[Int], w: Int, h: Int,
                    ow: Int, oh: Int): Array[Int] =
    Array.tabulate(ow * oh) { i =>
      val x = i % ow
      val y = i / ow
      px((y * h / oh) * w + (x * w / ow))
    }

  /** Integer box-mean downscale by (fx, fy): floor-mean of each fx×fy
    * block — the antialiased downscale in exact integer form. */
  def resizeBoxMean(px: Array[Int], w: Int, h: Int,
                    fx: Int, fy: Int): Array[Int] = {
    require(w % fx == 0 && h % fy == 0, "box resize needs integer tiling")
    val ow = w / fx
    val oh = h / fy
    Array.tabulate(ow * oh) { i =>
      val x = i % ow
      val y = i / ow
      var s = 0
      var dy = 0
      while (dy < fy) {
        var dx = 0
        while (dx < fx) {
          s += px((y * fy + dy) * w + (x * fx + dx))
          dx += 1
        }
        dy += 1
      }
      s / (fx * fy)
    }
  }
}
