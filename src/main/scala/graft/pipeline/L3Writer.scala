package graft.pipeline

/** The one Layer III stream writer behind the synthetic MP3 fixtures
  * ([[Multimodal.layer3Bytes]] and its fifteen siblings). It owns the
  * frame format: the 4-byte header and the optional CRC word, the MPEG-1
  * (17/32-byte) and MPEG-2/2.5 LSF (9/17-byte) side info, the main-data
  * placement, the big-value pair and count1 quad coders, and
  * `part2_3_length`, which is the number of bits the writer emitted for
  * the granule's scalefactors and entropy data. Callers supply content
  * only: field values, scalefactors, pairs and quads. */
private[graft] object L3Writer {

  /** A big-values code: (min(|x|, 15), min(|y|, 15)) → codeword, and the
    * ESC linbits that follow a 15 (0: no ESC). */
  final case class Table(code: ((Int, Int)) => String, linbits: Int = 0)

  def iso(t: Int): Table = Table(L3IsoHuff.encode(t))

  /** ISO table 1, for x, y ∈ {−1, 0, 1}. */
  val Table1: Table = iso(1)

  /** One granule of one channel. `tables` holds three table_selects for a
    * long granule (region counts 4 / 3), or two when `switched` carries
    * (block_type, mixed_block_flag, three subblock gains). `sf` is the
    * scalefactor field run as (value, width); `code(k)` is pair k's table;
    * `count1B` picks count1 table B over table A. */
  final case class Gran(
      gain: Int, scomp: Int, tables: Seq[Int],
      sf: Seq[(Long, Int)], pairs: Seq[(Int, Int)],
      quads: Seq[Array[Int]] = Nil,
      switched: Option[(Int, Int, Seq[Int])] = None,
      preflag: Int = 0, sfScale: Int = 1, count1B: Boolean = true,
      code: Int => Table = _ => Table1)

  /** The fixtures' reservoir request: frame f ≥ 1 asks to begin
    * (seed·7 + f·13) mod 40 bytes back. */
  def reservoir(seed: Long): Int => Int =
    f => if (f == 0) 0 else ((seed * 7 + f * 13) % 40).toInt

  /** `nFrames` frames of `frameLen(f)` bytes. `header(f)` is the header
    * with its protection bit set; `crc` clears the bit and patches the
    * CRC-16 word in. The version and mode bits of `header(0)` choose the
    * side-info layout: one granule per frame for MPEG-2/2.5, one channel
    * for mode 3. `grans(f)` lists the frame's granules granule-major,
    * channel-minor. Main data starts at each frame's nominal position less
    * `back(f)` bytes, as far as the data already placed allows; bytes
    * skipped over stay zero. */
  def stream(nFrames: Int, frameLen: Int => Int, header: Int => Int,
             crc: Boolean = false, back: Int => Int = _ => 0,
             scfsi: (Int, Int) => Int = (_, _) => 0)
            (grans: Int => Seq[Gran]): Array[Byte] = {
    val lsf = ((header(0) >> 19) & 1) == 0
    val nch = if (((header(0) >> 6) & 3) == 3) 1 else 2
    val side = if (lsf) (if (nch == 1) 9 else 17) else (if (nch == 1) 17 else 32)
    val hdrSide = 4 + (if (crc) 2 else 0) + side
    val caps = Array.tabulate(nFrames)(f => frameLen(f) - hdrSide)
    val starts = caps.scanLeft(0)(_ + _) // nominal main-data positions
    val content = Array.tabulate(nFrames)(grans)

    val pool = new BitWriter
    val mdbs = new Array[Int](nFrames)
    val part23 = Array.tabulate(nFrames) { f =>
      val placed = ((pool.pos + 7) / 8).toInt
      mdbs(f) = math.min(back(f), math.max(starts(f) - placed, 0))
      pool.pos = math.max(pool.pos, (starts(f) - mdbs(f)) * 8L)
      val lens = content(f).map { gr =>
        val from = pool.pos
        gr.sf.foreach { case (v, w) => pool.bits(v, w) }
        writeEntropy(pool, gr)
        (pool.pos - from).toInt
      }
      // the next frame's back-pointer can only reach data that ends here
      require(pool.pos <= starts(f + 1) * 8L, s"frame $f's main data overflows")
      lens
    }
    val main = java.util.Arrays.copyOf(pool.toBytes, starts(nFrames))

    val out = new BitWriter
    (0 until nFrames).foreach { f =>
      val base = starts(f) + f * hdrSide
      out.pos = base * 8L
      out.bits(if (crc) header(f) & ~0x10000 else header(f), 32)
      if (crc) out.bits(0, 16)
      out.bits(mdbs(f), if (lsf) 8 else 9)
      out.bits(0, if (lsf) nch else if (nch == 1) 5 else 3) // private bits
      if (!lsf) (0 until nch).foreach(ch => out.bits(scfsi(f, ch), 4))
      content(f).zip(part23(f)).foreach { case (gr, len) =>
        out.bits(len, 12); out.bits(gr.pairs.size, 9); out.bits(gr.gain, 8)
        out.bits(gr.scomp, if (lsf) 9 else 4)
        gr.switched match {
          case Some((blockType, mixed, sbg)) =>
            out.bits(1, 1); out.bits(blockType, 2); out.bits(mixed, 1)
            gr.tables.foreach(out.bits(_, 5)); sbg.foreach(out.bits(_, 3))
          case None =>
            out.bits(0, 1); gr.tables.foreach(out.bits(_, 5))
            out.bits(4, 4); out.bits(3, 3)
        }
        if (!lsf) out.bits(gr.preflag, 1) // LSF derives preflag from scomp
        out.bits(gr.sfScale, 1); out.bits(if (gr.count1B) 1 else 0, 1)
      }
      if (crc) { // over header bytes 2-3 and the side info
        val b = out.toBytes
        val covered = b.slice(base + 2, base + 4) ++ b.slice(base + 6, base + 6 + side)
        val end = out.pos
        out.pos = (base + 4) * 8L
        out.bits(Multimodal.mpegCrc16(covered, 0, covered.length), 16)
        out.pos = end
      }
      out.bytes(main, starts(f), caps(f))
    }
    out.pos = (starts(nFrames) + nFrames * hdrSide) * 8L
    out.toBytes
  }

  private def sign(w: BitWriter, v: Int): Unit =
    if (v != 0) w.bits(if (v < 0) 1 else 0, 1)

  /** Big-value pairs (codeword, then ESC bits and sign per value), then
    * count1 quads (table B: the 4-bit complement; table A: ISO codes). */
  private def writeEntropy(w: BitWriter, gr: Gran): Unit = {
    gr.pairs.zipWithIndex.foreach { case ((x, y), k) =>
      val t = gr.code(k)
      w.str(t.code((math.min(x.abs, 15), math.min(y.abs, 15))))
      Seq(x, y).foreach { v =>
        if (t.linbits > 0 && v.abs >= 15) w.bits(v.abs - 15, t.linbits)
        sign(w, v)
      }
    }
    gr.quads.foreach { q =>
      val idx = q.foldLeft(0)((a, v) => (a << 1) | (if (v != 0) 1 else 0))
      if (gr.count1B) w.bits(15 - idx, 4) else w.str(L3IsoHuff.quadAEncode(idx))
      q.foreach(sign(w, _))
    }
  }
}
