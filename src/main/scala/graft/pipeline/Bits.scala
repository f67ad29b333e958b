package graft.pipeline

/** MSB-first bit I/O over byte arrays, shared by the codecs.
  *
  * Bit `p` of a stream is bit `7 - p % 8` (counting from the least
  * significant) of byte `p / 8`: the first bit of a field is the high bit
  * of its first byte. This is the order of MPEG audio and video, AAC,
  * FLAC and JPEG entropy data alike, so no codec knows it but this file.
  *
  * A read that would cross the reader's end throws [[Bits.PastEnd]] and
  * consumes nothing; that is the only way a read fails. Decoders that
  * refuse a truncated stream catch it where their refusal policy lives.
  *
  * JPEG's entropy reader is not built here: it unstuffs `FF 00` and stops
  * at markers, which is the JPEG format, not bit order. */
object Bits {

  /** A read of `n` bits at bit `pos` that would cross the end. */
  final class PastEnd(pos: Long, n: Int)
      extends IllegalStateException(s"read of $n bits at bit $pos crosses the end")
}

/** Reads bit fields from `bytes` between bit positions `start` and `end`.
  * `pos` is the next bit to read; callers may move it. */
final class BitReader(bytes: Array[Byte], start: Long, val end: Long) {

  /** From byte `startByte` to the end of `bytes`. */
  def this(bytes: Array[Byte], startByte: Int) =
    this(bytes, startByte * 8L, bytes.length * 8L)

  def this(bytes: Array[Byte]) = this(bytes, 0)

  var pos: Long = start

  def remaining: Long = end - pos

  def bit(): Int = {
    if (pos >= end) throw new Bits.PastEnd(pos, 1)
    val b = (bytes((pos >> 3).toInt) >> (7 - (pos & 7)).toInt) & 1
    pos += 1
    b
  }

  /** An unsigned `n`-bit field (only the low 32 bits are kept when
    * `n > 32`, which skips the leading bits). */
  def bits(n: Int): Int = long(n).toInt

  /** An unsigned `n`-bit field as a Long (only the low 64 bits are kept
    * when `n > 64`). */
  def long(n: Int): Long = {
    if (n > end - pos) throw new Bits.PastEnd(pos, n)
    var v = 0L
    var left = n
    while (left > 0) { // up to the rest of the current byte per step
      val used = (pos & 7).toInt
      val take = math.min(8 - used, left)
      val b = ((bytes((pos >> 3).toInt) & 0xff) >>> (8 - used - take)) &
        ((1 << take) - 1)
      v = (v << take) | b
      pos += take
      left -= take
    }
    v
  }

  /** An `n`-bit two's-complement field (0 when `n` is 0). */
  def signed(n: Int): Long = {
    if (n == 0) return 0L
    val v = long(n)
    if (n < 64 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
  }

  /** The count of 0 bits before the next 1 bit, which is consumed too. */
  def unary(): Long = {
    var q = 0L
    while (bit() == 0) q += 1
    q
  }

  /** Skips to the next byte boundary and returns the skipped bits. */
  def byteAlign(): Int = bits(((8 - (pos & 7)) & 7).toInt)

  /** Walks one prefix codeword: reads bits one at a time until the bits
    * read so far, as a '0'/'1' string, are a codeword of `lookup`, or
    * `maxLen` bits are read. None is a miss; the caller decides what a
    * miss means. */
  def code[V](lookup: String => Option[V], maxLen: Int): Option[V] = {
    val sb = new java.lang.StringBuilder(maxLen)
    while (sb.length < maxLen) {
      sb.append(if (bit() == 1) '1' else '0')
      val hit = lookup(sb.toString)
      if (hit.isDefined) return hit
    }
    None
  }
}

/** Writes bit fields into a byte buffer that grows as needed. `pos` is
  * the next bit to write; callers may move it, for example to the start
  * of a fixed-size frame or back onto a placeholder field. The stream
  * ends at the furthest position `pos` has reached; bits never written
  * are 0. */
final class BitWriter {

  private var buf = new Array[Byte](64)
  private var p = 0L
  private var hi = 0L

  def pos: Long = p

  def pos_=(q: Long): Unit = {
    p = q
    if (q > hi) hi = q
  }

  private def room(bitsNeeded: Long): Unit = {
    val bytesNeeded = ((bitsNeeded + 7) >> 3).toInt
    if (bytesNeeded > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(bytesNeeded, buf.length * 2))
  }

  /** The low `n` bits of `v`, most significant first (`n` ≤ 64). */
  def bits(v: Long, n: Int): Unit = {
    room(p + n)
    var i = n - 1
    while (i >= 0) {
      val k = (p >> 3).toInt
      val mask = 1 << (7 - (p & 7)).toInt
      buf(k) =
        (if (((v >>> i) & 1L) != 0) buf(k) | mask else buf(k) & ~mask).toByte
      p += 1
      i -= 1
    }
    if (p > hi) hi = p
  }

  /** A codeword given as a '0'/'1' string. */
  def str(code: String): Unit = {
    var i = 0
    while (i < code.length) {
      bits(if (code.charAt(i) == '1') 1 else 0, 1)
      i += 1
    }
  }

  /** `v` as an `n`-bit two's-complement field: its low `n` bits. */
  def signed(v: Long, n: Int): Unit = bits(v, n)

  /** `q` 0 bits, then a terminating 1 bit. */
  def unary(q: Long): Unit = {
    var i = 0L
    while (i < q) { bits(0, 1); i += 1 }
    bits(1, 1)
  }

  /** `len` whole bytes of `src` from `off`, 8 bits each. */
  def bytes(src: Array[Byte], off: Int, len: Int): Unit = {
    var i = 0
    while (i < len) { bits(src(off + i) & 0xff, 8); i += 1 }
  }

  /** Pads with 0 bits to the next byte boundary. */
  def byteAlign(): Unit = bits(0, ((8 - (p & 7)) & 7).toInt)

  /** The stream so far, padded with 0 bits to a whole byte. */
  def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, ((hi + 7) >> 3).toInt)
}
