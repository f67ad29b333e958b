package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{BitReader, BitWriter, Bits}

/** The shared MSB-first bit reader and writer: round trips of random
  * field sequences, the signed/unary/alignment forms, positional writes,
  * the prefix-codeword walk, and the single past-end failure. */
class BitsSpec extends AnyFunSuite {

  private def holds(p: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(17L))
    val r = Test.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private def mask(v: Long, n: Int): Long =
    if (n == 0) 0L else v & ((1L << n) - 1)

  private val fields: Gen[List[(Long, Int)]] = Gen.listOf(for {
    n <- Gen.choose(0, 32)
    v <- Gen.long
  } yield (mask(v, n), n))

  test("random (value, width <= 32) sequences read back as written") {
    holds(Prop.forAll(fields) { fs =>
      val w = new BitWriter
      fs.foreach { case (v, n) => w.bits(v, n) }
      val total = fs.map(_._2.toLong).sum
      val bytes = w.toBytes
      val r = new BitReader(bytes)
      val back = fs.map { case (_, n) =>
        if (n < 32) r.bits(n).toLong else r.long(n)
      }
      back == fs.map(_._1) && bytes.length == (total + 7) / 8 &&
        r.remaining == bytes.length * 8L - total
    })
  }

  test("bits(n) keeps the low 32 bits of a wider field") {
    val w = new BitWriter
    w.bits(0x3L, 2); w.bits(0xdeadbeefL, 32)
    assert(new BitReader(w.toBytes).bits(34) == 0xdeadbeef)
  }

  test("signed fields at widths 0, 1 and 32") {
    val cases = Seq(0 -> 0L, 1 -> 0L, 1 -> -1L, 32 -> 0L, 32 -> -1L,
      32 -> Int.MinValue.toLong, 32 -> Int.MaxValue.toLong, 32 -> 12345L)
    val w = new BitWriter
    cases.foreach { case (n, v) => w.signed(v, n) }
    val r = new BitReader(w.toBytes)
    cases.foreach { case (n, v) => assert(r.signed(n) == v, s"width $n") }
  }

  test("unary codes of 0, 1 and 32 zeros") {
    val w = new BitWriter
    Seq(0L, 1L, 32L).foreach(w.unary)
    val r = new BitReader(w.toBytes)
    assert(Seq(r.unary(), r.unary(), r.unary()) == Seq(0L, 1L, 32L))
    assert(r.pos == 1 + 2 + 33)
  }

  test("byteAlign pads the writer with zeros and skips the reader") {
    val w = new BitWriter
    w.bits(0x5, 3); w.byteAlign(); w.byteAlign(); w.bits(0xa5, 8)
    val bytes = w.toBytes
    assert(bytes.toSeq == Seq(0xa0.toByte, 0xa5.toByte))
    val r = new BitReader(bytes)
    assert(r.bits(3) == 5)
    assert(r.byteAlign() == 0 && r.pos == 8)
    assert(r.byteAlign() == 0 && r.pos == 8) // aligned: a no-op
    assert(r.bits(8) == 0xa5)
    // the skipped bits are returned
    val r2 = new BitReader(Array(0x1f.toByte))
    r2.bits(3)
    assert(r2.byteAlign() == 0x1f)
  }

  test("positional writes at a non-zero bit offset") {
    val w = new BitWriter
    w.pos = 13
    w.bits(0x5, 3) // bits 13..15
    w.pos = 0
    w.bits(0x1, 1) // bit 0
    assert(w.toBytes.toSeq == Seq(0x80.toByte, 0x05.toByte))
    // a placeholder is overwritten in place; the stream end stays put
    w.pos = 24
    w.bits(0, 16)
    w.bits(0xff, 8)
    w.pos = 24
    w.bits(0xbeef, 16)
    w.pos = 48
    val b = w.toBytes
    assert(b.length == 6)
    assert(b.slice(3, 6).toSeq == Seq(0xbe.toByte, 0xef.toByte, 0xff.toByte))
    // moving past the end extends the stream with zero bits
    w.pos = 60
    assert(w.toBytes.length == 8)
    // a write far past the buffer grows it
    w.pos = 8L * 1000
    w.bits(1, 1)
    val grown = w.toBytes
    assert(grown.length == 1001 && grown(1000) == 0x80.toByte &&
      grown.slice(6, 1000).forall(_ == 0))
  }

  test("whole bytes copy at any bit offset") {
    val w = new BitWriter
    w.bits(1, 1)
    w.bytes(Array(0xf0.toByte, 0x0f.toByte, 0x55.toByte), 1, 2)
    assert(new BitReader(w.toBytes).long(17) == ((1L << 16) | 0x0f55))
  }

  test("codeword walk: hits, and a miss after maxLen bits") {
    val table = Map("0" -> 'a', "10" -> 'b', "110" -> 'c')
    val w = new BitWriter
    w.str("110" + "10" + "0" + "111" + "1")
    val r = new BitReader(w.toBytes)
    assert(r.code(table.get, 3).contains('c'))
    assert(r.code(table.get, 3).contains('b'))
    assert(r.code(table.get, 3).contains('a'))
    val before = r.pos
    assert(r.code(table.get, 3).isEmpty)
    assert(r.pos == before + 3)
  }

  test("a read past the end throws PastEnd and consumes nothing") {
    val r = new BitReader(Array(0xff.toByte, 0x00.toByte), 4L, 12L)
    assert(r.bits(4) == 0xf)
    assert(r.remaining == 4)
    intercept[Bits.PastEnd](r.bits(5))
    assert(r.pos == 8)
    intercept[Bits.PastEnd](r.long(64))
    assert(r.bits(0) == 0)
    assert(r.bits(4) == 0)
    intercept[Bits.PastEnd](r.bit())
    intercept[Bits.PastEnd](r.signed(1))
    intercept[Bits.PastEnd](r.unary())
    intercept[Bits.PastEnd](r.code(Map("1" -> 1).get, 4))
    assert(r.pos == 12)
    // a byteAlign that would cross the end fails the same way
    val odd = new BitReader(Array(0.toByte), 0L, 6L)
    odd.bits(3)
    intercept[Bits.PastEnd](odd.byteAlign())
    // the exception is an IllegalStateException, which decoders catch
    assert(classOf[IllegalStateException]
      .isAssignableFrom(classOf[Bits.PastEnd]))
  }
}
