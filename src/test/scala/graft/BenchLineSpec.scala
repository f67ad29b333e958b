package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout line always fits its 2000-character window:
  * precision drops first, then the headline map is trimmed with a
  * marker. */
class BenchLineSpec extends AnyFunSuite {

  private def line(qs: Seq[(String, Double)], fmt: Double => String,
                   trimmed: Int): String = {
    val m = qs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    s"""{"queries":$m""" +
      (if (trimmed > 0) s""","trimmed":$trimmed""" else "") + "}"
  }

  private def head(n: Int, nameLen: Int): Seq[(String, Double)] =
    (0 until n).map(i => (f"q$i%04d" + "x" * nameLen, 1.0 + i * 0.123456))

  test("a headline set that fits keeps 3 decimals and every entry") {
    val out = Bench.fitLine(head(10, 4), Bench.LineBudget)(line)
    assert(out.contains("\"q0001xxxx\":1.123") && !out.contains("trimmed"))
  }

  test("precision drops before any entry is dropped") {
    val hs = head(105, 6)
    assert(line(hs, v => f"$v%.1f", 0).length > Bench.LineBudget)
    val out = Bench.fitLine(hs, Bench.LineBudget)(line)
    assert(out.length <= Bench.LineBudget)
    assert(!out.contains("trimmed"))
    assert(hs.forall { case (k, _) => out.contains("\"" + k + "\"") })
  }

  test("an oversized headline set is trimmed to fit, slowest kept, marked") {
    val hs = head(400, 12)
    val out = Bench.fitLine(hs, Bench.LineBudget)(line)
    assert(out.length <= Bench.LineBudget)
    val kept = hs.count { case (k, _) => out.contains("\"" + k + "\"") }
    assert(kept > 0 && kept < hs.length)
    assert(out.contains(s""""trimmed":${hs.length - kept}"""))
    // the slowest entry (largest value) is kept, the fastest dropped
    assert(out.contains("\"" + hs.last._1 + "\"") &&
      !out.contains("\"" + hs.head._1 + "\""))
  }
}
