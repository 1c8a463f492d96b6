package graft

import org.scalatest.funsuite.AnyFunSuite

/** The contract line's format ladder ([[Bench.fitLine]]): every
  * zero-preserving rung, full names then short names, is tried before any
  * rung that prints a sub-0.5 s row as `0`.
  */
class BenchLadderSpec extends AnyFunSuite {

  private def line(kvs: Seq[(String, Double)])(fmt: Double => String): String =
    kvs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  // one sub-0.5 s row, and rows whose decimals the adaptive rung drops
  private val med = ("t00_fast_row" -> 0.2) +:
    (1 to 20).map(i => f"t$i%02d_slow_row" -> 12.345)
  private val short = med.map { case (k, v) => k.takeWhile(_ != '_') -> v }

  test("only the short-name adaptive line fits: the ladder reaches it") {
    val want = line(short)(Bench.adaptive)
    val others = Seq(med, short).flatMap(kvs =>
      Seq(Bench.compact(3) _, Bench.compact(2) _, Bench.compact(1) _)
        .map(line(kvs))) :+ line(med)(Bench.adaptive)
    assert(others.forall(_.length > want.length), "fixture no longer isolates the rung")
    assert(Bench.fitLine(med, line, budget = want.length) == want)
    assert(want.contains("\"t00\":0.2"), want)
  }

  test("a short-name zero-preserving rung outranks the full-name compact(0) line") {
    val fullZero = line(med)(Bench.compact(0))
    assert(line(med)(Bench.adaptive).length > fullZero.length)
    val got = Bench.fitLine(med, line, budget = fullZero.length)
    assert(got != fullZero, "a sub-0.5 s row printed as 0 while a short-name rung fit")
    assert(got.contains("\"t00\":0.2"), got)
  }

  test("compact(0) is the last resort, and the shortest line is returned when nothing fits") {
    val shortZero = line(short)(Bench.compact(0))
    assert(Bench.fitLine(med, line, budget = shortZero.length) == shortZero)
    assert(Bench.fitLine(med, line, budget = 10) == shortZero)
  }
}
