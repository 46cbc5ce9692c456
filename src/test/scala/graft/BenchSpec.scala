package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench total rule: a failed query has no time, so any
  * failure voids the total instead of counting as 0 s. */
class BenchSpec extends AnyFunSuite {
  test("total is the median of the per-pass totals") {
    val passes = Seq(Seq(Some(1.0), Some(2.0)), Seq(Some(5.0), Some(5.0)),
      Seq(Some(2.0), Some(2.0)))
    assert(Bench.total(passes) === Some(4.0))
  }

  test("a failed query in any pass voids the total (never 0 s)") {
    val ok = Seq(Some(1.0), Some(2.0))
    assert(Bench.total(Seq(Seq(Some(1.0), None), ok, ok)) === None)
    assert(Bench.total(Seq(ok, ok, Seq(None, Some(2.0)))) === None)
    assert(Bench.total(Seq(Seq(None))) === None)
  }
}
