package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the harness rules: a failed query has no time, so any
  * failure voids the bench total instead of counting as 0 s; and
  * Verify's heavy list names only registered queries. */
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

  test("every query on Verify's heavy list is registered") {
    val unknown = Verify.heavySet -- SparkEntry.registry.map(_.name)
    assert(unknown.isEmpty, s"renamed or removed heavy queries: $unknown")
  }
}
