package graft

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The one failure policy for in-query invariants: recall floors,
  * planted-pair counts, sketch envelopes, graph properties, manifest
  * rows. For the rows-only queries these checks are the only
  * correctness evidence, so a broken one throws into the harness's
  * `err` field as an `IllegalStateException` that reads
  * `<check>: measured X, bound <op> Y`.
  *
  * Measured values and bounds are Int, Long or Double, compared
  * exactly (as decimals, so a Long count against a Double bound loses
  * nothing). A null or non-finite measured value, or a non-finite
  * bound, fails the check.
  *
  * A check that is not numeric is stated as a count: duplicates are
  * k − distinct, an unsorted sequence counts its inversions, a lost
  * row counts the rows present. A strict Double bound `x > b` is
  * `atLeast(Math.nextUp(b))`, which is the same set of doubles. */
object Audit {

  /** The comparison a check makes; a failure prints it after `bound`. */
  final class Bound private[Audit] (shown: String, holds: Any => Boolean) {
    override def toString: String = shown
    private[Audit] def admits(measured: Any): Boolean = holds(measured)
  }

  def atLeast(bound: Number): Bound = compare(s">= $bound", bound)(_ >= 0)
  def atMost(bound: Number): Bound = compare(s"<= $bound", bound)(_ <= 0)
  def equal(bound: Number): Bound = compare(s"== $bound", bound)(_ == 0)
  def within(lo: Number, hi: Number): Bound = new Bound(s"in [$lo, $hi]",
    x => sign(x, lo).exists(_ >= 0) && sign(x, hi).exists(_ <= 0))

  /** Fails the query unless `measured` keeps `bound`. */
  def check(name: String, measured: Number, bound: Bound): Unit =
    verify(name, measured, bound)

  /** One named aggregate of [[frame]] and the bound its value keeps. */
  final case class Check(name: String, value: Column, bound: Bound)

  /** Evaluates every check's aggregate over `df` as one `agg` row (one
    * job), fails on the first broken check, and returns the row so the
    * caller can reuse the measured values. */
  def frame(df: DataFrame, checks: Check*): Row = {
    val row = df.agg(checks.head.value, checks.tail.map(_.value): _*).head()
    checks.zipWithIndex.foreach { case (c, i) => verify(c.name, row.get(i), c.bound) }
    row
  }

  private def verify(name: String, measured: Any, bound: Bound): Unit =
    if (!bound.admits(measured))
      throw new IllegalStateException(s"$name: measured $measured, bound $bound")

  private def compare(shown: String, bound: Number)(ok: Int => Boolean): Bound =
    new Bound(shown, x => sign(x, bound).exists(ok))

  /** The sign of `measured − bound`, or None when either is not a finite number. */
  private def sign(measured: Any, bound: Number): Option[Int] =
    for (x <- exact(measured); y <- exact(bound)) yield x.compareTo(y)

  private def exact(x: Any): Option[java.math.BigDecimal] = x match {
    case d: java.lang.Double =>
      Option.when(java.lang.Double.isFinite(d))(new java.math.BigDecimal(d.doubleValue))
    case n: java.lang.Long => Some(java.math.BigDecimal.valueOf(n.longValue))
    case n: java.lang.Integer => Some(java.math.BigDecimal.valueOf(n.longValue))
    case _ => None
  }
}
