package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** [[Audit]]: the one in-query failure policy. Each comparison form
  * passes at its bound and fails one step past it with the check name,
  * the measured value and the bound in its message; the frame form
  * evaluates several checks in one job; and no query body hand-rolls
  * an invariant throw outside the helper. */
class AuditPolicySpec extends SparkSpec {

  private def failure(body: => Unit): String =
    intercept[IllegalStateException](body).getMessage

  private def check(measured: Number, bound: Audit.Bound): Unit =
    Audit.check("x", measured, bound)

  test("atLeast: passes at the bound, fails one step below with both numbers") {
    check(5L, Audit.atLeast(5))
    assert(failure(check(4L, Audit.atLeast(5))) == "x: measured 4, bound >= 5")
    check(0.5, Audit.atLeast(0.5))
    assert(failure(check(Math.nextDown(0.5), Audit.atLeast(0.5))) ==
      s"x: measured ${Math.nextDown(0.5)}, bound >= 0.5")
  }

  test("atMost: passes at the bound, fails one step above with both numbers") {
    check(0L, Audit.atMost(0))
    assert(failure(check(1L, Audit.atMost(0))) == "x: measured 1, bound <= 0")
    check(1e-9, Audit.atMost(1e-9))
    assert(failure(check(Math.nextUp(1e-9), Audit.atMost(1e-9))) ==
      s"x: measured ${Math.nextUp(1e-9)}, bound <= 1.0E-9")
  }

  test("equal: passes on the bound, fails one step to either side") {
    check(1L, Audit.equal(1))
    assert(failure(check(2L, Audit.equal(1))) == "x: measured 2, bound == 1")
    assert(failure(check(0, Audit.equal(1L))) == "x: measured 0, bound == 1")
  }

  test("within: passes at both ends, fails one step outside either") {
    check(90L, Audit.within(90L, 100L))
    check(100L, Audit.within(90L, 100L))
    assert(failure(check(89L, Audit.within(90L, 100L))) == "x: measured 89, bound in [90, 100]")
    assert(failure(check(101L, Audit.within(90L, 100L))) == "x: measured 101, bound in [90, 100]")
    check(-1e-9, Audit.within(-1e-9, 1.0))
    assert(failure(check(Math.nextDown(-1e-9), Audit.within(-1e-9, 1.0))) ==
      s"x: measured ${Math.nextDown(-1e-9)}, bound in [-1.0E-9, 1.0]")
  }

  test("the check name leads the message") {
    assert(failure(Audit.check("planted pairs recovered", 1L, Audit.atLeast(2))) ==
      "planted pairs recovered: measured 1, bound >= 2")
  }

  test("a Long count against a Double bound compares exactly; NaN and null fail") {
    check(3L, Audit.atMost(3.0))
    assert(failure(check(4L, Audit.atMost(3.5))) == "x: measured 4, bound <= 3.5")
    assert(failure(check(Double.NaN, Audit.atLeast(0.0))) == "x: measured NaN, bound >= 0.0")
    val df = spark.range(0, 3, 1, 1).toDF().filter(col("id") > 10)
    assert(failure(Audit.frame(df, Audit.Check("max id", max(col("id")), Audit.atLeast(0)))) ==
      "max id: measured null, bound >= 0")
  }

  test("frame: three checks over one agg row run one job and return the row") {
    val df = spark.range(0, 100, 1, 1).toDF()
    val checks = Seq(
      Audit.Check("rows", count(lit(1)), Audit.equal(100)),
      Audit.Check("min id", min(col("id")), Audit.atLeast(0)),
      Audit.Check("max id", max(col("id")), Audit.within(0, 99)))
    val group = "graft-audit-frame-spec"
    val (started, ended) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && p.getProperty("spark.jobGroup.id") == group
      private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) { jobs.put(e.jobId, true); started.incrementAndGet() }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.containsKey(e.jobId)) ended.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val row = try {
      spark.sparkContext.setJobGroup(group, "audit frame spec")
      try Audit.frame(df, checks: _*) finally spark.sparkContext.clearJobGroup()
    } finally {
      val deadline = System.nanoTime() + 10000000000L
      while ((started.get == 0 || ended.get < started.get) && System.nanoTime() < deadline)
        Thread.sleep(20)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(started.get == 1, s"jobs: ${started.get}")
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((100L, 0L, 99L)))
    val e = intercept[IllegalStateException](
      Audit.frame(df, checks.updated(1, Audit.Check("min id", min(col("id")), Audit.atLeast(1))): _*))
    assert(e.getMessage == "min id: measured 0, bound >= 1")
  }

  /** Each `(file, fragment)` hit whose line (or the next two) carries
    * a fragment of its file is allowed; the rest are offenders. */
  private def scan(pattern: String, allowed: Set[(String, String)],
      exempt: java.nio.file.Path => Boolean): Seq[(String, Option[(String, String)])] =
    MainSources.files.filterNot { case (p, _) => exempt(p) }.flatMap { case (p, lines) =>
      val name = p.getFileName.toString
      lines.indices.collect {
        case i if pattern.r.findFirstIn(lines(i)).isDefined =>
          // the message may open on the call's line or one of the next two
          val text = lines.slice(i, i + 3).mkString(" ")
          (MainSources.at(p, i), allowed.find { case (f, m) => f == name && text.contains(m) })
      }
    }

  test("no hand-rolled invariant throw outside Audit (named non-audit throws excepted)") {
    // safety code, not in-query invariants: each is (file, message prefix)
    val allowed = Set(
      "Audit.scala" -> "s\"$name: measured",
      "Dbscan.scala" -> "\"unreachable\"",
      "LongLongOpenMap.scala" -> "\"unreachable\"",
      "Ridge.scala" -> "s\"ridge system singular",
      "PagedJsonSource.scala" -> "s\"unpushable filter leaked",
      "Checkpoints.scala" -> "s\"$ReliableKey=true on a non-local master")
    val hits = scan("throw new IllegalStateException", allowed, _ => false)
    assert(hits.flatMap(_._2).toSet == allowed, s"the scan must see every named throw: $hits")
    assert(hits.count(_._2.isDefined) == allowed.size, s"one hit per named throw: $hits")
    val offenders = hits.filter(_._2.isEmpty).map(_._1)
    assert(offenders.isEmpty,
      offenders.mkString("invariant thrown outside graft.Audit: ", ", ", ""))
  }

  test("no in-query require: only argument, decoder and input-precondition requires") {
    // the UDF/UDAF argument checks of graft.functions run per row, not per query
    val functions = (p: java.nio.file.Path) => p.toString.contains("/graft/functions/")
    val allowed = Set(
      "AsofJoinExec.scala" -> "as-of time column",
      "Graph.scala" -> "\"empty history state\"",
      "Graph.scala" -> "requires a settled vertex set",
      "Retrieval.scala" -> "ranking store is staged at k=20",
      "Pq.scala" -> "not divisible by m=",
      "Multimodal.scala" -> "undecodable payload",
      "Multimodal.scala" -> "s\"doc $id: ",
      "Multimodal.scala" -> "s\"pHash: image too small")
    val hits = scan("\\brequire\\(", allowed, functions)
    assert(hits.flatMap(_._2).toSet == allowed, s"the scan must see every named require: $hits")
    val offenders = hits.filter(_._2.isEmpty).map(_._1)
    assert(offenders.isEmpty,
      offenders.mkString("in-query require outside graft.Audit: ", ", ", ""))
  }
}
