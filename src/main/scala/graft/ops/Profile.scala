package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.{keep, seal}

/** Dataset profiling — the "what is in this table" operators every
  * engine needs before any pipeline is trusted: per-column summary
  * stats in one scan, and a value histogram with DATA-DERIVED bounds.
  * The reference profiles implicitly (pandas `describe` during
  * development); here profiling is a first-class declarative query so
  * it runs distributed at corpus scale.
  */
object Profile {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** One-scan table profile, long format: every metric rides a single
    * wide aggregate (count / null-count / approx-free exact distincts
    * / min / max / cents-exact sum) and then pivots to (metric, value)
    * rows via `stack` — no per-column re-scan, no driver loop over
    * columns. All metrics are exact BIGINTs so the hash is portable.
    *
    * Scale shape: count-distinct on two key columns makes this a
    * two-phase (partial distinct, then merge) aggregate; everything
    * else map-side combines. At 100 TB you'd swap exact distincts for
    * the HLL sketch column (ops/Sketches) — same query shape. */
  val profileStats: Q = Q(
    "q_profile_stats",
    (s, dir) =>
      t(s, dir, "orders")
        .agg(
          count(lit(1)).as("n_rows"),
          count_distinct(col("o_orderkey")).as("orderkey_distinct"),
          count_distinct(col("o_custkey")).as("custkey_distinct"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("custkey_nulls"),
          count_distinct(col("o_orderstatus")).as("status_distinct"),
          min(round(col("o_totalprice") * 100, 0).cast("long")).as("price_min_cents"),
          max(round(col("o_totalprice") * 100, 0).cast("long")).as("price_max_cents"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("price_sum_cents"))
        .selectExpr(
          """stack(8,
               'n_rows', n_rows,
               'orderkey_distinct', orderkey_distinct,
               'custkey_distinct', custkey_distinct,
               'custkey_nulls', custkey_nulls,
               'status_distinct', status_distinct,
               'price_min_cents', price_min_cents,
               'price_max_cents', price_max_cents,
               'price_sum_cents', price_sum_cents) AS (metric, value)""")
        .orderBy("metric"),
    Some("""
      WITH a AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS orderkey_distinct,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS custkey_distinct,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS custkey_nulls,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_distinct,
               CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_min_cents,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_max_cents,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_sum_cents
        FROM orders)
      SELECT metric, value FROM (
        SELECT 'n_rows' AS metric, n_rows AS value FROM a
        UNION ALL SELECT 'orderkey_distinct', orderkey_distinct FROM a
        UNION ALL SELECT 'custkey_distinct', custkey_distinct FROM a
        UNION ALL SELECT 'custkey_nulls', custkey_nulls FROM a
        UNION ALL SELECT 'status_distinct', status_distinct FROM a
        UNION ALL SELECT 'price_min_cents', price_min_cents FROM a
        UNION ALL SELECT 'price_max_cents', price_max_cents FROM a
        UNION ALL SELECT 'price_sum_cents', price_sum_cents FROM a)
      ORDER BY metric"""))

  /** Equi-width histogram with bounds derived FROM THE DATA: pass 1
    * computes (min, max) as one 1-row frame, broadcast into pass 2's
    * binning — never collected to the driver. Binning arithmetic
    * stays on exact integer cents; the bin index divides once in
    * binary64 (exact-int operands ≪ 2^53, so the floor is
    * bit-identical across engines). The +1 on the span keeps the max
    * value inside the last bin without a `least()` clamp.
    *
    * Scale: two scans of one column (or one scan + cached stats);
    * the histogram aggregate map-side combines into ≤10 rows. */
  val histogram: Q = Q(
    "q_histogram",
    (s, dir) => {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val o = t(s, dir, "orders").select(cents.as("c"))
      val stats = o.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
      o.crossJoin(broadcast(stats))
        .select(floor((col("c") - col("lo")).cast("double") * 10.0 /
          (col("hi") - col("lo") + 1).cast("double")).cast("long").as("bin"),
          col("c"), col("lo"), col("hi"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min(col("c")).as("bin_min_cents"),
          max(col("c")).as("bin_max_cents"))
        .orderBy("bin")
    },
    Some("""
      WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
      stats AS (
        SELECT CAST(min(c) AS BIGINT) AS lo, CAST(max(c) AS BIGINT) AS hi FROM c)
      SELECT CAST(floor(CAST(c - lo AS DOUBLE) * 10.0 / CAST(hi - lo + 1 AS DOUBLE)) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(c) AS BIGINT) AS bin_min_cents,
             CAST(max(c) AS BIGINT) AS bin_max_cents
      FROM c, stats
      GROUP BY 1 ORDER BY 1"""))

  /** Statistical outlier detection, EXACTLY: a value is a 3σ outlier
    * in its group iff (x·n − Σx)² > 9·(n·Σx² − (Σx)²) — the z-score
    * test cross-multiplied until every term is integer arithmetic on
    * exact cents, so no sqrt, no mean, no variance double ever enters
    * the comparison (the repo's no-division discipline applied to
    * second moments). Per-group (n, Σx, Σx²) is one
    * map-side-combinable aggregate broadcast back onto the scan; the
    * magnitudes stay far under 2^63 for the events value domain
    * (cents ≤ 10⁴, n ≤ 10⁵), which ANSI mode would loudly enforce if
    * the domain grew. Output: per-group outlier counts + extremes, so
    * the hash pins every flag decision. */
  val outliers: Q = Q(
    "q_outliers",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val stats = e.groupBy(col("event_type").as("g"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
      val dev = col("c") * col("n") - col("s1")
      val isOut = dev * dev > lit(9L) * (col("n") * col("s2") - col("s1") * col("s1"))
      e.join(broadcast(stats), col("event_type") === col("g"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
          min(when(isOut, col("event_id"))).as("min_outlier_id"),
          max(when(isOut, col("c"))).as("max_outlier_cents"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS c
        FROM events),
      stats AS (
        SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        FROM e GROUP BY event_type)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN (c*n - s1)*(c*n - s1) > 9*(n*s2 - s1*s1)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             CAST(min(CASE WHEN (c*n - s1)*(c*n - s1) > 9*(n*s2 - s1*s1)
                           THEN event_id END) AS BIGINT) AS min_outlier_id,
             CAST(max(CASE WHEN (c*n - s1)*(c*n - s1) > 9*(n*s2 - s1*s1)
                           THEN c END) AS BIGINT) AS max_outlier_cents
      FROM e JOIN stats ON event_type = g
      GROUP BY event_type ORDER BY event_type"""))

  /** Referential-integrity audit — the dbt-style constraint checks a
    * pipeline runs before trusting a snapshot: FK orphan counts
    * (child keys with no parent — LEFT ANTI, must be zero on sound
    * data, and a zero PROVEN by the same hash discipline as any other
    * result), unreferenced-parent counts (dimension rows no fact ever
    * touches — the reverse ANTI, legitimately non-zero), and key
    * coverage cardinalities. Every check is an anti-join or a
    * count-distinct on the key columns only — at 100 TB the scans are
    * single-column and the joins shuffle keys, not rows. Long metric
    * format so new constraints append rows, not columns. */
  val integrityCheck: Q = Q(
    "q_integrity_check",
    (s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val l = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val p = t(s, dir, "part").select(col("p_partkey"))
      val orphanOrders = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v")).select(lit("orders_orphan_custkey").as("metric"), col("v"))
      val orphanLines = l.join(p, l("l_partkey") === p("p_partkey"), "left_anti")
        .agg(count(lit(1)).as("v")).select(lit("lineitem_orphan_partkey").as("metric"), col("v"))
      val orphanLineOrders = l.join(o, l("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("v")).select(lit("lineitem_orphan_orderkey").as("metric"), col("v"))
      val childlessCust = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("v")).select(lit("customers_without_orders").as("metric"), col("v"))
      val coverage = o.agg(count_distinct(col("o_custkey")).as("v"))
        .select(lit("orders_distinct_custkeys").as("metric"), col("v"))
      orphanOrders.unionByName(orphanLines).unionByName(orphanLineOrders)
        .unionByName(childlessCust).unionByName(coverage)
        .orderBy("metric")
    },
    Some("""
      SELECT metric, CAST(v AS BIGINT) AS v FROM (
        SELECT 'orders_orphan_custkey' AS metric, count(*) AS v FROM orders
          WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        UNION ALL
        SELECT 'lineitem_orphan_partkey', count(*) FROM lineitem
          WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        UNION ALL
        SELECT 'lineitem_orphan_orderkey', count(*) FROM lineitem
          WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        UNION ALL
        SELECT 'customers_without_orders', count(*) FROM customer
          WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        UNION ALL
        SELECT 'orders_distinct_custkeys', count(DISTINCT o_custkey) FROM orders)
      ORDER BY metric"""))

  /** Per-group z-score normalization in integer milli-units — the
    * feature-standardization pass a training pipeline runs per
    * category. Same cross-multiplication discipline as [[outliers]]:
    * the numerator `n·x − Σx` and the variance term `n·Σx² − (Σx)²`
    * are exact BIGINTs built from exact-cents sums (one tiny grouped
    * aggregate broadcast back onto the scan), and the only floating
    * steps are a correctly-rounded sqrt, one division, and a floor —
    * each deterministic IEEE-754, so all 15k per-event z-scores
    * hash-match across engines. At 100+ TB per group the raw moments
    * overflow BIGINT; the swap-in is mean-centered moments (shift by
    * a per-group pivot before squaring), same two-phase shape. */
  val groupZscore: Q = Q(
    "q_group_zscore",
    (s, dir) => {
      val cents = round(col("value") * 100, 0).cast("long")
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), cents.as("c"))
      val stats = e.groupBy(col("event_type").as("g"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(col("c") * col("c")).as("s2"))
      val z = floor(lit(1000.0) *
        (col("n") * col("c") - col("s1")).cast("double") /
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double")))
        .cast("long")
      e.join(broadcast(stats), col("event_type") === col("g"))
        .select(col("event_id"), col("event_type"), col("c"), z.as("z_milli"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS c
        FROM events),
      stats AS (
        SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
        FROM e GROUP BY event_type)
      SELECT event_id, event_type, c,
             CAST(floor(1000.0 * CAST(n * c - s1 AS DOUBLE) /
                        sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS z_milli
      FROM e JOIN stats ON event_type = g
      ORDER BY event_id"""))

  /** Winsorization: clip `n_chars` to the exact [p5, p95] corpus
    * percentiles — outlier taming before length-based quality
    * scoring. The percentiles use the rank definition "smallest value
    * whose cumulative count reaches ⌈q·n⌉", computed WITHOUT a global
    * row sort: counts collapse to the distinct-value table first (523
    * values here; bounded by the value domain, not the corpus), the
    * cumulative sum runs over that tiny table, and the two thresholds
    * come back as a 1-row broadcast onto one corpus scan. Exact
    * integer everything, so every clip decision is in the hash. At
    * truly unbounded domains the swap-in is `approx_percentile`
    * (bound-checked in q_approx_percentile) — same broadcast shape. */
  val winsorize: Q = Q(
    "q_winsorize",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val tot = d.agg(count(lit(1)).as("n_tot"))
      val cum = d.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val thresholds = cum.crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(n_tot + 19) div 20"), col("v"))).as("p5"),
          min(when(col("cum") >= expr("(19 * n_tot + 19) div 20"), col("v"))).as("p95"))
      val clipped = greatest(col("p5"), least(col("p95"), col("n_chars")))
      d.crossJoin(broadcast(thresholds))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          min(col("p5")).as("p5"), min(col("p95")).as("p95"),
          sum(when(col("n_chars") < col("p5"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("n_chars") > col("p95"), 1L).otherwise(0L)).as("n_high"),
          sum(clipped).as("sum_clipped"))
        .orderBy("lang")
    },
    Some("""
      WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
      cum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY n_chars)),
      thresholds AS (
        SELECT min(CASE WHEN cum >= (n_tot + 19) // 20 THEN v END) AS p5,
               min(CASE WHEN cum >= (19 * n_tot + 19) // 20 THEN v END) AS p95
        FROM cum CROSS JOIN tot)
      SELECT lang, CAST(count(*) AS BIGINT) AS total,
             CAST(min(p5) AS BIGINT) AS p5, CAST(min(p95) AS BIGINT) AS p95,
             CAST(sum(CASE WHEN n_chars < p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             CAST(sum(CASE WHEN n_chars > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             CAST(sum(greatest(p5, least(p95, n_chars))) AS BIGINT) AS sum_clipped
      FROM documents CROSS JOIN thresholds
      GROUP BY lang ORDER BY lang"""))

  /** Equi-depth (quantile) binning: assign every document to its
    * n_chars quartile and emit per-bin stats — the complement of
    * [[histogram]]'s equi-width bins (quantile bins adapt to the
    * distribution; width bins adapt to the range). Boundaries use the
    * same ceil-rank percentile definition as [[winsorize]], computed
    * over the distinct-value table (domain-bounded, no global row
    * sort) and broadcast back as one row. Bin populations differ only
    * by boundary ties, and every per-bin stat is an exact BIGINT, so
    * the whole binning function is in the hash. */
  val quantileBins: Q = Q(
    "q_quantile_bins",
    (s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
      val tot = d.agg(count(lit(1)).as("n_tot"))
      val cum = d.groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val bounds = cum.crossJoin(broadcast(tot))
        .agg(min(when(col("cum") >= expr("(n_tot + 3) div 4"), col("v"))).as("q1"),
          min(when(col("cum") >= expr("(2 * n_tot + 3) div 4"), col("v"))).as("q2"),
          min(when(col("cum") >= expr("(3 * n_tot + 3) div 4"), col("v"))).as("q3"))
      val bin = when(col("n_chars") <= col("q1"), 1L)
        .when(col("n_chars") <= col("q2"), 2L)
        .when(col("n_chars") <= col("q3"), 3L).otherwise(4L)
      d.crossJoin(broadcast(bounds))
        .groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("bin")
    },
    Some("""
      WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
      cum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT n_chars AS v, count(*) AS cnt FROM documents GROUP BY n_chars)),
      bounds AS (
        SELECT min(CASE WHEN cum >= (n_tot + 3) // 4 THEN v END) AS q1,
               min(CASE WHEN cum >= (2 * n_tot + 3) // 4 THEN v END) AS q2,
               min(CASE WHEN cum >= (3 * n_tot + 3) // 4 THEN v END) AS q3
        FROM cum CROSS JOIN tot)
      SELECT CAST(CASE WHEN n_chars <= q1 THEN 1 WHEN n_chars <= q2 THEN 2
                       WHEN n_chars <= q3 THEN 3 ELSE 4 END AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(min(n_chars) AS BIGINT) AS lo, CAST(max(n_chars) AS BIGINT) AS hi,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents CROSS JOIN bounds
      GROUP BY 1 ORDER BY bin"""))

  /** Chi-square test of independence between two categorical columns
    * (lang × source) — the "is my metadata balanced or confounded"
    * audit a mixture designer runs before trusting per-source or
    * per-language statistics (a source that over-samples one language
    * confounds both axes). Emits the full contingency table with
    * per-cell expected counts and chi-square terms, plus the summed
    * statistic pinned on every row.
    *
    * Determinism: the deviation N·O − R·C is exact BIGINT (products
    * bounded to ~3·10⁹ rows — the established envelope class); each
    * cell's term (N·O−R·C)²/(N·R·C) and expectation R·C/N are then a
    * fixed-shape chain of IEEE double ops + one round to micro units,
    * identical on both engines (the all-BIGINT form N·R·C overflows
    * at ~2·10⁶ rows, so the doubles are the scale-correct choice).
    * The statistic is the exact integer sum of the rounded terms.
    *
    * Scale shape: ONE corpus-scan aggregate produces the contingency
    * cells; marginals and the total re-aggregate the CELL table
    * (category-domain-sized, ≤ |lang|·|source| rows), so the joins and
    * the unpartitioned window all run over aggregated domain-bounded
    * input. */
  val chi2Independence: Q = Q(
    "q_chi2_assoc",
    (s, dir) => {
      val cells = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("obs"))
      val rt = cells.groupBy("lang").agg(sum(col("obs")).as("r"))
      val ct = cells.groupBy("source").agg(sum(col("obs")).as("c"))
      val tot = cells.agg(sum(col("obs")).as("n"))
      val dd = (col("n") * col("obs") - col("r") * col("c")).cast("double")
      val scored = cells.join(rt, "lang").join(ct, "source")
        .crossJoin(broadcast(tot))
        .withColumn("e_micro",
          round((col("r") * col("c")).cast("double") / col("n").cast("double") *
            lit(1000000.0), 0).cast("long"))
        .withColumn("term_micro",
          round(dd * dd /
            ((col("n").cast("double") * col("r").cast("double")) * col("c").cast("double")) *
            lit(1000000.0), 0).cast("long"))
      scored
        .withColumn("chi2_micro",
          sum(col("term_micro")).over(Window.partitionBy()))
        .select("lang", "source", "obs", "e_micro", "term_micro", "chi2_micro")
        .orderBy("lang", "source")
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
        FROM documents GROUP BY lang, source),
      rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS r FROM cells GROUP BY lang),
      ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS c FROM cells GROUP BY source),
      tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
      scored AS (
        SELECT lang, source, obs,
               CAST(round(CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) *
                          1000000.0) AS BIGINT) AS e_micro,
               CAST(round(CAST(n * obs - r * c AS DOUBLE) * CAST(n * obs - r * c AS DOUBLE) /
                          ((CAST(n AS DOUBLE) * CAST(r AS DOUBLE)) * CAST(c AS DOUBLE)) *
                          1000000.0) AS BIGINT) AS term_micro
        FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot)
      SELECT lang, source, obs, e_micro, term_micro,
             CAST(sum(term_micro) OVER () AS BIGINT) AS chi2_micro
      FROM scored ORDER BY lang, source"""))

  /** In-flight data-quality counters via Spark's `Observation` API:
    * the metrics ride the SAME job that materializes the pipeline's
    * real output — no second scan, no extra action — which is how a
    * production pipeline affords per-batch quality telemetry on a
    * 100 TB pass (a separate profiling query would double the I/O).
    * Here the "pipeline" filters orders to a status and the observed
    * aggregates (row/priority/extrema/cents-sum counters) are captured
    * during its parquet-write-shaped action; the query then RETURNS
    * the captured counters as a 1-row frame, and the oracle recomputes
    * them relationally — proving the observed values equal what a
    * dedicated aggregation query would have found. */
  val observedMetrics: Q = Q(
    "q_observed_metrics",
    (s, dir) => {
      val obs = new org.apache.spark.sql.Observation("graft_quality")
      val pipeline = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .observe(obs,
          count(lit(1)).as("rows"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("urgent_rows"),
          max(round(col("o_totalprice") * 100, 0).cast("long")).as("max_cents"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"))
      // the action the metrics ride on — a DATAFRAME action is
      // required (Observation delivers through the
      // QueryExecutionListener, which RDD-level actions like
      // queryExecution.toRdd never fire — obs.get would block
      // forever); the noop sink materializes every row without
      // writing anything
      pipeline.write.format("noop").mode("overwrite").save()
      val m = obs.get
      import s.implicits._
      Seq((m("rows").asInstanceOf[Long],
        m("urgent_rows").asInstanceOf[Long],
        m("max_cents").asInstanceOf[Long],
        m("total_cents").asInstanceOf[Long]))
        .toDF("rows", "urgent_rows", "max_cents", "total_cents")
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS rows,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent_rows,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders WHERE o_orderstatus = 'F'"""))

  /** Benford first-significant-digit audit — the forensic data-quality
    * check for any monetary/measure column: natural multiplicative
    * data follows P(d) = log₁₀(1+1/d); fabricated, truncated, or
    * generator-uniform data does not, and the per-digit deviation
    * table says WHICH digits are off. (The corpus's uniform price
    * generator is exactly the kind of distribution this audit is
    * built to flag — the large deviations in the output are the
    * finding, not a bug.)
    *
    * EXACT: prices go to cents (BIGINT) and the first digit comes
    * from the decimal string of that integer — no log10/pow float
    * path that could disagree at a power-of-ten boundary. Expected
    * probabilities are the nine micro-unit literals (they sum to
    * exactly 1 000 000); observed shares are BIGINT div. One
    * digit-keyed aggregate (map-side combinable, 9 groups), then
    * 9-row arithmetic against a broadcast 1-row total. */
  val benford: Q = Q(
    "q_benford",
    (s, dir) => {
      val expMicro = typedLit(Map(
        1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
        6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L))
      val digits = t(s, dir, "orders")
        .select(round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      val tot = digits.agg(sum(col("obs")).as("n")).limit(1)
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("obs"),
          expr("obs * 1000000 div n").as("obs_micro"),
          expMicro(col("digit")).as("exp_micro"),
          abs(expr("obs * 1000000 div n") - expMicro(col("digit"))).as("dev_micro"))
        .orderBy("digit")
    },
    Some("""
      WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
      digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS obs
        FROM cents GROUP BY 1),
      tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM digits),
      exp AS (
        SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
               unnest([301030,176091,124939,96910,79181,66947,57992,51153,45757]) AS exp_micro)
      SELECT d.digit, d.obs,
             CAST(d.obs * 1000000 // t.n AS BIGINT) AS obs_micro,
             CAST(e.exp_micro AS BIGINT) AS exp_micro,
             CAST(abs(d.obs * 1000000 // t.n - e.exp_micro) AS BIGINT) AS dev_micro
      FROM digits d CROSS JOIN tot t JOIN exp e ON d.digit = e.digit
      ORDER BY d.digit"""))

  /** Robust (median/MAD) anomaly audit per event_type — the
    * heavy-tail-safe twin of [[outliers]]' z-score pass: mean/stddev
    * move with every extreme value, so a burst of anomalies inflates
    * σ and hides itself; the median and the median absolute deviation
    * have 50% breakdown and keep flagging. Flag rule:
    * |c − median| > 5·MAD.
    *
    * Exactness across engines: the interpolated median of integers is
    * either an integer or an exact .5 — DOUBLING it before the cast
    * makes every quantity BIGINT (med×2, dev×2, MAD×4), and the flag
    * comparison cross-multiplies (2·dev2 > 5·mad4 ⟺ dev > 5·MAD) so
    * no division ever happens. Both engines interpolate the same way
    * (Spark `percentile` ≡ DuckDB `quantile_cont`), proven by
    * q_argmax_median's hash since round 6.
    *
    * Scale: two grouped exact percentiles + two broadcast joins of
    * group-cardinality stat frames. Exact percentile sorts within
    * groups — the 100 TB swap is `approx_percentile` (fixed-state
    * sketch, map-side combinable; see q_approx_percentile for the
    * driver-checked error bound); the flag arithmetic is unchanged. */
  val anomalyMad: Q = Q(
    "q_anomaly_mad",
    (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("c"))
      val med = e.groupBy("event_type")
        .agg(expr("cast(round(percentile(c, 0.5D) * 2) as bigint)").as("med2"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .withColumn("dev2", abs(lit(2) * col("c") - col("med2")))
      val mad = dev.groupBy("event_type")
        .agg(expr("cast(round(percentile(dev2, 0.5D) * 2) as bigint)").as("mad4"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          max(col("med2")).as("med_x2_cents"),
          max(col("mad4")).as("mad_x4_cents"),
          sum(when(lit(2) * col("dev2") > lit(5) * col("mad4"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
      med AS (
        SELECT event_type, CAST(round(quantile_cont(c, 0.5) * 2) AS BIGINT) AS med2
        FROM e GROUP BY 1),
      dev AS (
        SELECT e.event_type, c, abs(2 * c - med2) AS dev2, med2
        FROM e JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
        FROM dev GROUP BY 1)
      SELECT d.event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(max(d.med2) AS BIGINT) AS med_x2_cents,
             CAST(max(m.mad4) AS BIGINT) AS mad_x4_cents,
             CAST(sum(CASE WHEN 2 * d.dev2 > 5 * m.mad4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
      FROM dev d JOIN mad m USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type"""))

  /** Freshness / completeness SLA audit per event stream — the two
    * staleness questions an ingest dashboard answers before anyone
    * trusts a table: how far behind the clock is each source
    * (minutes from a pinned as-of to its frontier max(ts)), and did
    * any source silently skip days (distinct days present vs the
    * corpus-wide day span)? Both are exact integers: the lag is an
    * epoch-seconds difference div 60, completeness is a permille
    * cross-division, and the two release flags are the comparisons a
    * gate scripts against. One grouped aggregate over the corpus +
    * one broadcast of the 1-row global day-count — scan-shaped at
    * any scale. As-of is PINNED (2024-02-01, just past the corpus
    * frontier) per the repo's determinism contract — a production
    * deployment swaps in current_timestamp and nothing else. */
  val freshnessSla: Q = Q(
    "q_freshness_sla",
    (s, dir) => {
      val asOf = lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
      val e = t(s, dir, "events")
      val globalDays = e.agg(
        countDistinct(date_trunc("day", col("ts"))).as("days_global"))
      e.groupBy("event_type")
        .agg(max(col("ts")).as("frontier_ts"),
          countDistinct(date_trunc("day", col("ts"))).as("days_present"),
          count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(globalDays))
        // unix_timestamp floors to whole seconds; the oracle floors
        // epoch() the same way so fractional-second frontiers can't
        // straddle a minute boundary differently across engines
        .select(col("event_type"), col("frontier_ts"), col("n_rows"),
          ((unix_timestamp(asOf) - unix_timestamp(col("frontier_ts")))
            .cast("long")).as("secs_behind"),
          col("days_present"), col("days_global"))
        .withColumn("minutes_behind", expr("secs_behind div 60"))
        .drop("secs_behind")
        .withColumn("completeness_permille",
          expr("(1000 * days_present) div days_global"))
        .withColumn("fresh", (col("minutes_behind") <= 2880L).cast("long"))
        .withColumn("complete",
          (col("days_present") === col("days_global")).cast("long"))
        .orderBy("event_type")
    },
    Some("""
      WITH g AS (
        SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS days_global
        FROM events)
      SELECT event_type,
             max(ts) AS frontier_ts,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST((CAST(floor(epoch(TIMESTAMP '2024-02-01 00:00:00')) AS BIGINT)
                   - CAST(floor(epoch(max(ts))) AS BIGINT)) // 60
               AS BIGINT) AS minutes_behind,
             CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS days_present,
             days_global,
             CAST((1000 * count(DISTINCT date_trunc('day', ts))) // days_global
               AS BIGINT) AS completeness_permille,
             CAST(CASE WHEN (CAST(floor(epoch(TIMESTAMP '2024-02-01 00:00:00')) AS BIGINT)
                             - CAST(floor(epoch(max(ts))) AS BIGINT)) // 60
                            <= 2880 THEN 1 ELSE 0 END AS BIGINT) AS fresh,
             CAST(CASE WHEN count(DISTINCT date_trunc('day', ts)) = days_global
                       THEN 1 ELSE 0 END AS BIGINT) AS complete
      FROM events, g
      GROUP BY event_type, days_global ORDER BY event_type"""))

  /** REVENUE CONCENTRATION per market — exact integer Gini
    * coefficient and top-supplier share of lineitem revenue across
    * each nation's suppliers, the inequality audit behind "is this
    * market one mega-vendor or a long tail" (and, in a training-data
    * lake, "is this domain one mega-site") decisions.
    *
    * Gini from the rank form G = Σᵢ(2·rnᵢ − n − 1)·xᵢ / (n·Σx) with
    * x ascending (unique (cents, suppkey) tiebreak): the numerator is
    * nonnegative by the Chebyshev sum inequality, so Spark's
    * truncating `div` and DuckDB's `//` (also truncating — measured,
    * see q_croston) agree and the
    * permille value rides the hash exactly. Intermediates stay well
    * inside BIGINT while n·n·x̄·1000 < 2⁶³ — ~10⁸ suppliers per group
    * at TPC-H prices; past that the numerator moves to DECIMAL or the
    * grid-Lorenz approximation, noted here so the boundary is explicit.
    *
    * Scale shape: one corpus-keyed (nation, supplier) revenue
    * aggregate, then rank/count/sum windows over nation-sized
    * partitions (25 groups — never corpus-wide), one group-domain
    * rollup, broadcast nation-name join. */
  /** Per-group exact integer Gini over a (nk, sk, cents) frame —
    * the distributable core of [[giniConcentration]], factored out so
    * ProfileSpec can pin the closed forms (uniform ⇒ 0; one-hot ⇒
    * ⌊1000(n−1)/n⌋). */
  def giniByGroup(rev: DataFrame): DataFrame = {
    val w = Window.partitionBy("nk")
    val ranked = rev
      .withColumn("rn",
        row_number().over(w.orderBy(col("cents").asc, col("sk").asc)).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("tot", sum(col("cents")).over(w))
      .withColumn("mx", max(col("cents")).over(w))
    ranked.groupBy(col("nk"), col("n"), col("tot"), col("mx"))
      .agg(sum((lit(2L) * col("rn") - col("n") - lit(1L)) * col("cents")).as("num"))
  }

  val giniConcentration: Q = Q(
    "q_gini_concentration",
    (s, dir) => {
      val rev = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey").as("nk"), col("l_suppkey").as("sk"))
        .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("cents"))
      giniByGroup(rev)
        .join(t(s, dir, "nation"), col("nk") === col("n_nationkey"))
        .select(col("n_name"),
          col("n").as("n_suppliers"),
          col("tot").as("total_cents"),
          expr("(1000 * num) div (n * tot)").as("gini_permille"),
          expr("(1000 * mx) div tot").as("top_share_permille"))
        .orderBy("n_name")
    },
    Some("""
      WITH rev AS (
        SELECT s_nationkey AS nk, l_suppkey AS sk,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY 1, 2),
      ranked AS (
        SELECT nk, cents,
               CAST(row_number() OVER (PARTITION BY nk
                 ORDER BY cents ASC, sk ASC) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY nk) AS BIGINT) AS n,
               CAST(sum(cents) OVER (PARTITION BY nk) AS BIGINT) AS tot,
               CAST(max(cents) OVER (PARTITION BY nk) AS BIGINT) AS mx
        FROM rev)
      SELECT n_name, n AS n_suppliers, tot AS total_cents,
             CAST((1000 * sum((2 * rn - n - 1) * cents)) // (n * tot)
               AS BIGINT) AS gini_permille,
             CAST((1000 * mx) // tot AS BIGINT) AS top_share_permille
      FROM ranked JOIN nation ON nk = n_nationkey
      GROUP BY n_name, n, tot, mx
      ORDER BY n_name"""))

  /** V-OPTIMAL HISTOGRAM (k = 3) over the 24-hour event-count
    * profile — the OPTIMIZATION member of the histogram family:
    * where [[histogram]] uses fixed-width bins and [[quantileBins]]
    * equal-mass ones, this finds the bucket boundaries that MINIMIZE
    * total within-bucket variance (Jagadish et al., VLDB '98 — the
    * histogram query optimizers actually want). The domain is
    * bounded (24 hours), so the optimum is found by scoring the full
    * C(23,2) = 253 split grid declaratively — an exhaustive argmin,
    * not a heuristic, and still O(domain²), constant in corpus size.
    *
    * Exact: per-bucket error is surfaced as n·SSE in milli —
    * 1000·Σv² − (1000·(Σv)²) div n — one nonnegative floored
    * division per bucket (Cauchy–Schwarz keeps it ≥ 0), so the
    * total orders identically in both engines and the argmin row
    * (ties → smallest (a, b)) rides the hash.
    *
    * Scale shape: one scan → 24-row hour spine (left-join keeps
    * empty hours); prefix sums and the 253-row self-join grid live
    * entirely on the domain frame. */
  val voptHistogram: Q = Q(
    "q_vopt_histogram",
    (s, dir) => {
      val cnt = t(s, dir, "events")
        .groupBy(hour(col("ts")).cast("long").as("h"))
        .agg(count(lit(1)).as("v"))
      val spine = s.range(0, 24).select(col("id").as("h"))
      val hv = spine.join(cnt, Seq("h"), "left")
        .select(col("h"), coalesce(col("v"), lit(0L)).as("v"))
      val wPre = Window.orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = hv
        .withColumn("cv", sum(col("v")).over(wPre))
        .withColumn("cv2", sum(col("v") * col("v")).over(wPre))
      val tot = pre.agg(max(col("cv")).as("tv"), max(col("cv2")).as("tv2"))
      val grid = pre.select(col("h").as("a"), col("cv").as("cva"), col("cv2").as("cv2a"))
        .join(pre.select(col("h").as("b"), col("cv").as("cvb"), col("cv2").as("cv2b")),
          col("a") < col("b") && col("b") <= 22)
        .crossJoin(broadcast(tot))
      grid.selectExpr("a", "b",
          "1000 * cv2a - (1000 * cva * cva) div (a + 1) AS e1_milli",
          """1000 * (cv2b - cv2a)
             - (1000 * (cvb - cva) * (cvb - cva)) div (b - a) AS e2_milli""",
          """1000 * (tv2 - cv2b)
             - (1000 * (tv - cvb) * (tv - cvb)) div (23 - b) AS e3_milli""")
        .selectExpr("a", "b", "e1_milli", "e2_milli", "e3_milli",
          "e1_milli + e2_milli + e3_milli AS total_err_milli")
        .orderBy(col("total_err_milli").asc, col("a").asc, col("b").asc)
        .limit(1)
    },
    Some("""
      WITH hrs AS (SELECT unnest(generate_series(0, 23)) AS h),
      cnt AS (SELECT CAST(hour(ts) AS BIGINT) AS h,
                     CAST(count(*) AS BIGINT) AS v
              FROM events GROUP BY 1),
      hv AS (SELECT CAST(hrs.h AS BIGINT) AS h,
                    CAST(coalesce(cnt.v, 0) AS BIGINT) AS v
             FROM hrs LEFT JOIN cnt ON hrs.h = cnt.h),
      pre AS (SELECT h,
                     sum(v) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cv,
                     sum(v * v) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cv2
              FROM hv),
      tot AS (SELECT max(cv) AS tv, max(cv2) AS tv2 FROM pre),
      err AS (
        SELECT a.h AS a, b.h AS b,
               1000 * a.cv2 - (1000 * a.cv * a.cv) // (a.h + 1) AS e1_milli,
               1000 * (b.cv2 - a.cv2)
                 - (1000 * (b.cv - a.cv) * (b.cv - a.cv)) // (b.h - a.h) AS e2_milli,
               1000 * (tv2 - b.cv2)
                 - (1000 * (tv - b.cv) * (tv - b.cv)) // (23 - b.h) AS e3_milli
        FROM pre a JOIN pre b ON a.h < b.h CROSS JOIN tot
        WHERE b.h <= 22)
      SELECT a, b, CAST(e1_milli AS BIGINT) AS e1_milli,
             CAST(e2_milli AS BIGINT) AS e2_milli,
             CAST(e3_milli AS BIGINT) AS e3_milli,
             CAST(e1_milli + e2_milli + e3_milli AS BIGINT) AS total_err_milli
      FROM err
      ORDER BY total_err_milli ASC, a ASC, b ASC LIMIT 1"""))

  /** ISOLATION FOREST (derandomized, fixed depth) — the tree-ensemble
    * anomaly detector: random axis-aligned splits isolate outliers in
    * FEW cuts, so a point's expected path length is its normality.
    * Four trees of depth 3 over (totalprice cents, orderdate day);
    * every "random" choice is the md5 of (tree, node) — same
    * derandomized-coin discipline as the samplers — so both engines
    * grow IDENTICAL trees: split dim = hash mod 2, threshold = node
    * min + (hash mod 1009)/1009 of the node's range (all integer,
    * nonnegative divisions). With depth fixed, anomaly ranking comes
    * from the leaf-size continuation term c(n) = 2(ln(n−1)+γ) −
    * 2(n−1)/n (the standard avg-BST-path approximation, one rounded
    * IEEE ln per LEAF — node-domain, never per row); a point landing
    * in tiny leaves across trees is the anomaly. Top-20 smallest
    * summed path score.
    *
    * Scale shape: per level ONE bounded aggregate (≤ 4·2^lvl node
    * stats) broadcast back onto the row stream — 3 levels = 3
    * broadcast joins, no shuffle of the corpus beyond the final
    * per-key rollup; leaf scoring joins a ≤32-row frame. At 100 TB
    * this is the production shape (iForest training samples ψ rows;
    * scoring is a broadcast of the grown trees — here trees derive
    * from full-node stats, which one aggregate per level provides). */
  val isolationForest: Q = Q(
    "q_isolation_forest",
    (s, dir) => seal {
      val base = t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("x1"),
        datediff(to_date(col("o_orderdate")),
          lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("x2"))
      val trees = s.range(0, 4).select(col("id").as("tree"))
      // persist each level's routed rows: level i's split-finder
      // aggregate AND the level-(i+1) join both consume rows_i, and
      // without the cache the duplicated subtrees compound per level
      // (the final plan held ~2^4 copies of the scan×trees pipeline —
      // the same frame recomputed, not new work). Storage level note
      // (VERDICT r17): Dataset caches store compressed COLUMNAR
      // batches whatever the level's _SER flavor, so MEMORY_AND_DISK
      // is already the serialized form; the scale knob that matters
      // is that only the projected 5-column routing frame rides the
      // cache (it does), and disk spill bounds memory at ψ-sampled
      // production sizes
      var rows = base.crossJoin(broadcast(trees)).withColumn("node", lit(1L))
      for (_ <- 1 to 3) {
        val hex = md5(concat(col("tree").cast("string"), lit(":"),
          col("node").cast("string")).cast("binary"))
        val splits = rows.groupBy("tree", "node").agg(
            min(col("x1")).as("mn1"), max(col("x1")).as("mx1"),
            min(col("x2")).as("mn2"), max(col("x2")).as("mx2"))
          .withColumn("h1",
            (ascii(substring(hex, 1, 1)) * 256 + ascii(substring(hex, 2, 1))).cast("long"))
          .withColumn("h2m",
            ((ascii(substring(hex, 3, 1)) * 256 + ascii(substring(hex, 4, 1))) % 1009).cast("long"))
          .selectExpr("tree", "node", "h1 % 2 AS dim",
            """CASE WHEN h1 % 2 = 0
                 THEN mn1 + (h2m * (mx1 - mn1)) div 1009
                 ELSE mn2 + (h2m * (mx2 - mn2)) div 1009
               END AS thr""")
        rows = keep(rows.join(broadcast(splits), Seq("tree", "node"))
          .withColumn("node", col("node") * 2 +
            when((col("dim") === 0 && col("x1") > col("thr")) ||
                 (col("dim") === 1 && col("x2") > col("thr")), 1L).otherwise(0L))
          .select("k", "x1", "x2", "tree", "node"))
      }
      val leafScore = rows.groupBy("tree", "node")
        .agg(count(lit(1)).as("n"))
        .selectExpr("tree", "node", "n",
          """CASE WHEN n <= 1 THEN CAST(0 AS BIGINT)
               ELSE CAST(round(1000.0 * (2.0 * (ln(CAST(n - 1 AS DOUBLE))
                    + 0.5772156649015329)
                    - 2.0 * CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE)))
                  AS BIGINT)
             END AS c_milli""")
      rows.join(broadcast(leafScore), Seq("tree", "node"))
        .groupBy("k")
        .agg((lit(12000L) + sum(col("c_milli"))).as("score_milli"),
          min(col("n")).as("min_leaf"))
        .orderBy(col("score_milli").asc, col("k").asc)
        .limit(20)
    },
    Some(s"""
      WITH base AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x1,
               CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS x2
        FROM orders),
      trees AS (SELECT CAST(unnest(generate_series(0, 3)) AS BIGINT) AS tree),
      r0 AS (SELECT k, x1, x2, tree, CAST(1 AS BIGINT) AS node
             FROM base CROSS JOIN trees),
      ${(1 to 3).map(iforestLevelCte).mkString(",\n      ")},
      leaf AS (
        SELECT tree, node, CAST(count(*) AS BIGINT) AS n
        FROM r3 GROUP BY tree, node),
      score AS (
        SELECT tree, node, n,
               CASE WHEN n <= 1 THEN CAST(0 AS BIGINT)
                 ELSE CAST(round(1000.0 * (2.0 * (ln(CAST(n - 1 AS DOUBLE))
                      + 0.5772156649015329)
                      - 2.0 * CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE)))
                    AS BIGINT)
               END AS c_milli
        FROM leaf)
      SELECT k, CAST(12000 + sum(c_milli) AS BIGINT) AS score_milli,
             CAST(min(n) AS BIGINT) AS min_leaf
      FROM r3 JOIN score USING (tree, node)
      GROUP BY k
      ORDER BY score_milli ASC, k ASC LIMIT 20"""))

  /** One routing level of [[isolationForest]]'s oracle: node stats →
    * derandomized (dim, threshold) → child node. */
  private def iforestLevelCte(lvl: Int): String = {
    val prev = s"r${lvl - 1}"
    s"""s$lvl AS MATERIALIZED (
        SELECT tree, node,
               ascii(substr(md5(CAST(tree AS VARCHAR) || ':' ||
                 CAST(node AS VARCHAR)), 1, 1)) * 256 +
               ascii(substr(md5(CAST(tree AS VARCHAR) || ':' ||
                 CAST(node AS VARCHAR)), 2, 1)) AS h1,
               (ascii(substr(md5(CAST(tree AS VARCHAR) || ':' ||
                 CAST(node AS VARCHAR)), 3, 1)) * 256 +
                ascii(substr(md5(CAST(tree AS VARCHAR) || ':' ||
                 CAST(node AS VARCHAR)), 4, 1))) % 1009 AS h2m,
               min(x1) AS mn1, max(x1) AS mx1,
               min(x2) AS mn2, max(x2) AS mx2
        FROM $prev GROUP BY tree, node),
      sp$lvl AS MATERIALIZED (
        SELECT tree, node, h1 % 2 AS dim,
               CASE WHEN h1 % 2 = 0
                 THEN mn1 + (h2m * (mx1 - mn1)) // 1009
                 ELSE mn2 + (h2m * (mx2 - mn2)) // 1009
               END AS thr
        FROM s$lvl),
      r$lvl AS MATERIALIZED (
        SELECT r.k, r.x1, r.x2, r.tree,
               r.node * 2 + CASE WHEN (sp.dim = 0 AND r.x1 > sp.thr)
                              OR (sp.dim = 1 AND r.x2 > sp.thr)
                            THEN 1 ELSE 0 END AS node
        FROM $prev r JOIN sp$lvl sp ON r.tree = sp.tree AND r.node = sp.node)"""
  }

  /** MAHALANOBIS OUTLIERS — the MULTIVARIATE member of the outlier
    * family ([[outliers]]/[[anomalyMad]] are univariate;
    * [[isolationForest]] is model-based): distance that whitens the
    * feature covariance, so a customer who is unremarkable on spend
    * AND order count separately but breaks their correlation (huge
    * spend from two orders) surfaces. Features per customer: spend
    * (kilodollar units via one nonnegative truncating division) and
    * order count.
    *
    * Arithmetic: the five moments and the centered scatter
    * a = n·Σx²−(Σx)², b = n·Σxy−ΣxΣy, c = n·Σy²−(Σy)² are EXACT
    * BIGINTs (inside 2⁶³ through ~10⁶ customers at these units —
    * documented envelope); per-customer deviations dx = n·x−Σx are
    * exact; the quadratic form (c·dx² − 2b·dx·dy + a·dy²)/det = d²
    * exceeds BIGINT, so it is ONE fixed-order IEEE chain rounded
    * once to micro — the repo's standard cross-engine contract, the
    * expression text kept literally identical on both sides. det ≤ 0
    * (degenerate covariance) → NULL via nullif.
    *
    * Scale shape: one per-customer aggregate, a 1-row broadcast of
    * the moments, a TakeOrdered top-20. */
  val mahalanobis: Q = Q(
    "q_mahalanobis",
    (s, dir) => {
      val users = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg((sum(round(col("o_totalprice") * 100, 0).cast("long")))
          .as("cents"), count(lit(1)).as("y"))
        .selectExpr("o_custkey", "cents div 100000 AS x", "y")
      val mom = users.agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("y") * col("y")).as("syy"))
        .selectExpr("n", "sx", "sy",
          "n * sxx - sx * sx AS a", "n * sxy - sx * sy AS b",
          "n * syy - sy * sy AS c")
        .limit(1)
      users.crossJoin(broadcast(mom))
        .selectExpr("o_custkey", "x AS spend_kusd", "y AS n_orders",
          "n * x - sx AS dx", "n * y - sy AS dy", "a", "b", "c")
        .selectExpr("o_custkey", "spend_kusd", "n_orders",
          """CAST(round(1000000.0 * ((CAST(c AS DOUBLE) * dx * dx
             - 2.0 * CAST(b AS DOUBLE) * dx * dy
             + CAST(a AS DOUBLE) * dy * dy)
             / nullif(CAST(a AS DOUBLE) * CAST(c AS DOUBLE)
                      - CAST(b AS DOUBLE) * CAST(b AS DOUBLE), 0.0)))
             AS BIGINT) AS md2_micro""")
        .orderBy(col("md2_micro").desc, col("o_custkey").asc)
        .limit(20)
    },
    Some("""
      WITH users AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 // 100000 AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY o_custkey),
      mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS a,
               CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS b,
               CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS c
        FROM users)
      SELECT o_custkey, x AS spend_kusd, y AS n_orders,
             CAST(round(1000000.0 * ((CAST(c AS DOUBLE) * dx * dx
               - 2.0 * CAST(b AS DOUBLE) * dx * dy
               + CAST(a AS DOUBLE) * dy * dy)
               / nullif(CAST(a AS DOUBLE) * CAST(c AS DOUBLE)
                        - CAST(b AS DOUBLE) * CAST(b AS DOUBLE), 0.0)))
               AS BIGINT) AS md2_micro
      FROM (
        SELECT o_custkey, x, y, n * x - sx AS dx, n * y - sy AS dy, a, b, c
        FROM users CROSS JOIN mom)
      ORDER BY md2_micro DESC, o_custkey ASC LIMIT 20"""))

  /** FAIRNESS AUDIT — the responsible-AI readout no classifier ships
    * without: per-group selection rate and error rates of a fixed
    * decision rule, with the two standard parity gaps. The rule is a
    * pinned price stump ("flag orders over $300k as priority"),
    * ground truth is the order's actual urgent/high priority, and
    * groups are the customer's nation. Demographic-parity gap =
    * group selection rate − overall; equalized-odds gap = max of the
    * TPR and FPR deviations (Hardt et al.'s two-sided criterion).
    * TPC-H randomizes priority, so observed gaps are sampling noise —
    * the AUDIT is the operator; the spec plants a biased rule and
    * watches it light up.
    *
    * All-integer: confusion cells are one conditional aggregate per
    * nation; every rate floors once to permille (nonnegative); gaps
    * subtract two floored permilles (sign-safe subtraction, no
    * division). Scale shape: one broadcast dim join (customer →
    * nation), one group-domain aggregate, a 1-row overall broadcast. */
  val fairnessAudit: Q = Q(
    "q_fairness_audit",
    (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_custkey"),
        (round(col("o_totalprice") * 100, 0).cast("long") > 30000000L)
          .cast("long").as("pred"),
        (col("o_orderpriority").startsWith("1-") ||
          col("o_orderpriority").startsWith("2-")).cast("long").as("y"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val base = o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      def cells(g: org.apache.spark.sql.RelationalGroupedDataset,
          keep: Seq[String]) = g
        .agg(count(lit(1)).as("n"),
          sum(col("pred")).as("sel"),
          sum(col("pred") * col("y")).as("tp"),
          sum(col("pred") * (lit(1L) - col("y"))).as("fp"),
          sum(col("y")).as("pos"))
        .selectExpr(keep ++ Seq("n", "(1000 * sel) div n AS sel_permille",
          "(1000 * tp) div nullif(pos, 0) AS tpr_permille",
          "(1000 * fp) div nullif(n - pos, 0) AS fpr_permille"): _*)
      val overall = cells(base.groupBy(), Nil)
        .withColumnRenamed("n", "n_all")
        .withColumnRenamed("sel_permille", "sel_all")
        .withColumnRenamed("tpr_permille", "tpr_all")
        .withColumnRenamed("fpr_permille", "fpr_all")
        .limit(1)
      cells(base.groupBy(col("c_nationkey").as("nk")), Seq("nk"))
        .join(t(s, dir, "nation"), col("nk") === col("n_nationkey"))
        .crossJoin(broadcast(overall))
        .selectExpr("n_name", "n", "sel_permille", "tpr_permille", "fpr_permille",
          "sel_permille - sel_all AS dp_gap_permille",
          """greatest(abs(tpr_permille - tpr_all),
                      abs(fpr_permille - fpr_all)) AS eo_gap_permille""")
        .orderBy("n_name")
    },
    Some("""
      WITH base AS (
        SELECT c_nationkey AS nk,
               CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) > 30000000
                    THEN 1 ELSE 0 END AS pred,
               CASE WHEN o_orderpriority LIKE '1-%'
                      OR o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END AS y
        FROM orders JOIN customer ON o_custkey = c_custkey),
      grp AS (
        SELECT nk, CAST(count(*) AS BIGINT) AS n,
               CAST((1000 * sum(pred)) // count(*) AS BIGINT) AS sel_permille,
               CAST((1000 * sum(pred * y)) // nullif(sum(y), 0) AS BIGINT)
                 AS tpr_permille,
               CAST((1000 * sum(pred * (1 - y))) // nullif(count(*) - sum(y), 0)
                 AS BIGINT) AS fpr_permille
        FROM base GROUP BY nk),
      ovr AS (
        SELECT CAST((1000 * sum(pred)) // count(*) AS BIGINT) AS sel_all,
               CAST((1000 * sum(pred * y)) // nullif(sum(y), 0) AS BIGINT)
                 AS tpr_all,
               CAST((1000 * sum(pred * (1 - y))) // nullif(count(*) - sum(y), 0)
                 AS BIGINT) AS fpr_all
        FROM base)
      SELECT n_name, n, sel_permille, tpr_permille, fpr_permille,
             CAST(sel_permille - sel_all AS BIGINT) AS dp_gap_permille,
             CAST(greatest(abs(tpr_permille - tpr_all),
                           abs(fpr_permille - fpr_all)) AS BIGINT)
               AS eo_gap_permille
      FROM grp JOIN nation ON nk = n_nationkey CROSS JOIN ovr
      ORDER BY n_name"""))

  /** FUNCTIONAL-DEPENDENCY DISCOVERY — the dependency-profiling pass
    * (TANE/Metanome territory) that tells a schema designer which
    * column determines which: for each candidate A → B, does any A
    * value map to more than one B? Candidates here are six pinned
    * pairs over orders/lineitem (the key-derived ones hold, the
    * rest genuinely fail — so both verdicts are exercised). Per candidate: LHS group count,
    * violating groups, the worst fan-out, and the holds flag.
    *
    * Scale shape: each candidate is ONE two-level distinct aggregate
    * (groupBy LHS, count-distinct RHS — partials map-side combine);
    * the six unions are independent branches of one job. At 100 TB
    * the exact count-distinct swaps for the HLL sketch column with a
    * >1 test — same plan shape, same verdicts. */
  val fdDiscovery: Q = Q(
    "q_fd_discovery",
    (s, dir) => {
      def cand(df: DataFrame, name: String, lhs: String, rhs: String) = df
        .groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("k"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_violating"),
          max(col("k")).as("max_fanout"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          col("max_fanout"), (col("n_violating") === 0L).as("holds"))
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      cand(o, "o_orderkey->o_custkey", "o_orderkey", "o_custkey")
        .unionAll(cand(o, "o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"))
        .unionAll(cand(o, "o_orderdate->o_orderpriority", "o_orderdate", "o_orderpriority"))
        .unionAll(cand(o, "o_orderpriority->o_orderstatus", "o_orderpriority", "o_orderstatus"))
        .unionAll(cand(l, "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .unionAll(cand(l, "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
        .orderBy("fd")
    },
    Some("""
      WITH c1 AS (SELECT o_orderkey AS a, CAST(count(DISTINCT o_custkey) AS BIGINT) AS k
                  FROM orders GROUP BY 1),
      c2 AS (SELECT o_custkey AS a, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS k
             FROM orders GROUP BY 1),
      c3 AS (SELECT o_orderdate AS a, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS k
             FROM orders GROUP BY 1),
      c4 AS (SELECT o_orderpriority AS a, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS k
             FROM orders GROUP BY 1),
      c5 AS (SELECT l_partkey AS a, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS k
             FROM lineitem GROUP BY 1),
      c6 AS (SELECT l_orderkey AS a, CAST(count(DISTINCT l_returnflag) AS BIGINT) AS k
             FROM lineitem GROUP BY 1)
      SELECT fd, n_lhs, n_violating, max_fanout, n_violating = 0 AS holds FROM (
        SELECT 'o_orderkey->o_custkey' AS fd, CAST(count(*) AS BIGINT) AS n_lhs,
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
               CAST(max(k) AS BIGINT) AS max_fanout FROM c1
        UNION ALL
        SELECT 'o_custkey->o_orderstatus', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(max(k) AS BIGINT) FROM c2
        UNION ALL
        SELECT 'o_orderdate->o_orderpriority', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(max(k) AS BIGINT) FROM c3
        UNION ALL
        SELECT 'o_orderpriority->o_orderstatus', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(max(k) AS BIGINT) FROM c4
        UNION ALL
        SELECT 'l_partkey->l_suppkey', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(max(k) AS BIGINT) FROM c5
        UNION ALL
        SELECT 'l_orderkey->l_returnflag', CAST(count(*) AS BIGINT),
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(max(k) AS BIGINT) FROM c6)
      ORDER BY fd"""))

  /** MISSING-VALUE IMPUTATION — the repair half of null handling
    * ([[graft.ops.Parity]]'s dropna DROPS; production pipelines
    * usually FILL): group-median imputation of a value column, the
    * robust default every feature pipeline starts from. Missingness
    * is injected deterministically (md5 event coin, ~25%) so the
    * repair is auditable against ground truth: per event type the
    * output carries the null count, the exact median used, the
    * post-impute sum, AND the true sum the nulls hid — the imputation
    * bias is a visible column, not an article of faith.
    *
    * Median is exact via the two-position trick (order stats ⌈n/2⌉
    * and ⌊n/2⌋+1 averaged with one floor — identical selection both
    * engines, unique (value, event_id) tiebreak). Scale shape: one
    * scan, rank windows over per-type partitions (type-domain), one
    * group rollup. */
  val impute: Q = Q(
    "q_impute",
    (s, dir) => {
      val hex = md5(col("event_id").cast("string").cast("binary"))
      val ev = t(s, dir, "events").select(
        col("event_type"), col("event_id"),
        round(col("value") * 100, 0).cast("long").as("c"),
        (ascii(substring(hex, 12, 1)) % 4 === 0).as("miss"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("c").asc, col("event_id").asc)
      val obs = ev.filter(!col("miss"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n_obs", count(lit(1)).over(Window.partitionBy("event_type")))
      val med = obs
        .filter(expr("rn = (n_obs + 1) div 2 OR rn = n_obs div 2 + 1"))
        .groupBy("event_type")
        // integer `div` like the oracle's `//` — float `/`+cast would
        // lose exactness past 2^53 cents (ADVICE r14)
        .agg(expr("sum(c) div count(1)").as("median_cents"))
      ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("miss").cast("long")).as("n_missing"),
          sum(when(!col("miss"), col("c")).otherwise(0L)).as("obs_sum_cents"),
          sum(col("c")).as("true_sum_cents"))
        .join(med, "event_type")
        .selectExpr("event_type", "n", "n_missing", "median_cents",
          "obs_sum_cents + n_missing * median_cents AS imputed_sum_cents",
          "true_sum_cents",
          "obs_sum_cents + n_missing * median_cents - true_sum_cents AS bias_cents")
        .orderBy("event_type")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, event_id,
               CAST(round(value * 100) AS BIGINT) AS c,
               ascii(substr(md5(CAST(event_id AS VARCHAR)), 12, 1)) % 4 = 0 AS miss
        FROM events),
      obs AS (
        SELECT event_type, c,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY c ASC, event_id ASC) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_obs
        FROM ev WHERE NOT miss),
      med AS (
        SELECT event_type,
               CAST(sum(c) // count(*) AS BIGINT) AS median_cents
        FROM obs
        WHERE rn = (n_obs + 1) // 2 OR rn = n_obs // 2 + 1
        GROUP BY event_type),
      agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN miss THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
               CAST(sum(CASE WHEN NOT miss THEN c ELSE 0 END) AS BIGINT)
                 AS obs_sum_cents,
               CAST(sum(c) AS BIGINT) AS true_sum_cents
        FROM ev GROUP BY event_type)
      SELECT agg.event_type, n, n_missing, median_cents,
             CAST(obs_sum_cents + n_missing * median_cents AS BIGINT)
               AS imputed_sum_cents,
             true_sum_cents,
             CAST(obs_sum_cents + n_missing * median_cents - true_sum_cents
               AS BIGINT) AS bias_cents
      FROM agg JOIN med ON agg.event_type = med.event_type
      ORDER BY agg.event_type"""))

  /** SIMPSON'S-PARADOX AUDIT — the aggregation-reversal guardrail:
    * an association that points one way pooled can point the OTHER
    * way inside every group (the classic admission/berkeley trap),
    * and any dashboard that aggregates across a confounder needs the
    * check. For each group the audit emits the EXACT covariance
    * numerator n·Σxy − Σx·Σy (sign = association direction, no
    * division, no sqrt — the [[outliers]] cross-multiplication
    * discipline), the pooled numerator, and a reversal flag: group
    * direction strictly opposite the pooled one. Here x = hour of
    * day, y = event value cents, groups = event types; the flag is
    * the operator — ProfileSpec plants a true reversal and watches
    * every sign flip.
    *
    * Scale shape: one conditional aggregate per group off one scan
    * (map-side combinable), a 1-row pooled broadcast. */
  def simpsonAudit(rows: DataFrame): DataFrame = {
    val grp = rows.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr("g", "n", "n * sxy - sx * sy AS cov_num")
    val pooled = rows
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr("n * sxy - sx * sy AS pooled_num").limit(1)
    grp.crossJoin(broadcast(pooled))
      .selectExpr("g", "n", "cov_num",
        """CAST(CASE WHEN cov_num > 0 THEN 1 WHEN cov_num < 0 THEN -1
                ELSE 0 END AS BIGINT) AS sign""",
        "pooled_num",
        """CASE WHEN pooled_num > 0 THEN cov_num < 0
                WHEN pooled_num < 0 THEN cov_num > 0
                ELSE false END AS reversed""")
      .orderBy("g")
  }

  val simpson: Q = Q(
    "q_simpson_audit",
    (s, dir) => simpsonAudit(
      t(s, dir, "events").select(
        col("event_type").as("g"),
        hour(col("ts")).cast("long").as("x"),
        round(col("value") * 100, 0).cast("long").as("y"))),
    Some("""
      WITH rows_ AS (
        SELECT event_type AS g, CAST(hour(ts) AS BIGINT) AS x,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events),
      grp AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT) AS cov_num
        FROM rows_ GROUP BY g),
      pooled AS (
        SELECT CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
          AS pooled_num
        FROM rows_)
      SELECT g, n, cov_num,
             CAST(CASE WHEN cov_num > 0 THEN 1 WHEN cov_num < 0 THEN -1
                  ELSE 0 END AS BIGINT) AS sign,
             pooled_num,
             CASE WHEN pooled_num > 0 THEN cov_num < 0
                  WHEN pooled_num < 0 THEN cov_num > 0
                  ELSE false END AS reversed
      FROM grp CROSS JOIN pooled
      ORDER BY g"""))

  val all: Seq[Q] = Seq(profileStats, histogram, outliers, integrityCheck,
    groupZscore, winsorize, quantileBins, chi2Independence, observedMetrics,
    benford, anomalyMad, freshnessSla, giniConcentration, voptHistogram,
    isolationForest, mahalanobis, fairnessAudit, fdDiscovery, impute,
    simpson)
}
