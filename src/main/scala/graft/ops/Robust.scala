package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.keep

/** Robust/nonparametric series statistics over the daily event
  * aggregate — the estimators a metrics pipeline reaches for when OLS
  * and Pearson are too outlier-fragile: Theil–Sen slope, Kendall τ-b,
  * and Kaplan–Meier survival.
  *
  * Shared scale shape: ONE corpus scan collapses events to the
  * day-domain (or user-domain) frame; every pairwise construction
  * after that is over the AGGREGATE (≤ C(30,2) = 435 day pairs,
  * user-count lifetimes), so the O(n²) the textbooks warn about is
  * O(domain²), constant in corpus size. Order statistics are taken by
  * row_number over engine-identical doubles (each produced by ONE
  * IEEE division of exact BIGINT sums — the repo's standard
  * cross-engine contract), so every median/rank selection is
  * value-determined even when equal values permute. */
object Robust {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Daily (day-index, revenue-cents, event-count) frame. */
  private def daily(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"),
        count(lit(1)).as("n_ev"))
      .select(
        datediff(col("day"), lit(java.sql.Date.valueOf("2024-01-01")))
          .cast("long").as("d"),
        col("cents"), col("n_ev"))

  /** THEIL–SEN estimator: slope = median of all C(nd,2) pairwise
    * slopes, intercept = median of per-day residuals at that slope —
    * the regression line a single crazy day cannot move. Median via
    * the two-position trick (positions ⌈P/2⌉ and ⌊P/2⌋+1 coincide for
    * odd P), averaged — identical selection on both engines. */
  val theilSen: Q = Q(
    "q_theil_sen",
    (s, dir) => {
      val dd = keep(daily(s, dir))
      val nd = dd.count()
      val pn = nd * (nd - 1) / 2
      val slopes = dd.select(col("d").as("da"), col("cents").as("ca"))
        .join(dd.select(col("d").as("db"), col("cents").as("cb")),
          col("da") < col("db"))
        .select(((col("cb") - col("ca")).cast("double") /
          (col("db") - col("da")).cast("double")).as("slope"))
      val ranked = slopes.withColumn("rn",
        row_number().over(Window.orderBy("slope")))
      val p1 = (pn + 1) / 2; val p2 = pn / 2 + 1
      val slope = ranked.filter(col("rn") === p1 || col("rn") === p2)
        .agg(avg(col("slope"))).head().getDouble(0)
      val res = dd.select((col("cents").cast("double") -
          lit(slope) * col("d").cast("double")).as("res"))
        .withColumn("rn", row_number().over(Window.orderBy("res")))
      val q1 = (nd + 1) / 2; val q2 = nd / 2 + 1
      val icept = res.filter(col("rn") === q1 || col("rn") === q2)
        .agg(avg(col("res"))).head().getDouble(0)
      // drop the cache entry: the daily() subplan is shared across
      // queries, and a live cache registration would substitute
      // InMemoryRelation into every later plan-equal sibling
      dd.unpersist()
      s.createDataFrame(Seq((nd, pn,
          math.round(slope * 1e6), math.round(icept * 1e6))))
        .toDF("n_days", "n_pairs", "slope_micro", "icept_micro")
    },
    Some("""
      WITH dd AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1),
      n AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                   CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS pn
            FROM dd),
      sl AS (
        SELECT CAST(b.cents - a.cents AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
        FROM dd a JOIN dd b ON a.d < b.d),
      r AS (SELECT slope, row_number() OVER (ORDER BY slope) AS rn FROM sl),
      med AS (SELECT avg(slope) AS slope FROM r, n
              WHERE rn = (pn + 1) // 2 OR rn = pn // 2 + 1),
      res AS (SELECT CAST(cents AS DOUBLE) - med.slope * CAST(d AS DOUBLE) AS res
              FROM dd, med),
      rr AS (SELECT res, row_number() OVER (ORDER BY res) AS rn FROM res),
      icept AS (SELECT avg(res) AS icept FROM rr, n
                WHERE rn = (nd + 1) // 2 OR rn = nd // 2 + 1)
      SELECT nd AS n_days, pn AS n_pairs,
             CAST(round(med.slope * 1e6) AS BIGINT) AS slope_micro,
             CAST(round(icept.icept * 1e6) AS BIGINT) AS icept_micro
      FROM n, med, icept"""))

  /** KENDALL τ-b between daily revenue and daily event count —
    * rank correlation with tie correction, every count an exact
    * BIGINT over the day-pair domain; only the final normalization
    * touches doubles (one shared expression text). */
  val kendall: Q = Q(
    "q_kendall",
    (s, dir) => {
      // no persist: the two sides of the self-join share one canonical
      // aggregate subtree, which exchange reuse dedups at execution —
      // and a live cache entry on the shared daily() subplan would
      // leak InMemoryRelation into every later plan-equal query
      val dd = daily(s, dir)
      val pairs = dd.select(col("d").as("da"), col("cents").as("xa"), col("n_ev").as("ya"))
        .join(dd.select(col("d").as("db"), col("cents").as("xb"), col("n_ev").as("yb")),
          col("da") < col("db"))
      pairs.agg(
          count(lit(1)).as("n0"),
          sum(when((col("xa") < col("xb") && col("ya") < col("yb")) ||
            (col("xa") > col("xb") && col("ya") > col("yb")), 1L).otherwise(0L)).as("nc"),
          sum(when((col("xa") < col("xb") && col("ya") > col("yb")) ||
            (col("xa") > col("xb") && col("ya") < col("yb")), 1L).otherwise(0L)).as("nd"),
          sum(when(col("xa") === col("xb"), 1L).otherwise(0L)).as("tx"),
          sum(when(col("ya") === col("yb"), 1L).otherwise(0L)).as("ty"))
        .select(col("n0"), col("nc"), col("nd"), col("tx"), col("ty"),
          expr("""cast(round(1000.0 * (nc - nd) /
            sqrt(cast((n0 - tx) as double) * cast((n0 - ty) as double))) as bigint)""")
            .as("tau_milli"))
    },
    Some("""
      WITH dd AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
            FROM dd a JOIN dd b ON a.d < b.d)
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(sum(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(sum(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
                      THEN 1 ELSE 0 END) AS BIGINT) AS nd,
             CAST(sum(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(sum(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ty,
             cast(round(1000.0 * (sum(CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb) THEN 1 ELSE 0 END)
                                  - sum(CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb) THEN 1 ELSE 0 END)) /
               sqrt(cast((count(*) - sum(CASE WHEN xa = xb THEN 1 ELSE 0 END)) as double) *
                    cast((count(*) - sum(CASE WHEN ya = yb THEN 1 ELSE 0 END)) as double))) as bigint) AS tau_milli
      FROM p"""))

  /** KAPLAN–MEIER survival over user lifetimes (days between first
    * and last event). A user whose last activity touches the table
    * horizon is right-CENSORED (still alive when observation ended) —
    * they leave the risk set without a death. Survival steps are
    * exp(Σ ln((r−d)/r)) over the ordered event-time window: one IEEE
    * ln of an exact BIGINT rational per step, the established
    * both-engines contract; the d = r extinction step short-circuits
    * to 0 via a windowed flag because Spark's log(0) is NULL while
    * DuckDB's is -inf — the one divergence the guard removes. */
  val kaplanMeier: Q = Q(
    "q_kaplan_meier",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val users = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("first_day"),
          max(to_date(col("ts"))).as("last_day"))
      val horizon = users.agg(max(col("last_day"))).head().getDate(0)
      val lifeFrame = users.select(
          datediff(col("last_day"), col("first_day")).cast("long").as("life"),
          when(col("last_day") === lit(horizon), 0L).otherwise(1L).as("death"))
        .groupBy("life")
        .agg(count(lit(1)).as("n_at"), sum(col("death")).as("d"))
      val w = Window.orderBy("life")
      val cumBefore = coalesce(
        sum(col("n_at")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
      // the at-risk total comes from a full-frame window over the SAME
      // lifetime aggregate (≤31 rows) rather than a separate driver
      // action — one scan of events total, and the plan keeps its
      // Aggregate directly under every window (a persist would hide it
      // behind an InMemoryRelation from the registry plan sweep)
      val total = sum(col("n_at")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      val steps = lifeFrame
        .withColumn("r", total - cumBefore)
        .filter(col("d") > 0) // KM steps only at death times
      val cw = Window.orderBy("life").rowsBetween(Window.unboundedPreceding, 0)
      // the d = r term would be ln(0): Spark log → NULL, DuckDB ln →
      // error — guard it to 0 on BOTH engines; the extinct flag
      // forces the survival value itself
      val lnTerm = when(col("d") === col("r"), lit(0.0))
        .otherwise(log((col("r") - col("d")).cast("double") /
          col("r").cast("double")))
      steps
        .withColumn("extinct", max(when(col("d") === col("r"), 1L).otherwise(0L)).over(cw))
        .withColumn("surv_micro",
          when(col("extinct") === 1, 0L).otherwise(
            round(exp(sum(lnTerm).over(cw)) * 1e6, 0).cast("long")))
        .select(col("life"), col("d"), col("r"), col("surv_micro"))
        .orderBy("life")
    },
    Some("""
      WITH u AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
               max(CAST(ts AS DATE)) AS last_day
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      h AS (SELECT max(last_day) AS horizon FROM u),
      lf AS (
        SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS life,
               CAST(count(*) AS BIGINT) AS n_at,
               CAST(sum(CASE WHEN last_day = horizon THEN 0 ELSE 1 END) AS BIGINT) AS d
        FROM u, h GROUP BY 1),
      tot AS (SELECT CAST(sum(n_at) AS BIGINT) AS total FROM lf),
      st AS (
        SELECT life, d,
               total - coalesce(sum(n_at) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
        FROM lf, tot),
      dth AS (SELECT life, d, CAST(r AS BIGINT) AS r FROM st WHERE d > 0),
      curve AS (
        SELECT life, d, r,
               max(CASE WHEN d = r THEN 1 ELSE 0 END) OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS extinct,
               sum(CASE WHEN d = r THEN 0
                        ELSE ln(CAST(r - d AS DOUBLE) / CAST(r AS DOUBLE)) END)
                 OVER (ORDER BY life
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnsum
        FROM dth)
      SELECT life, d, r,
             CASE WHEN extinct = 1 THEN 0
                  ELSE CAST(round(exp(lnsum) * 1e6) AS BIGINT) END AS surv_micro
      FROM curve ORDER BY life"""))

  /** GROUP-SEQUENTIAL A/B monitoring (O'Brien–Fleming): the
    * two-proportion experiment of `q_ab_test` evaluated at K = 5
    * interim looks (cumulative 6-day windows), each tested against
    * the OBF boundary z_k = C·√(K/k), C = 2.040 for α ≈ 0.05 — the
    * spending schedule that makes early peeking nearly free and the
    * audit a metrics pipeline actually needs before anyone ships a
    * "significant at day 9" readout.
    *
    * Exactness is the `q_ab_test` discipline carried through the
    * boundary: z² > C²·K/k cross-multiplies to
    * 1000·k·(c₁n₂−c₂n₁)²·(n₁+n₂) > 20808·n₁n₂·c·(n−c) — all BIGINT,
    * both engines, no doubles anywhere (20808 = 1000·C²·K). Overflow
    * envelope ~10³ users per cohort (the square × corpus factors ×
    * 5000 approaches 2⁶³ past that — ANSI raises rather than
    * corrupts; pre-divide the day counts to extend).
    *
    * ONE user-level aggregate (first appearance day, first purchase
    * day) feeds all K looks via a broadcast 5-row look frame —
    * membership and conversion AT look k are just comparisons against
    * the cut, so the corpus is scanned once, not once per look. */
  val abSequential: Q = Q(
    "q_ab_sequential",
    (s, dir) => {
      val day = datediff(to_date(col("ts")),
        lit(java.sql.Date.valueOf("2024-01-01"))).cast("long")
      val u = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), col("event_type"), day.as("d"))
        .groupBy("user_id")
        .agg(min(col("d")).as("first_day"),
          min(when(col("event_type") === "purchase", col("d"))).as("first_purch"))
        .withColumn("cohort", col("user_id") % 2)
      val looks = s.createDataFrame((1 to 5).map(k => (k.toLong, 6L * k)))
        .toDF("k", "cut") // 5 rows: provably bounded side of the cross join
      u.crossJoin(broadcast(looks))
        .filter(col("first_day") < col("cut"))
        .select(col("k"), col("cut"), col("cohort"),
          when(col("first_purch") < col("cut"), 1L).otherwise(0L).as("conv"))
        .groupBy("k", "cut")
        .agg(
          sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("cohort") === 0, col("conv")).otherwise(0L)).as("c1"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n2"),
          sum(when(col("cohort") === 1, col("conv")).otherwise(0L)).as("c2"))
        .withColumn("cross_obf", expr("""
          1000 * k * (c1*n2 - c2*n1) * (c1*n2 - c2*n1) * (n1 + n2) >
          20808 * n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2)"""))
        .orderBy("k")
    },
    Some("""
      WITH u AS (
        SELECT user_id,
               CAST(min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS BIGINT) AS first_day,
               CAST(min(CASE WHEN event_type = 'purchase'
                 THEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) END) AS BIGINT) AS first_purch,
               user_id % 2 AS cohort
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      looks AS (SELECT * FROM (VALUES (1, 6), (2, 12), (3, 18), (4, 24), (5, 30)) t(k, cut)),
      per AS (
        SELECT CAST(k AS BIGINT) AS k, CAST(cut AS BIGINT) AS cut, cohort,
               CASE WHEN first_purch < cut THEN 1 ELSE 0 END AS conv
        FROM u CROSS JOIN looks
        WHERE first_day < cut),
      g AS (
        SELECT k, cut,
               CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN cohort = 0 THEN conv ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN cohort = 1 THEN conv ELSE 0 END) AS BIGINT) AS c2
        FROM per GROUP BY k, cut)
      SELECT k, cut, n1, c1, n2, c2,
             1000 * k * (c1*n2 - c2*n1) * (c1*n2 - c2*n1) * (n1 + n2) >
               20808 * n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2) AS cross_obf
      FROM g ORDER BY k"""))

  /** MANN–WHITNEY U (Wilcoxon rank-sum) on event value cents between
    * user-parity cohorts — the nonparametric two-sample test that
    * doesn't care about spend outliers the way [[graft.llm.Events]]'s
    * Welch t does. The rank machinery never ranks the corpus: ranks
    * collapse onto the VALUE DOMAIN (group by cents → per-value
    * cohort counts), where the tie-averaged rank of value v is
    * (2·cum_before + c + 1)/2 — kept in DOUBLED units so
    * 2U = Σ c_A(v)·R2(v) − n_A(n_A+1) stays exact BIGINT end to end.
    * The tie-corrected normal approximation touches doubles only in
    * the final z (σ² = n_An_B/12·[(n+1) − Σ(t³−t)/(n(n−1))], one
    * shared expression text). Overflow: Σ c·R2 ≤ 2n² ≈ 2·10¹⁰ at
    * sf0.1; t³ ≤ n³ caps the tie term at ~10⁶ rows per distinct value
    * — both far inside BIGINT here, ANSI raises beyond. */
  val mannWhitney: Q = Q(
    "q_mann_whitney",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(round(col("value") * 100, 0).cast("long").as("cents"),
          (col("user_id") % 2).as("cohort"))
      val byVal = ev.groupBy("cents")
        .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("ca"),
          count(lit(1)).as("c"))
      val w = Window.orderBy("cents")
      val ranked = byVal.withColumn("cumb",
        coalesce(sum(col("c")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      ranked.agg(
          sum(col("ca")).as("na"),
          sum(col("c") - col("ca")).as("nb"),
          sum(col("ca") * (lit(2L) * col("cumb") + col("c") + 1)).as("sum_r2a"),
          sum(col("c") * col("c") * col("c") - col("c")).as("tie3"))
        .select(col("na"), col("nb"),
          (col("sum_r2a") - col("na") * (col("na") + 1)).as("u2"),
          expr("""cast(round(1000.0 *
            (cast(sum_r2a - na * (na + 1) as double) / 2.0
              - cast(na as double) * cast(nb as double) / 2.0) /
            sqrt(cast(na as double) * cast(nb as double) / 12.0 *
              (cast(na + nb + 1 as double)
                - cast(tie3 as double) /
                  (cast(na + nb as double) * cast(na + nb - 1 as double)))))
            as bigint)""").as("z_milli"))
    },
    Some("""
      WITH v AS (
        SELECT CAST(round(value * 100) AS BIGINT) AS cents,
               user_id % 2 AS cohort
        FROM events WHERE user_id IS NOT NULL),
      g AS (
        SELECT cents,
               CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(count(*) AS BIGINT) AS c
        FROM v GROUP BY cents),
      r AS (
        SELECT ca, c,
               CAST(coalesce(sum(c) OVER (ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb
        FROM g),
      agg AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(c - ca) AS BIGINT) AS nb,
               CAST(sum(ca * (2 * cumb + c + 1)) AS BIGINT) AS sum_r2a,
               CAST(sum(c * c * c - c) AS BIGINT) AS tie3
        FROM r)
      SELECT na, nb,
             CAST(sum_r2a - na * (na + 1) AS BIGINT) AS u2,
             cast(round(1000.0 *
               (cast(sum_r2a - na * (na + 1) as double) / 2.0
                 - cast(na as double) * cast(nb as double) / 2.0) /
               sqrt(cast(na as double) * cast(nb as double) / 12.0 *
                 (cast(na + nb + 1 as double)
                   - cast(tie3 as double) /
                     (cast(na + nb as double) * cast(na + nb - 1 as double)))))
               as bigint) AS z_milli
      FROM agg"""))

  /** CHI-SQUARE independence (event_type × user-parity cohort) with
    * Cramér's V — the categorical association audit next to
    * [[kendall]]'s ordinal one. Observed/marginal counts are one
    * domain-bounded contingency aggregate; χ² = Σ (o·n − r·c)² /
    * (n·r·c) evaluates each cell term as ONE IEEE division of exact
    * BIGINT cross products (o·n − r·c is integer-exact — no expected
    * value ever materializes as a rounded float), summed over ≤10
    * cells. V = √(χ²/(n·min(r−1,c−1))). Envelope: (o·n)² ≤ 10¹⁰ at
    * sf0.1 per cell — BIGINT-safe through ~10⁹ events. */
  val chiSquare: Q = Q(
    "q_chi_square",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("event_type"), (col("user_id") % 2).as("cohort"))
      val cells = ev.groupBy("event_type", "cohort").agg(count(lit(1)).as("o"))
      val rowTot = ev.groupBy("event_type").agg(count(lit(1)).as("r"))
      val colTot = ev.groupBy("cohort").agg(count(lit(1)).as("cc"))
      val n = ev.count()
      // each cell term micro-rounds BEFORE the sum: integer summation
      // is order-independent where a double fold across shuffled cells
      // is not — the PSI/JSD determinism recipe
      cells.join(broadcast(rowTot), "event_type")
        .join(broadcast(colTot), "cohort")
        .select(round(((col("o") * n - col("r") * col("cc")) *
          (col("o") * n - col("r") * col("cc"))).cast("double")
          ./(lit(n.toDouble) * col("r").cast("double") * col("cc").cast("double"))
          * 1e6, 0).cast("long").as("term_micro"))
        .agg(sum(col("term_micro")).as("chi2_micro"))
        .select(lit(n).as("n"), lit(4L).as("dof"), col("chi2_micro"),
          round(sqrt(col("chi2_micro").cast("double") / 1e6 / n.toDouble) * 1e6, 0)
            .cast("long").as("cramers_v_micro"))
    },
    Some("""
      WITH v AS (
        SELECT event_type, user_id % 2 AS cohort
        FROM events WHERE user_id IS NOT NULL),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      cells AS (SELECT event_type, cohort, CAST(count(*) AS BIGINT) AS o
                FROM v GROUP BY event_type, cohort),
      rt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS r
             FROM v GROUP BY event_type),
      ct AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cc
             FROM v GROUP BY cohort),
      terms AS (
        SELECT CAST(round(CAST((o * n - r * cc) * (o * n - r * cc) AS DOUBLE) /
               (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) * CAST(cc AS DOUBLE))
               * 1e6) AS BIGINT) AS term_micro, n
        FROM cells
        JOIN rt USING (event_type)
        JOIN ct USING (cohort)
        CROSS JOIN n)
      SELECT max(n) AS n, CAST(4 AS BIGINT) AS dof,
             CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
             CAST(round(sqrt(CAST(sum(term_micro) AS DOUBLE) / 1e6 / max(n)) * 1e6)
               AS BIGINT) AS cramers_v_micro
      FROM terms"""))

  /** PERIODOGRAM of the daily revenue series — the DFT power spectrum
    * a seasonality monitor runs before committing to a weekly model
    * (the Holt–Winters queries ASSUME period 7; this MEASURES it).
    *
    * The determinism trick: for an N-day window every angle is a
    * multiple of 2π/N, so the entire trig surface is a 30-entry
    * table — computed ONCE in Scala, micro-rounded to integers, and
    * injected verbatim into BOTH engines (a typedlit array here, a
    * VALUES CTE interpolated from the same Scala array in the
    * oracle). No engine ever calls cos/sin at query time, so the
    * libm last-ulp latitude that makes float trig cross-engine-risky
    * simply never enters: each DFT coefficient Σ xₜ·c_micro[kt mod N]
    * is a sum of exact BIGINT products and rides the hash exactly;
    * only the final amplitude does one sqrt on those integers.
    *
    * DC handling: integer-frequency bins are orthogonal to constant
    * offsets up to the table's rounding residual (|Σ c_micro| ≤ N/2
    * micro-units), so the series is not mean-centered; the k = 0 bin
    * is simply not emitted. Scale shape: one corpus scan → 30-day
    * frame → ×14 frequencies via a broadcast bounded cross join. */
  /** DFT power table of a (d, cents) frame over an N-sample window —
    * factored so the spec can plant a pure sinusoid and watch exactly
    * one bin light up. */
  private[graft] def periodogramOf(dd: DataFrame, n: Int): DataFrame = {
    val s = dd.sparkSession
    val cM = (0 until n).map(m => math.round(math.cos(2 * math.Pi * m / n) * 1e6))
    val sM = (0 until n).map(m => math.round(math.sin(2 * math.Pi * m / n) * 1e6))
    val freqs = s.createDataFrame((1 to n / 2 - 1).map(k => Tuple1(k.toLong)))
      .toDF("k")
    dd.crossJoin(broadcast(freqs))
      .select(col("k"),
        (col("cents") * element_at(typedLit(cM), ((col("k") * col("d")) % n).cast("int") + 1))
          .as("re_term"),
        (col("cents") * element_at(typedLit(sM), ((col("k") * col("d")) % n).cast("int") + 1))
          .as("im_term"))
      .groupBy("k")
      .agg(sum(col("re_term")).as("re_num"), sum(col("im_term")).as("im_num"))
      .withColumn("amp_cents", expr(s"""
        cast(round(sqrt(cast(re_num as double) * cast(re_num as double)
          + cast(im_num as double) * cast(im_num as double)) / (1e6 * $n)) as bigint)"""))
      .orderBy("k")
  }

  val periodogram: Q = Q(
    "q_periodogram",
    (s, dir) => periodogramOf(daily(s, dir).select(col("d"), col("cents")), 30),
    Some {
      val n = 30
      val cM = (0 until n).map(m => math.round(math.cos(2 * math.Pi * m / n) * 1e6))
      val sM = (0 until n).map(m => math.round(math.sin(2 * math.Pi * m / n) * 1e6))
      val trigRows = (0 until n)
        .map(m => s"(${m}, ${cM(m)}, ${sM(m)})").mkString(", ")
      s"""
      WITH dd AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1),
      trig AS (SELECT * FROM (VALUES $trigRows) t(m, c, sn)),
      freqs AS (SELECT unnest(range(1, ${n / 2})) AS k),
      terms AS (
        SELECT CAST(k AS BIGINT) AS k,
               cents * c AS re_term, cents * sn AS im_term
        FROM dd CROSS JOIN freqs
        JOIN trig ON trig.m = (k * d) % $n)
      SELECT k, CAST(sum(re_term) AS BIGINT) AS re_num,
             CAST(sum(im_term) AS BIGINT) AS im_num,
             cast(round(sqrt(cast(sum(re_term) as double) * cast(sum(re_term) as double)
               + cast(sum(im_term) as double) * cast(sum(im_term) as double)) / (1e6 * $n)) as bigint)
               AS amp_cents
      FROM terms GROUP BY k ORDER BY k"""
    })

  /** LOG-RANK TEST — the inferential companion to [[kaplanMeier]]:
    * do two cohorts' survival curves differ? At every death time t,
    * under H₀ the deaths split between cohorts hypergeometrically:
    * e₁(t) = d·n₁/n expected cohort-1 deaths, variance
    * v(t) = d·(n₁/n)·(n₂/n)·(n−d)/(n−1); the statistic is
    * z = Σ(d₁−e₁)/√Σv. Every per-time term is ONE IEEE chain over
    * exact BIGINT risk-set counts, micro-rounded BEFORE the sum (the
    * PSI/χ² order-independence recipe), so the summed numerator and
    * variance ride the hash exactly and only the final z divides.
    *
    * Risk tables come from the same shape as KM: user-domain
    * aggregate → per-(lifetime, cohort) counts → windowed cumulative
    * at-risk over the ≤31-row aggregate. Cohorts by user parity,
    * censoring at the observation horizon as in [[kaplanMeier]]. */
  val logRank: Q = Q(
    "q_log_rank",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val users = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("first_day"),
          max(to_date(col("ts"))).as("last_day"))
      val horizon = users.agg(max(col("last_day"))).head().getDate(0)
      val lf = users.select(
          datediff(col("last_day"), col("first_day")).cast("long").as("life"),
          when(col("last_day") === lit(horizon), 0L).otherwise(1L).as("death"),
          (col("user_id") % 2).as("cohort"))
        .groupBy("life")
        .agg(
          sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("na1"),
          sum(when(col("cohort") === 0, col("death")).otherwise(0L)).as("d1"),
          sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("na2"),
          sum(when(col("cohort") === 1, col("death")).otherwise(0L)).as("d2"))
      val w = Window.orderBy("life")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val before = w.rowsBetween(Window.unboundedPreceding, -1)
      val risk = lf
        .withColumn("r1", sum(col("na1")).over(full) -
          coalesce(sum(col("na1")).over(before), lit(0L)))
        .withColumn("r2", sum(col("na2")).over(full) -
          coalesce(sum(col("na2")).over(before), lit(0L)))
        .filter(col("d1") + col("d2") > 0)
      val terms = risk.select(
        expr("""cast(round(1e6 * (cast(d1 as double)
          - cast(d1 + d2 as double) * cast(r1 as double) / cast(r1 + r2 as double)))
          as bigint)""").as("oe_micro"),
        expr("""cast(round(1e6 * cast(d1 + d2 as double)
          * (cast(r1 as double) / cast(r1 + r2 as double))
          * (cast(r2 as double) / cast(r1 + r2 as double))
          * cast(r1 + r2 - d1 - d2 as double)
          / cast(nullif(r1 + r2 - 1, 0) as double)) as bigint)""").as("v_micro"))
      terms.agg(count(lit(1)).as("n_times"),
          sum(col("oe_micro")).as("o_minus_e_micro"),
          sum(col("v_micro")).as("var_micro"))
        .select(col("n_times"), col("o_minus_e_micro"), col("var_micro"),
          expr("""cast(round(1000.0 * cast(o_minus_e_micro as double)
            / sqrt(1e6 * cast(var_micro as double))) as bigint)""").as("z_milli"))
    },
    Some("""
      WITH u AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
               max(CAST(ts AS DATE)) AS last_day
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      h AS (SELECT max(last_day) AS horizon FROM u),
      lf AS (
        SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS life,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na1,
               CAST(sum(CASE WHEN user_id % 2 = 0 AND last_day <> horizon THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na2,
               CAST(sum(CASE WHEN user_id % 2 = 1 AND last_day <> horizon THEN 1 ELSE 0 END) AS BIGINT) AS d2
        FROM u, h GROUP BY 1),
      risk AS (
        SELECT life, d1, d2,
               CAST(sum(na1) OVER () -
                 coalesce(sum(na1) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS r1,
               CAST(sum(na2) OVER () -
                 coalesce(sum(na2) OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS r2
        FROM lf),
      terms AS (
        SELECT
          cast(round(1e6 * (cast(d1 as double)
            - cast(d1 + d2 as double) * cast(r1 as double) / cast(r1 + r2 as double)))
            as bigint) AS oe_micro,
          cast(round(1e6 * cast(d1 + d2 as double)
            * (cast(r1 as double) / cast(r1 + r2 as double))
            * (cast(r2 as double) / cast(r1 + r2 as double))
            * cast(r1 + r2 - d1 - d2 as double)
            / cast(nullif(r1 + r2 - 1, 0) as double)) as bigint) AS v_micro
        FROM risk WHERE d1 + d2 > 0)
      SELECT CAST(count(*) AS BIGINT) AS n_times,
             CAST(sum(oe_micro) AS BIGINT) AS o_minus_e_micro,
             CAST(sum(v_micro) AS BIGINT) AS var_micro,
             cast(round(1000.0 * cast(sum(oe_micro) as double)
               / sqrt(1e6 * cast(sum(v_micro) as double))) as bigint) AS z_milli
      FROM terms"""))

  /** SEASONAL DECOMPOSITION (STL-lite) of the daily revenue series:
    * trend = centered 7-day moving average, seasonal = centered
    * day-of-week means of the detrended series, remainder = the rest —
    * the additive decomposition behind every "is Monday really down?"
    * dashboard, stated exactly.
    *
    * Exactness staging: the MA stays INTEGER by working in ×7 units
    * (sum of a 7-row frame, emitted only where the frame is full);
    * detrended values 7·cents − Σ₇ are BIGINT; day-of-week means and
    * their grand-mean centering are fixed double chains over the
    * 7-row dow aggregate (frame-ordered window sum — deterministic on
    * both engines), micro-rounded once; the remainder reconciles
    * micro-exactly: trend + seasonal + remainder = 1e6·cents on every
    * interior day BY CONSTRUCTION (the spec asserts it). Edges
    * (first/last 3 days) carry null trend/remainder, the honest STL
    * convention. One corpus scan; everything after is the 30-row
    * day frame. */
  val seasonalDecomp: Q = Q(
    "q_seasonal_decomp",
    (s, dir) => {
      val dd = daily(s, dir).select(col("d"), col("cents"))
      val w7 = Window.orderBy("d").rowsBetween(-3, 3)
      val t7 = dd
        .withColumn("n7", count(lit(1)).over(w7))
        .withColumn("sum7", sum(col("cents")).over(w7))
        .withColumn("det7",
          when(col("n7") === 7, lit(7L) * col("cents") - col("sum7")))
        .withColumn("dow", col("d") % 7)
      val dows = t7.filter(col("det7").isNotNull)
        .groupBy("dow")
        .agg(sum(col("det7")).as("sd"), count(lit(1)).as("n"))
      val fullFrame = Window.orderBy("dow")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val seas = dows
        .withColumn("raw", col("sd").cast("double") /
          (lit(7.0) * col("n").cast("double")))
        .withColumn("grand", sum(col("raw")).over(fullFrame) / lit(7.0))
        .select(col("dow"),
          round((col("raw") - col("grand")) * 1e6, 0).cast("long")
            .as("seasonal_micro"))
      t7.join(broadcast(seas), Seq("dow"))
        .select(col("d"), col("cents"),
          when(col("n7") === 7,
            round(col("sum7").cast("double") * 1e6 / 7.0, 0).cast("long"))
            .as("trend_micro"),
          col("seasonal_micro"),
          when(col("n7") === 7,
            lit(1000000L) * col("cents") -
              round(col("sum7").cast("double") * 1e6 / 7.0, 0).cast("long") -
              col("seasonal_micro")).as("remainder_micro"))
        .orderBy("d")
    },
    Some("""
      WITH dd AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1),
      t7 AS (
        SELECT d, cents, d % 7 AS dow,
               CAST(count(*) OVER w AS BIGINT) AS n7,
               CAST(sum(cents) OVER w AS BIGINT) AS sum7
        FROM dd
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      det AS (
        SELECT dow, CAST(sum(7 * cents - sum7) AS BIGINT) AS sd,
               CAST(count(*) AS BIGINT) AS n
        FROM t7 WHERE n7 = 7 GROUP BY dow),
      seas AS (
        SELECT dow,
               CAST(round((raw - grand) * 1e6) AS BIGINT) AS seasonal_micro
        FROM (
          SELECT dow, raw,
                 sum(raw) OVER (ORDER BY dow ROWS BETWEEN UNBOUNDED PRECEDING
                   AND UNBOUNDED FOLLOWING) / 7.0 AS grand
          FROM (SELECT dow,
                       CAST(sd AS DOUBLE) / (7.0 * CAST(n AS DOUBLE)) AS raw
                FROM det)))
      SELECT d, cents,
             CASE WHEN n7 = 7
               THEN CAST(round(CAST(sum7 AS DOUBLE) * 1e6 / 7.0) AS BIGINT) END
               AS trend_micro,
             seasonal_micro,
             CASE WHEN n7 = 7
               THEN 1000000 * cents
                 - CAST(round(CAST(sum7 AS DOUBLE) * 1e6 / 7.0) AS BIGINT)
                 - seasonal_micro END AS remainder_micro
      FROM t7 JOIN seas USING (dow)
      ORDER BY d"""))

  /** One unrolled gradient-descent iteration of the survival-hazard
    * fit as a CTE pair (aggregate aᵢ + weight update wᵢt) — the
    * [[graft.llm.Classifier.logregTrain]] recipe verbatim, generated
    * instead of hand-copied because the person-period frame replaces
    * the document features. */
  private def survIterCte(i: Int): String = {
    val prev = if (i == 1) "w0t" else s"w${i - 1}t"
    s"""a$i AS (
        SELECT sum(gm*x0) AS g0, sum(gm*x1) AS g1, sum(gm*x2) AS g2,
               CAST(sum(lterm) AS BIGINT) AS loss_micro,
               CAST(sum(ok) AS BIGINT) AS n_correct, count(*) AS n
        FROM (
          SELECT x0, x1, x2, y,
                 CAST(round(1e6 * (1.0/(1.0+exp(-zc/1000000.0)) - y)) AS BIGINT) AS gm,
                 CAST(round(1e6 * ln(1.0 + exp(-(CASE WHEN y=1 THEN zc ELSE -zc END)/1000000.0))) AS BIGINT) AS lterm,
                 CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END AS ok
          FROM (SELECT pp.*, $prev.w0*x0 + $prev.w1*x1 + $prev.w2*x2 AS z,
                       greatest(-20000000, least(20000000, $prev.w0*x0 + $prev.w1*x1 + $prev.w2*x2)) AS zc
                FROM pp, $prev))),
      w${i}t AS (SELECT CAST($prev.w0 - floor(a$i.g0/(a$i.n*64.0)) AS BIGINT) AS w0,
                        CAST($prev.w1 - floor(a$i.g1/(a$i.n*64.0)) AS BIGINT) AS w1,
                        CAST($prev.w2 - floor(a$i.g2/(a$i.n*64.0)) AS BIGINT) AS w2
                 FROM a$i, $prev)"""
  }

  /** SURVIVAL REGRESSION as a discrete-time logistic hazard — the
    * standard person-period reduction: a user alive T days
    * contributes T+1 period rows (one per day survived), y = 1 only
    * on the death period, and logistic regression on
    * (1, period, cohort) fits the hazard λ(j, cohort) — the model
    * behind "does cohort membership change churn risk, controlling
    * for tenure?", which [[logRank]] can only answer marginally.
    *
    * The expansion is ONE row-local explode (sequence(0, life)) over
    * the user-domain aggregate — person-period blowup is bounded by
    * the ≤31-day observation window, and nothing corpus-sized is
    * windowed or collected. Censoring at the horizon as in
    * [[kaplanMeier]]: a censored user contributes survival rows only.
    *
    * The fit reuses the [[graft.llm.Classifier.logregTrain]] exactness
    * recipe verbatim — micro-unit BIGINT weights, ±20e6 clamp before
    * the one IEEE sigmoid per row, per-row gradient rounding BEFORE
    * the order-free BIGINT sums, floor-divided updates — so all four
    * unrolled iterations (loss, accuracy, weights) ride the driver's
    * hash. Each iteration is one map-side-combinable aggregate over
    * the persisted person-period frame: the allreduce cadence of
    * synchronous distributed GD. */
  val survivalLogit: Q = Q(
    "q_survival_logit",
    (s, dir) => {
      val iters = 4
      val lrDiv = 64
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val users = ev.groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("first_day"),
          max(to_date(col("ts"))).as("last_day"))
      val horizon = users.agg(max(col("last_day"))).head().getDate(0)
      val pp = keep(users.select(
          datediff(col("last_day"), col("first_day")).cast("long").as("life"),
          when(col("last_day") === lit(horizon), 0L).otherwise(1L).as("death"),
          (col("user_id") % 2).as("cohort"))
        .withColumn("j", explode(sequence(lit(0L), col("life"))))
        .select(lit(1L).as("x0"), col("j").as("x1"), col("cohort").as("x2"),
          when(col("j") === col("life") && col("death") === 1L, 1L)
            .otherwise(0L).as("y")))
      var w0 = 0L; var w1 = 0L; var w2 = 0L
      val stats = (1 to iters).map { it =>
        val z = lit(w0) * col("x0") + lit(w1) * col("x1") + lit(w2) * col("x2")
        val row = pp
          .withColumn("z", z)
          .withColumn("zc", greatest(lit(-20000000L), least(lit(20000000L), col("z"))))
          .withColumn("p",
            lit(1.0) / (lit(1.0) + exp(-col("zc").cast("double") / lit(1e6))))
          .withColumn("gm", round(lit(1e6) * (col("p") - col("y")), 0).cast("long"))
          .withColumn("m", when(col("y") === 1L, col("zc")).otherwise(-col("zc")))
          .withColumn("lterm", round(lit(1e6) *
            log(lit(1.0) + exp(-col("m").cast("double") / lit(1e6))), 0).cast("long"))
          .withColumn("ok",
            when((col("z") >= 0L) === (col("y") === 1L), 1L).otherwise(0L))
          .agg(
            sum(col("gm") * col("x0")).as("g0"),
            sum(col("gm") * col("x1")).as("g1"),
            sum(col("gm") * col("x2")).as("g2"),
            sum(col("lterm")).as("loss_micro"),
            sum(col("ok")).as("n_correct"),
            count(lit(1)).as("n"))
          .head()
        val (g0, g1, g2) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val (loss, correct) = (row.getLong(3), row.getLong(4))
        val n = row.getLong(5)
        w0 -= math.floor(g0.toDouble / (n * lrDiv)).toLong
        w1 -= math.floor(g1.toDouble / (n * lrDiv)).toLong
        w2 -= math.floor(g2.toDouble / (n * lrDiv)).toLong
        (it.toLong, loss, correct, w0, w1, w2)
      }
      pp.unpersist()
      import s.implicits._
      stats.toDF("iter", "loss_micro", "n_correct", "w0_next", "w1_next", "w2_next")
        .orderBy("iter")
    },
    Some(s"""
      WITH u AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS first_day,
               max(CAST(ts AS DATE)) AS last_day
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      h AS (SELECT max(last_day) AS horizon FROM u),
      lf AS (
        SELECT CAST(date_diff('day', first_day, last_day) AS BIGINT) AS life,
               CASE WHEN last_day = horizon THEN 0 ELSE 1 END AS death,
               CAST(user_id % 2 AS BIGINT) AS cohort
        FROM u, h),
      pp AS (
        SELECT CAST(1 AS BIGINT) AS x0, CAST(j AS BIGINT) AS x1, cohort AS x2,
               CAST(CASE WHEN j = life AND death = 1 THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM (SELECT life, death, cohort, unnest(generate_series(0, life)) AS j
              FROM lf)),
      w0t AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                     CAST(0 AS BIGINT) AS w2),
      ${(1 to 4).map(survIterCte).mkString(",\n      ")}
      SELECT CAST(1 AS BIGINT) AS iter, a1.loss_micro, a1.n_correct,
             w1t.w0 AS w0_next, w1t.w1 AS w1_next, w1t.w2 AS w2_next FROM a1, w1t
      UNION ALL
      SELECT CAST(2 AS BIGINT), a2.loss_micro, a2.n_correct, w2t.w0, w2t.w1, w2t.w2 FROM a2, w2t
      UNION ALL
      SELECT CAST(3 AS BIGINT), a3.loss_micro, a3.n_correct, w3t.w0, w3t.w1, w3t.w2 FROM a3, w3t
      UNION ALL
      SELECT CAST(4 AS BIGINT), a4.loss_micro, a4.n_correct, w4t.w0, w4t.w1, w4t.w2 FROM a4, w4t
      ORDER BY iter"""))

  /** REGRESSION DISCONTINUITY — the fourth causal estimator
    * (DiD ✓ [[graft.llm.Events.didEstimate]], IPS/DR ✓, and now the
    * cutoff design): does crossing a pinned threshold of a RUNNING
    * variable jump the outcome? Local linear fit on each side of the
    * cutoff (the Imbens–Lemieux standard — local means are
    * boundary-biased, higher orders overfit), effect = the gap
    * between the two fitted intercepts AT the cutoff.
    *
    * Setting: running x = order totalprice, cutoff $250k, bandwidth
    * $50k; outcome = urgent/high order priority (milli-probability).
    * TPC-H randomizes priority, so the expected effect is ≈ 0 — the
    * estimator itself is the operator; RobustSpec plants a real jump
    * and recovers it exactly.
    *
    * Exact: x is rescaled to $100 grid units by ONE nonnegative
    * truncating division ((cents − C + h) div 10⁴ − 500 — shifted
    * first so `div` and `//` agree), all five side moments (n, Σx,
    * Σy, Σx², Σxy) are BIGINT sums off one filtered scan, and each
    * OLS intercept a = (Σy·Σx² − Σx·Σxy)/(n·Σx² − (Σx)²) surfaces
    * via ONE sign-split division (numerator sign varies; the
    * denominator is a positive variance). Overflow envelope:
    * Σy·Σx² < 2⁶³ through ~3·10⁵ in-band rows per side at these
    * units — past that, widen the grid unit (documented trade, ANSI
    * raises rather than corrupts).
    *
    * Scale shape: the band filter pushes to the scan; ONE conditional
    * aggregate produces all ten moments map-side-combinably; the
    * arithmetic is a 1-row select. Nothing after the scan is bigger
    * than one row. */
  /** Both local-linear fits and the intercept gap over an (x, y)
    * band frame (x = signed grid units around the cutoff at 0) —
    * factored so RobustSpec can plant an exact jump and slopes. */
  private[graft] def rddFit(band: DataFrame): DataFrame = {
    val withSide = band.withColumn("r", (col("x") >= 0L).cast("long"))
    def m(side: Int, e: org.apache.spark.sql.Column) =
      sum(when(col("r") === side, e).otherwise(0L))
    val mom = withSide.agg(
      m(0, lit(1L)).as("n_l"), m(0, col("x")).as("sx_l"), m(0, col("y")).as("sy_l"),
      m(0, col("x") * col("x")).as("sxx_l"), m(0, col("x") * col("y")).as("sxy_l"),
      m(1, lit(1L)).as("n_r"), m(1, col("x")).as("sx_r"), m(1, col("y")).as("sy_r"),
      m(1, col("x") * col("x")).as("sxx_r"), m(1, col("x") * col("y")).as("sxy_r"))
    def fit(sfx: String) = Seq(
      s"""CASE WHEN sy_$sfx * sxx_$sfx - sx_$sfx * sxy_$sfx >= 0
           THEN (sy_$sfx * sxx_$sfx - sx_$sfx * sxy_$sfx)
                div (n_$sfx * sxx_$sfx - sx_$sfx * sx_$sfx)
           ELSE -((sx_$sfx * sxy_$sfx - sy_$sfx * sxx_$sfx)
                div (n_$sfx * sxx_$sfx - sx_$sfx * sx_$sfx))
         END AS a_${sfx}_milli""",
      s"""CASE WHEN n_$sfx * sxy_$sfx - sx_$sfx * sy_$sfx >= 0
           THEN (1000 * (n_$sfx * sxy_$sfx - sx_$sfx * sy_$sfx))
                div (n_$sfx * sxx_$sfx - sx_$sfx * sx_$sfx)
           ELSE -((1000 * (sx_$sfx * sy_$sfx - n_$sfx * sxy_$sfx))
                div (n_$sfx * sxx_$sfx - sx_$sfx * sx_$sfx))
         END AS b_${sfx}_micro""")
    mom.selectExpr(Seq("n_l", "n_r") ++ fit("l") ++ fit("r"): _*)
      .selectExpr("n_l", "n_r", "a_l_milli", "a_r_milli",
        "a_r_milli - a_l_milli AS effect_milli", "b_l_micro", "b_r_micro")
  }

  val regDiscontinuity: Q = Q(
    "q_reg_discontinuity",
    (s, dir) => {
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val inBand = t(s, dir, "orders")
        .select(cents.as("cents"), col("o_orderpriority").as("pri"))
        .filter(col("cents") >= 20000000L && col("cents") <= 30000000L)
        .select(
          expr("(cents - 25000000 + 5000000) div 10000 - 500").as("x"),
          when(col("pri").startsWith("1-") || col("pri").startsWith("2-"), 1000L)
            .otherwise(0L).as("y"))
      rddFit(inBand)
    },
    Some("""
      WITH band AS (
        SELECT (CAST(round(o_totalprice * 100) AS BIGINT) - 25000000 + 5000000)
                 // 10000 - 500 AS x,
               CASE WHEN o_orderpriority LIKE '1-%'
                      OR o_orderpriority LIKE '2-%' THEN 1000 ELSE 0 END AS y
        FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) BETWEEN 20000000 AND 30000000),
      mom AS (
        SELECT
          CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_l,
          CAST(sum(CASE WHEN x < 0 THEN x ELSE 0 END) AS BIGINT) AS sx_l,
          CAST(sum(CASE WHEN x < 0 THEN y ELSE 0 END) AS BIGINT) AS sy_l,
          CAST(sum(CASE WHEN x < 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_l,
          CAST(sum(CASE WHEN x < 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_l,
          CAST(sum(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_r,
          CAST(sum(CASE WHEN x >= 0 THEN x ELSE 0 END) AS BIGINT) AS sx_r,
          CAST(sum(CASE WHEN x >= 0 THEN y ELSE 0 END) AS BIGINT) AS sy_r,
          CAST(sum(CASE WHEN x >= 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxx_r,
          CAST(sum(CASE WHEN x >= 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxy_r
        FROM band),
      fits AS (
        SELECT n_l, n_r,
          CAST(CASE WHEN sy_l * sxx_l - sx_l * sxy_l >= 0
            THEN (sy_l * sxx_l - sx_l * sxy_l) // (n_l * sxx_l - sx_l * sx_l)
            ELSE -((sx_l * sxy_l - sy_l * sxx_l) // (n_l * sxx_l - sx_l * sx_l))
          END AS BIGINT) AS a_l_milli,
          CAST(CASE WHEN sy_r * sxx_r - sx_r * sxy_r >= 0
            THEN (sy_r * sxx_r - sx_r * sxy_r) // (n_r * sxx_r - sx_r * sx_r)
            ELSE -((sx_r * sxy_r - sy_r * sxx_r) // (n_r * sxx_r - sx_r * sx_r))
          END AS BIGINT) AS a_r_milli,
          CAST(CASE WHEN n_l * sxy_l - sx_l * sy_l >= 0
            THEN (1000 * (n_l * sxy_l - sx_l * sy_l)) // (n_l * sxx_l - sx_l * sx_l)
            ELSE -((1000 * (sx_l * sy_l - n_l * sxy_l)) // (n_l * sxx_l - sx_l * sx_l))
          END AS BIGINT) AS b_l_micro,
          CAST(CASE WHEN n_r * sxy_r - sx_r * sy_r >= 0
            THEN (1000 * (n_r * sxy_r - sx_r * sy_r)) // (n_r * sxx_r - sx_r * sx_r)
            ELSE -((1000 * (sx_r * sy_r - n_r * sxy_r)) // (n_r * sxx_r - sx_r * sx_r))
          END AS BIGINT) AS b_r_micro
        FROM mom)
      SELECT n_l, n_r, a_l_milli, a_r_milli,
             CAST(a_r_milli - a_l_milli AS BIGINT) AS effect_milli,
             b_l_micro, b_r_micro
      FROM fits"""))

  /** MATRIX PROFILE (SAD variant) over the daily revenue series —
    * motif/discord discovery, the "which week looks like no other
    * week" question behind anomaly triage on seasonal metrics. For
    * every length-7 sliding window, the profile is the distance to
    * its nearest OTHER window (exclusion zone |i−j| ≥ 4 = ⌈m/2⌉, so
    * a window can't trivially match its own overlap); the DISCORD is
    * the window whose nearest neighbor is farthest. Distance is the
    * sum of absolute differences — exact BIGINT cents, sidestepping
    * the z-normalized float pipeline (z-norm matters for shape
    * motifs across scales; for same-unit discord detection SAD is
    * the standard robust choice).
    *
    * Scale shape: the series collapses to the day domain first (one
    * corpus scan), then the 25×25 window grid × 7 offsets is a
    * domain-bounded join (≈4.4k rows — O(domain²·m), constant in
    * corpus size, the [[theilSen]] envelope); per-window argmin and
    * the discord flag are windows over the 25-row profile. */
  val matrixProfile: Q = Q(
    "q_matrix_profile",
    (s, dir) => {
      val spine = s.range(0, 31).select(col("id").as("d"))
      val series = spine.join(daily(s, dir), Seq("d"), "left")
        .select(col("d"), coalesce(col("cents"), lit(0L)).as("v"))
      val starts = s.range(0, 25).select(col("id").as("i"))
      val grid = starts
        .join(s.range(0, 25).select(col("id").as("j")),
          abs(col("i") - col("j")) >= 4)
        .join(s.range(0, 7).select(col("id").as("t")))
      val sad = grid
        .join(series.select(col("d"), col("v").as("va")), col("d") === col("i") + col("t"))
        .drop("d")
        .join(series.select(col("d"), col("v").as("vb")), col("d") === col("j") + col("t"))
        .groupBy("i", "j")
        .agg(sum(abs(col("va") - col("vb"))).as("sad"))
      val prof = sad
        .withColumn("rn", row_number().over(
          Window.partitionBy("i").orderBy(col("sad").asc, col("j").asc)))
        .filter(col("rn") === 1)
        .select(col("i"), col("sad").as("profile_sad"), col("j").as("nn_start"))
      prof.select(col("i").as("start"), col("nn_start"), col("profile_sad"),
          (col("profile_sad") ===
            max(col("profile_sad")).over(Window.orderBy(lit(1))
              .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
            .as("is_discord"))
        .orderBy("start")
    },
    Some("""
      WITH spine AS (SELECT unnest(generate_series(0, 30)) AS d),
      agg AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1),
      series AS (
        SELECT CAST(spine.d AS BIGINT) AS d,
               CAST(coalesce(agg.cents, 0) AS BIGINT) AS v
        FROM spine LEFT JOIN agg ON spine.d = agg.d),
      starts AS (SELECT CAST(unnest(generate_series(0, 24)) AS BIGINT) AS i),
      offs AS (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT) AS t),
      sad AS (
        SELECT s1.i AS i, s2.i AS j,
               CAST(sum(abs(a.v - b.v)) AS BIGINT) AS sad
        FROM starts s1 JOIN starts s2 ON abs(s1.i - s2.i) >= 4
        CROSS JOIN offs
        JOIN series a ON a.d = s1.i + offs.t
        JOIN series b ON b.d = s2.i + offs.t
        GROUP BY s1.i, s2.i),
      prof AS (
        SELECT i AS start, sad AS profile_sad, j AS nn_start FROM (
          SELECT i, j, sad, row_number() OVER (PARTITION BY i
            ORDER BY sad ASC, j ASC) AS rn
          FROM sad)
        WHERE rn = 1)
      SELECT start, nn_start, profile_sad,
             profile_sad = max(profile_sad) OVER () AS is_discord
      FROM prof ORDER BY start"""))

  /** JACKKNIFE variance + bias correction for a RATIO statistic —
    * the deterministic resampler next to [[graft.llm.Events
    * .bootstrapCi]]'s seeded bootstrap: average order value
    * θ = Σspend/Σorders is a ratio of totals, so its plug-in
    * estimate is biased and its variance has no closed form — but
    * every leave-one-CUSTOMER-out value is closed-form from the
    * totals, θ₍ᵢ₎ = (S−sᵢ)/(T−tᵢ), so the full jackknife is one
    * user-domain pass, no resampling loop.
    *
    * Determinism: each θ₍ᵢ₎ rounds once to whole cents (nonnegative
    * floored division); the pseudo-value mean floors once; deviations
    * are signed BIGINTs whose SQUARES need no sign-split. Emits the
    * plug-in θ, the bias-corrected n·θ − (n−1)·mean(θ₍ᵢ₎), and the
    * jackknife variance (n−1)·⌊Σdev²/n⌋ in cents² (divide-then-multiply keeps the product inside BIGINT at every SF). Overflow:
    * dev² · n peaks mid-scale (~4·10¹⁷ at 10⁴ users with ±20%
    * leave-one-out swings) and SHRINKS with n beyond that (each θ₍ᵢ₎
    * approaches θ as 1/n) — inside BIGINT at every SF.
    *
    * Scale shape: one corpus-keyed per-customer aggregate, a 1-row
    * broadcast of the totals, one domain-sized rollup. */
  val jackknife: Q = Q(
    "q_jackknife",
    (s, dir) => {
      val users = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("s_i"),
          count(lit(1)).as("t_i"))
      val tot = users.agg(sum(col("s_i")).as("s"), sum(col("t_i")).as("t"),
        count(lit(1)).as("n")).limit(1)
      val loo = users.crossJoin(broadcast(tot))
        .selectExpr("s", "t", "n",
          "(s - s_i) div (t - t_i) AS th_i_cents")
      val m = loo.groupBy("s", "t", "n")
        .agg(sum(col("th_i_cents")).as("sum_th"))
        .selectExpr("n", "s div t AS theta_cents",
          "sum_th div n AS mean_loo_cents")
        .limit(1)
      loo.select("th_i_cents").crossJoin(broadcast(m))
        .groupBy("n", "theta_cents", "mean_loo_cents")
        .agg(sum((col("th_i_cents") - col("mean_loo_cents")) *
          (col("th_i_cents") - col("mean_loo_cents"))).as("ss_dev"))
        .selectExpr("n", "theta_cents",
          "n * theta_cents - (n - 1) * mean_loo_cents AS theta_jack_cents",
          "(n - 1) * (ss_dev div n) AS var_jack_cents2")
    },
    Some("""
      WITH users AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s_i,
               CAST(count(*) AS BIGINT) AS t_i
        FROM orders GROUP BY o_custkey),
      tot AS (SELECT CAST(sum(s_i) AS BIGINT) AS s, CAST(sum(t_i) AS BIGINT) AS t,
                     CAST(count(*) AS BIGINT) AS n FROM users),
      loo AS (SELECT s, t, n,
                     (s - s_i) // (t - t_i) AS th_i_cents
              FROM users CROSS JOIN tot),
      m AS (SELECT n, s // t AS theta_cents,
                   sum(th_i_cents) // n AS mean_loo_cents
            FROM loo GROUP BY n, s, t)
      SELECT m.n AS n, CAST(m.theta_cents AS BIGINT) AS theta_cents,
             CAST(m.n * m.theta_cents - (m.n - 1) * m.mean_loo_cents AS BIGINT)
               AS theta_jack_cents,
             CAST((m.n - 1) * (sum((loo.th_i_cents - m.mean_loo_cents) *
                                   (loo.th_i_cents - m.mean_loo_cents)) // m.n)
               AS BIGINT) AS var_jack_cents2
      FROM loo CROSS JOIN m
      GROUP BY m.n, m.theta_cents, m.mean_loo_cents"""))

  /** HILL TAIL-INDEX ESTIMATOR — extreme-value statistics, the
    * family the registry lacked: how heavy is the spend
    * distribution's tail? α̂ = k / Σᵢ₌₁..ₖ ln(xᵢ/x₍ₖ₊₁₎) over the
    * top-k order statistics — α < 2 means infinite variance (means
    * are unstable, percentile SLOs lie), α ≤ 1 means even the mean
    * diverges; the number that decides whether averages are
    * reportable at all. k = 50 over per-user spends.
    *
    * Determinism: the top-51 is TakeOrderedAndProject with a unique
    * (spend, user) tiebreak; each log term is ONE rounded IEEE ln of
    * a ratio of exact BIGINTs (the [[graft.llm.Drift.psi]] recipe);
    * the final α is one integer division of k·10¹² by the micro-nat
    * sum; k = min(50, n/3) so the estimator is defined at every SF.
    * The oracle's final rollup GROUPs BY the threshold exactly like
    * the engine side, so the degenerate shape agrees across engines
    * (ADVICE r14: with < 3 users k = 0 and both sides emit 0 rows —
    * an ungrouped oracle aggregate would emit 1 NULL row instead). Scale shape: one per-user aggregate, a top-k, a 51-row
    * rollup — the corpus pays only the scan. */
  val tailIndex: Q = Q(
    "q_tail_index",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val spends = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("x"))
      // k adapts to the population (min(50, n/3) — the top third up
      // to the classic k = 50), a deterministic pure function of the
      // data like the kcore percentile pick, so the estimator is
      // defined at every SF
      val kf = spends.agg(least(lit(50L), count(lit(1)) / 3).cast("long").as("k"))
        .limit(1)
      val top = spends.crossJoin(broadcast(kf))
        .orderBy(col("x").desc, col("user_id").asc).limit(51)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("x").desc, col("user_id").asc)).cast("long"))
      val thr = top.filter(col("rn") === col("k") + 1L)
        .select(col("x").as("xk1")).limit(1)
      top.filter(col("rn") <= col("k"))
        .crossJoin(broadcast(thr))
        .select(expr("""CAST(round(1000000.0 *
          ln(CAST(x AS DOUBLE) / xk1)) AS BIGINT)""").as("term_micro"),
          col("xk1"))
        .groupBy("xk1")
        .agg(count(lit(1)).as("k"), sum(col("term_micro")).as("sum_micro"))
        .selectExpr("k", "xk1 AS threshold_cents", "sum_micro",
          "(k * 1000000000000) div sum_micro AS alpha_micro")
    },
    Some("""
      WITH spends AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY user_id),
      kf AS (SELECT least(50, CAST(count(*) // 3 AS BIGINT)) AS k FROM spends),
      top AS (
        SELECT x, CAST(row_number() OVER (ORDER BY x DESC, user_id ASC)
          AS BIGINT) AS rn
        FROM spends ORDER BY x DESC, user_id ASC LIMIT 51),
      thr AS (SELECT x AS xk1 FROM top CROSS JOIN kf WHERE rn = k + 1)
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(xk1 AS BIGINT) AS threshold_cents,
             CAST(sum(CAST(round(1000000.0 *
               ln(CAST(x AS DOUBLE) / xk1)) AS BIGINT)) AS BIGINT) AS sum_micro,
             CAST((count(*) * 1000000000000) //
               sum(CAST(round(1000000.0 * ln(CAST(x AS DOUBLE) / xk1)) AS BIGINT))
               AS BIGINT) AS alpha_micro
      FROM top CROSS JOIN thr CROSS JOIN kf WHERE rn <= k
      GROUP BY xk1"""))

  val all: Seq[Q] = Seq(theilSen, kendall, kaplanMeier, abSequential,
    mannWhitney, chiSquare, periodogram, logRank, seasonalDecomp,
    survivalLogit, regDiscontinuity, matrixProfile, jackknife, tailIndex)
}
