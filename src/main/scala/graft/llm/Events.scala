package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.{keep, seal}

/** Semi-structured + event-time operators over the `events` table:
  * JSON property extraction (SURVEY.md §2h F12 generalized to a data
  * column) and tumbling-window aggregation — the batch twin of the
  * Structured Streaming window (graft.streaming), sharing semantics so
  * a stream job's output can be oracle-checked against this query.
  */
object Events {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** JSON extraction + grouped aggregation: `get_json_object` is the
    * engine-native path (codegen, no UDF); money-style double sums go
    * through exact cents (SURVEY.md §7.5). */
  val jsonExtract: Q = Q(
    "q_json_extract",
    (s, dir) =>
      t(s, dir, "events")
        .withColumn("k", expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(k) AS BIGINT) AS sum_k,
             CAST(min(k) AS BIGINT) AS min_k,
             CAST(max(k) AS BIGINT) AS max_k,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM (SELECT *, try_cast(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  /** Tumbling event-time window (1 hour) × event_type — expressed with
    * date_trunc so the oracle is dialect-shared. In streaming mode the
    * identical aggregation runs with `window($"ts", "1 hour")` + a
    * watermark (see graft.streaming.EventStream); this batch query is
    * its replay/backfill form. */
  val hourlyWindow: Q = Q(
    "q_time_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(
          date_trunc("hour", col("ts")).as("window_start"),
          col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))
        .orderBy("window_start", "event_type"),
    Some("""
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** Sessionization-lite: per-user event ordering with lag-based
    * session cut at 30 min idle — window-function capability on
    * event-time (SURVEY.md §2e extension). Session ids are emitted as
    * (user_id, session_seq). */
  val sessionize: Q = Q(
    "q_sessionize",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_seq", sum(col("new_session")).over(running))
        .groupBy("user_id", "session_seq")
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_seq")
    },
    Some("""
      SELECT user_id, session_seq,
             CAST(count(*) AS BIGINT) AS n_events,
             min(ts) AS session_start, max(ts) AS session_end
      FROM (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_ts IS NULL
                        OR date_diff('second', prev_ts, ts) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(ts, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS prev_ts
            FROM events)))
      GROUP BY user_id, session_seq ORDER BY user_id, session_seq"""))

  /** Ordered funnel: view → click-after-view → purchase-after-click,
    * with strict event-time ordering between stages (a click BEFORE
    * the first view does not count — the semantic that separates a
    * funnel from three independent counts). Each stage is a per-user
    * min over a type-filtered slice joined to the previous stage's
    * frontier, so the work per stage shrinks monotonically; all joins
    * key on user_id (co-partitioned at scale, auto-broadcast at
    * harness scale — the frontier frames are one row per surviving
    * user). Stages are time-bounded (next stage within 24 h) so the
    * funnel genuinely narrows; time-to-convert sums exact SECONDS
    * (bigint), and the stage counts assemble via 1-row broadcast
    * cross-joins. */
  val funnel: Q = Q(
    "q_funnel",
    (s, dir) => {
      val e = t(s, dir, "events")
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"))
        .agg(min(col("ts")).as("v_ts"))
      val c = e.filter(col("event_type") === "click")
        .join(v, col("user_id") === col("v_user"))
        .filter(col("ts") > col("v_ts") &&
          col("ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id").as("c_user"))
        .agg(min(col("ts")).as("c_ts"), min(col("v_ts")).as("cv_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, col("user_id") === col("c_user"))
        .filter(col("ts") > col("c_ts") &&
          col("ts") <= col("c_ts") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id").as("p_user"))
        .agg(min(col("ts")).as("p_ts"), min(col("cv_ts")).as("pv_ts"))
      val nv = v.agg(count(lit(1)).as("n_view"))
      val nc = c.agg(count(lit(1)).as("n_click_after_view"))
      // coalesce: an empty final stage must read 0 converted seconds,
      // not NULL, so batch / streaming / oracle agree on zero-funnel
      // corpora (sum over no rows is NULL)
      val np = p.agg(count(lit(1)).as("n_full_funnel"),
        coalesce(sum(unix_timestamp(col("p_ts")) - unix_timestamp(col("pv_ts"))),
          lit(0L)).as("total_convert_secs"))
      nv.crossJoin(broadcast(nc)).crossJoin(broadcast(np))
    },
    Some("""
      WITH v AS (
        SELECT user_id AS v_user, min(ts) AS v_ts FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT user_id AS c_user, min(ts) AS c_ts, min(v_ts) AS cv_ts
        FROM events JOIN v ON user_id = v_user AND ts > v_ts
                          AND ts <= v_ts + INTERVAL 24 HOUR
        WHERE event_type = 'click' GROUP BY user_id),
      p AS (
        SELECT user_id AS p_user, min(ts) AS p_ts, min(cv_ts) AS pv_ts
        FROM events JOIN c ON user_id = c_user AND ts > c_ts
                          AND ts <= c_ts + INTERVAL 24 HOUR
        WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_view,
             (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_click_after_view,
             (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_full_funnel,
             COALESCE((SELECT CAST(sum(date_diff('second', pv_ts, p_ts)) AS BIGINT) FROM p), 0)
               AS total_convert_secs"""))

  /** Cohort retention: users bucketed by first-seen week, counted in
    * every week they return — the (cohort_week, active_week) matrix
    * behind any retention curve. Weeks are integer day-offsets from a
    * pinned origin divided by 7 (never calendar week-of-year, whose
    * start-of-week convention differs across engines). Shape: the
    * first-seen frame is one row per user joined back on user_id
    * (co-partitioned at scale); the per-(user, week) de-dup runs
    * BEFORE the count so the final aggregate never sees duplicate
    * user-weeks — both aggregates map-side combine. */
  val cohortRetention: Q = Q(
    "q_cohort_retention",
    (s, dir) => {
      val origin = lit("2024-01-01").cast("date")
      val e = t(s, dir, "events")
      val firstSeen = e.groupBy(col("user_id").as("f_user"))
        .agg(min(to_date(col("ts"))).as("first_day"))
      e.select(col("user_id"), to_date(col("ts")).as("day"))
        .join(firstSeen, col("user_id") === col("f_user"))
        .select(col("user_id"),
          floor(datediff(col("first_day"), origin) / 7).cast("long").as("cohort_week"),
          floor(datediff(col("day"), origin) / 7).cast("long").as("active_week"))
        .distinct()
        .groupBy("cohort_week", "active_week")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "active_week")
    },
    Some("""
      WITH f AS (
        SELECT user_id AS f_user, min(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id)
      SELECT cohort_week, active_week, CAST(count(*) AS BIGINT) AS n_users
      FROM (
        SELECT DISTINCT user_id,
               CAST(floor(date_diff('day', DATE '2024-01-01', first_day) / 7.0) AS BIGINT) AS cohort_week,
               CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS active_week
        FROM events JOIN f ON user_id = f_user)
      GROUP BY cohort_week, active_week
      ORDER BY cohort_week, active_week"""))

  /** Event-type transition matrix: (src → next) counts per user
    * stream plus a per-source permille — the bigram statistics of
    * behavioral sequences (sequence-model data prep). One lead-window
    * pass keyed on user_id, then a grouped count over the (≤|types|²)
    * pair space: the second shuffle carries 25 keys, not events. */
  def transitionsOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val bySrc = Window.partitionBy("src_type")
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("next_type").as("dst_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("permille",
        round(col("n") * lit(1000.0) / sum(col("n")).over(bySrc), 0).cast("long"))
      .orderBy("src_type", "dst_type")
  }

  val transitions: Q = Q(
    "q_event_transitions",
    (s, dir) => transitionsOf(t(s, dir, "events")),
    Some("""
      WITH pairs AS (
        SELECT event_type AS src_type,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC) AS dst_type
        FROM events),
      agg AS (SELECT src_type, dst_type, CAST(count(*) AS BIGINT) AS n
              FROM pairs WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type)
      SELECT src_type, dst_type, n,
             CAST(round(n * 1000.0 / sum(n) OVER (PARTITION BY src_type)) AS BIGINT) AS permille
      FROM agg ORDER BY src_type, dst_type"""))

  /** Calendar-spine gap filling: densify a sparse daily series onto
    * the table's full day range so downstream window math (moving
    * averages, period-over-period) sees every day, zero-filled. The
    * sparse series is high-value purchases (value > 300 — 5 of 30
    * days at sf0.01, so the gap path is genuinely exercised); the
    * spine bounds come from the UNFILTERED table, generated by
    * `sequence(min_day, max_day)` exploded from a 1-row aggregate —
    * the spine is derived, never hand-written, and its length is the
    * date span, not the row count, so this is scan + 1-row broadcast
    * + explode at any corpus size. */
  val dateSpine: Q = Q(
    "q_date_spine",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val bounds = ev.agg(min(to_date(col("ts"))).as("lo"), max(to_date(col("ts"))).as("hi"))
      val spine = bounds
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val daily = ev
        .filter(col("event_type") === "purchase" && col("value") > 300)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n"), lit(0L)).as("n_purchases"),
          coalesce(col("cents"), lit(0L)).as("revenue_cents"),
          col("n").isNull.as("is_gap"))
        .orderBy("day")
    },
    Some("""
      WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
      spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds),
      daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND value > 300
        GROUP BY CAST(ts AS DATE))
      SELECT day, coalesce(n, 0) AS n_purchases, coalesce(cents, 0) AS revenue_cents,
             n IS NULL AS is_gap
      FROM spine LEFT JOIN daily USING (day)
      ORDER BY day"""))

  /** Semi-structured access through Spark 4's VARIANT type:
    * `parse_json` encodes the props JSON into the engine's binary
    * variant form ONCE, and every subsequent `variant_get` path reads
    * the encoded tree — the engine-level upgrade over
    * [[jsonExtract]]'s `get_json_object`, which re-parses the text on
    * every extraction (on a 100 TB event log with several extracted
    * fields, parse-once-read-many is the difference in scan CPU).
    * Typed extraction (`$.k` as BIGINT) happens inside the variant
    * reader, no string round trip. The oracle reproduces the same
    * result through DuckDB's JSON path functions — proving the
    * variant encode/decode is lossless for the value domain. */
  val variantJson: Q = Q(
    "q_variant_json",
    (s, dir) => {
      val k = variant_get(parse_json(col("props")), "$.k", "bigint")
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy(expr("k % 5").as("k_mod"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          sum(col("cents")).as("sum_cents"),
          count_distinct(col("event_type")).as("n_types"))
        // explicit null placement: Spark defaults asc NULLS FIRST but
        // DuckDB defaults NULLS LAST — current data has no null $.k,
        // but the convention (see q_bad_records) is to never rely on
        // engine-default null ordering in an oracled sort
        .orderBy(asc_nulls_first("k_mod"))
    },
    Some("""
      SELECT k % 5 AS k_mod, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(k) AS BIGINT) AS sum_k,
             CAST(max(k) AS BIGINT) AS max_k,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      FROM (SELECT *, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
      GROUP BY k % 5 ORDER BY k_mod NULLS FIRST"""))

  /** Overlapping-interval union (coverage): each event opens a 5-min
    * activity interval; per user, transitively-overlapping intervals
    * merge into islands and the query reports island count, total
    * covered seconds, and the longest stretch — the "how much wall
    * time was this user active" metric that point-gap sessionization
    * ([[sessionize]]) cannot express (intervals can overlap and
    * nest; gaps between POINTS don't see that).
    *
    * The merge is the standard running-max sweep: an interval starts
    * a new island iff its start exceeds the max end of everything
    * before it — two windows (prefix-max, then prefix-sum) over the
    * same (user, time) ordering, so the whole operator is one
    * user-keyed shuffle. All arithmetic on integer epoch seconds. */
  val intervalMerge: Q = Q(
    "q_interval_merge",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val span = 300L
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("s0"))
        .withColumn("e0", col("s0") + span)
      val order = Window.partitionBy("user_id")
        .orderBy(col("s0").asc, col("event_id").asc)
      val prevMax = max(col("e0")).over(
        order.rowsBetween(Window.unboundedPreceding, -1))
      val islands = ev
        .withColumn("new_island",
          when(col("s0") > coalesce(prevMax, lit(Long.MinValue)), 1L).otherwise(0L))
        .withColumn("island", sum(col("new_island")).over(
          order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("island"))
        .agg(min(col("s0")).as("start"), max(col("e0")).as("end"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("end") - col("start")).as("covered_secs"),
          max(col("end") - col("start")).as("longest_secs"))
        .orderBy("user_id")
    },
    Some("""
      WITH iv AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS s0,
               CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e0
        FROM events),
      marked AS (
        SELECT user_id, s0, e0,
               CASE WHEN s0 > coalesce(max(e0) OVER (PARTITION BY user_id
                         ORDER BY s0 ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -9223372036854775807) THEN 1 ELSE 0 END AS new_island,
               event_id
        FROM iv),
      grouped AS (
        SELECT user_id, s0, e0,
               sum(new_island) OVER (PARTITION BY user_id
                    ORDER BY s0 ASC, event_id ASC
                    ROWS UNBOUNDED PRECEDING) AS island
        FROM marked),
      islands AS (
        SELECT user_id, island, min(s0) AS start, max(e0) AS "end"
        FROM grouped GROUP BY user_id, island)
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
             CAST(sum("end" - start) AS BIGINT) AS covered_secs,
             CAST(max("end" - start) AS BIGINT) AS longest_secs
      FROM islands GROUP BY user_id ORDER BY user_id"""))

  /** Two-proportion A/B significance, EXACTLY: cohorts by user-id
    * parity, conversion = "user has ≥1 purchase", and the 95% z-test
    * cross-multiplied until every term is integer — from
    * z² = (c₁n₂−c₂n₁)²(n₁+n₂) / (n₁n₂c(n−c)) the decision becomes
    * 10000·(c₁n₂−c₂n₁)²·(n₁+n₂) > 38416·n₁n₂·c·(n−c), so the
    * significance flag is engine-exact (the [[graft.ops.Profile]]
    * outlier discipline applied to experiment analytics). Magnitudes
    * fit BIGINT through ~10⁴ users per cohort; past that the exact
    * test stops mattering and the double z is fine — documented trade.
    * One users-sized aggregate, then 1-row arithmetic. */
  val abTest: Q = Q(
    "q_ab_test",
    (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("converted"))
        .withColumn("cohort", col("user_id") % 2)
      val stats = users.groupBy("cohort")
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("c"))
      // limit(1) is a no-op on these ≤1-row frames (cohort is the
      // group key), but it makes the bound PROVABLE in the plan
      // (maxRows=1), which the registry-wide cross-join sweep demands
      // of every condition-less join
      val a = stats.filter(col("cohort") === 0)
        .select(col("n").as("n1"), col("c").as("c1")).limit(1)
      val b = stats.filter(col("cohort") === 1)
        .select(col("n").as("n2"), col("c").as("c2")).limit(1)
      a.crossJoin(broadcast(b))
        .select(col("n1"), col("c1"), col("n2"), col("c2"),
          (lit(10000L) * (col("c1") * col("n2") - col("c2") * col("n1")) *
            (col("c1") * col("n2") - col("c2") * col("n1")) * (col("n1") + col("n2")) >
            lit(38416L) * col("n1") * col("n2") * (col("c1") + col("c2")) *
              (col("n1") + col("n2") - col("c1") - col("c2"))).as("significant_95"))
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
               user_id % 2 AS cohort
        FROM events GROUP BY user_id),
      stats AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS n, CAST(sum(converted) AS BIGINT) AS c
        FROM users GROUP BY cohort),
      a AS (SELECT n AS n1, c AS c1 FROM stats WHERE cohort = 0),
      b AS (SELECT n AS n2, c AS c2 FROM stats WHERE cohort = 1)
      SELECT n1, c1, n2, c2,
             10000 * (c1*n2 - c2*n1) * (c1*n2 - c2*n1) * (n1 + n2) >
               38416 * n1 * n2 * (c1 + c2) * (n1 + n2 - c1 - c2) AS significant_95
      FROM a CROSS JOIN b"""))

  /** SLIDING event-time window (2 h size, 1 h slide): every event
    * lands in exactly two overlapping windows — the aggregation shape
    * tumbling windows can't express (a tumbling window partitions;
    * a sliding window multiplies). Spark's `window()` generates the
    * per-event window memberships inline (a Generate, no self-join);
    * the oracle reproduces the same two hour-aligned starts per event
    * arithmetically. Counts and exact cents per (window, type). */
  val slidingWindow: Q = Q(
    "q_sliding_window",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"))
        .select(col("w.start").as("w_start"), col("event_type"),
          col("cnt"), col("sum_cents"))
        .orderBy("w_start", "event_type"),
    Some("""
      SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM (
        SELECT event_type, value,
               unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS w_start
        FROM events)
      GROUP BY w_start, event_type
      ORDER BY w_start, event_type"""))

  /** Preference-pair mining — the DPO/RLHF data-prep primitive: per
    * group (user), pick the best- and worst-scored items as a
    * (chosen, rejected) pair with the score gap. One groupBy with
    * map-side-combinable max_by/min_by — a single shuffle of
    * per-group 4-long state, never the event rows.
    *
    * Determinism: scores become exact cents; tie-breaks are encoded
    * ARITHMETICALLY into the SAME key for both sides (cents·10⁷ −
    * event_id: max_by prefers the LOWER id among equal-cent maxima,
    * min_by the HIGHER id among equal-cent minima) because DuckDB's
    * arg_max over a composite needs a scalar key — the 10⁷ stride
    * holds while event ids stay below it (they do at every sf; ANSI
    * overflow would raise, not corrupt). Opposite tie directions mean
    * chosen_id ≠ rejected_id whenever the group has ≥2 events, even
    * when every event is equal-scored — a DPO pair must reference two
    * distinct events, so an all-equal group yields its extreme ids
    * with delta 0 rather than a degenerate self-pair (downstream
    * filters choose their margin). */
  val preferencePairs: Q = Q(
    "q_preference_pairs",
    (s, dir) => {
      val cents = round(col("value") * 100, 0).cast("long")
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), cents.as("cents"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          max_by(col("event_id"), col("cents") * 10000000L - col("event_id"))
            .as("chosen_id"),
          max(col("cents")).as("chosen_cents"),
          min_by(col("event_id"), col("cents") * 10000000L - col("event_id"))
            .as("rejected_id"),
          min(col("cents")).as("rejected_cents"))
        .filter(col("n_events") >= 2)
        .select(col("user_id"), col("n_events"), col("chosen_id"),
          col("rejected_id"), col("chosen_cents"), col("rejected_cents"),
          (col("chosen_cents") - col("rejected_cents")).as("delta_cents"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, n_events, chosen_id, rejected_id,
             chosen_cents, rejected_cents,
             CAST(chosen_cents - rejected_cents AS BIGINT) AS delta_cents
      FROM (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               arg_max(event_id, cents * 10000000 - event_id) AS chosen_id,
               CAST(max(cents) AS BIGINT) AS chosen_cents,
               arg_min(event_id, cents * 10000000 - event_id) AS rejected_id,
               CAST(min(cents) AS BIGINT) AS rejected_cents
        FROM (SELECT user_id, event_id,
                     CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        GROUP BY user_id)
      WHERE n_events >= 2 ORDER BY user_id"""))

  /** Group-relative advantage — the GRPO/RLOO reward-normalization
    * primitive: each sampled response's reward is centered (and
    * variance-contextualized) against its OWN prompt group, so
    * per-prompt difficulty cancels without a learned value model.
    * Groups are users here; rewards are the event's exact cents.
    *
    * Determinism: the float form (r−μ)/σ is not cross-engine exact,
    * so the output carries INTEGER-EXACT scaled forms instead —
    * `adv_num = n·r − Σr` (that is n·(r−μ), BIGINT) and the group's
    * `var_num = n·Σr² − (Σr)²` (n²·σ²_population, BIGINT) — consumers
    * divide at the precision they choose. Overflow envelope: with
    * cents ≤ 10⁵ the BIGINT bound holds to n ≈ 5·10⁴ rewards per
    * group — two orders above any real GRPO group size (8–64), raised
    * (ANSI) rather than corrupted beyond it.
    *
    * Scale shape: one groupBy carrying 3-long state (map-side
    * combinable) + a join of per-group stats back to the event rows —
    * the canonical aggregate-then-rejoin; no window, no skew. The
    * stats side is deliberately UNHINTED: group cardinality is the
    * user population, which may not fit a broadcast at corpus scale —
    * the planner broadcasts it while it is small (AQE at harness
    * scale, pinned in PlanSpec) and falls back to a keyed shuffle
    * join when it is not. */
  val groupAdvantage: Q = Q(
    "q_group_advantage",
    (s, dir) => {
      val cents = round(col("value") * 100, 0).cast("long")
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), cents.as("cents"))
      val stats = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
          sum(col("cents") * col("cents")).as("ss"))
        .filter(col("n") >= 2)
      ev.join(stats, "user_id")
        .select(col("event_id"), col("user_id"), col("cents"),
          col("n").as("group_n"),
          (col("n") * col("cents") - col("s")).as("adv_num"),
          (col("n") * col("ss") - col("s") * col("s")).as("var_num"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id, cents, n AS group_n,
             CAST(n * cents - s AS BIGINT) AS adv_num,
             CAST(n * ss - s * s AS BIGINT) AS var_num
      FROM (SELECT user_id, event_id,
                   CAST(round(value * 100) AS BIGINT) AS cents FROM events) e
      JOIN (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS ss
        FROM (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
              FROM events)
        GROUP BY user_id HAVING count(*) >= 2) g
      USING (user_id)
      ORDER BY event_id"""))

  /** Multi-touch attribution — the marketing-analytics complement of
    * [[funnel]]: for each user's FIRST purchase, split conversion
    * credit across the touch events (view/click/signup) in the 7-day
    * lookback, under three models at once — first-touch, last-touch,
    * and linear. All credit is integer PERMILLE so every model sums
    * to exactly 1000 per conversion and the whole table hash-oracles:
    * linear gives each of the n touches 1000 div n, and the first
    * (1000 mod n) touches by position one extra permille.
    *
    * Scale shape: ONE hash shuffle on `user_id` pays for the
    * first-purchase aggregate, the touch join, and the position
    * window (same key, one Exchange); the model arithmetic is
    * row-local; the channel rollup at the end aggregates to
    * channel-cardinality rows with map-side combine. No window is
    * unpartitioned and nothing is pair-shaped. */
  val attribution: Q = Q(
    "q_attribution",
    (s, dir) => {
      val e = t(s, dir, "events")
      val conv = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("cu"))
        .agg(min(col("ts")).as("conv_ts"))
      val touches = e
        .filter(col("event_type").isin("view", "click", "signup"))
        .join(conv, col("user_id") === col("cu"))
        .filter(col("ts") < col("conv_ts") &&
          col("ts") >= col("conv_ts") - expr("INTERVAL 7 DAYS"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val scored = touches
        .withColumn("pos", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .select(col("user_id"), col("event_type").as("channel"),
          when(col("pos") === 1, 1000L).otherwise(0L).as("first_pm"),
          when(col("pos") === col("n"), 1000L).otherwise(0L).as("last_pm"),
          (expr("1000 div n") +
            when(col("pos") <= expr("1000 % n"), 1L).otherwise(0L)).as("linear_pm"))
      scored.groupBy("channel")
        .agg(sum(col("first_pm")).as("first_permille"),
          sum(col("last_pm")).as("last_permille"),
          sum(col("linear_pm")).as("linear_permille"),
          countDistinct(col("user_id")).as("n_users_touched"))
        .orderBy("channel")
    },
    Some("""
      WITH conv AS (
        SELECT user_id AS cu, min(ts) AS conv_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      touches AS (
        SELECT e.user_id, e.event_type AS channel, e.ts, e.event_id
        FROM events e JOIN conv ON e.user_id = conv.cu
        WHERE e.event_type IN ('view', 'click', 'signup')
          AND e.ts < conv.conv_ts
          AND e.ts >= conv.conv_ts - INTERVAL 7 DAY),
      scored AS (
        SELECT user_id, channel,
               CASE WHEN row_number() OVER w = 1 THEN 1000 ELSE 0 END AS first_pm,
               CASE WHEN row_number() OVER w =
                      count(*) OVER (PARTITION BY user_id) THEN 1000 ELSE 0 END AS last_pm,
               1000 // count(*) OVER (PARTITION BY user_id) +
                 CASE WHEN row_number() OVER w <=
                        1000 % count(*) OVER (PARTITION BY user_id)
                      THEN 1 ELSE 0 END AS linear_pm
        FROM touches
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT channel,
             CAST(sum(first_pm) AS BIGINT) AS first_permille,
             CAST(sum(last_pm) AS BIGINT) AS last_permille,
             CAST(sum(linear_pm) AS BIGINT) AS linear_permille,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_touched
      FROM scored GROUP BY channel ORDER BY channel"""))

  /** CUPED covariate adjustment over a per-user experiment frame
    * `(user_id, variant, pre, post)` — variant ∈ {0, 1}, pre/post in
    * exact integer cents. Returns the 1-row stats frame with every
    * moment in BIGINT (n·Σxy − Σx·Σy forms, the [[abTest]]/
    * groupAdvantage integer-moment discipline) and the final adjusted
    * uplift as ONE composed IEEE expression over those exact integers
    * — identical text on both engines, so it hashes.
    *
    * θ = cov(pre, post)/var(pre) POOLED over both variants (the
    * standard CUPED estimator — using per-variant θ would bias the
    * uplift); adjusted uplift = (ȳ₂−ȳ₁) − θ·(x̄₂−x̄₁). The whole
    * computation is two corpus-keyed aggregates and a broadcast —
    * nothing per-pair, nothing driver-side. */
  def cupedOf(users: DataFrame): DataFrame = {
    val pooled = users.agg(
      count(lit(1)).as("n"),
      sum(col("pre")).as("sx"), sum(col("post")).as("sy"),
      sum(col("pre") * col("pre")).as("sxx"),
      sum(col("pre") * col("post")).as("sxy"))
    val byVar = users.groupBy("variant")
      .agg(count(lit(1)).as("nv"), sum(col("pre")).as("sxv"),
        sum(col("post")).as("syv"))
    val a = byVar.filter(col("variant") === 0)
      .select(col("nv").as("n1"), col("sxv").as("sx1"), col("syv").as("sy1"))
      .limit(1)
    val b = byVar.filter(col("variant") === 1)
      .select(col("nv").as("n2"), col("sxv").as("sx2"), col("syv").as("sy2"))
      .limit(1)
    pooled.crossJoin(broadcast(a)).crossJoin(broadcast(b))
      .select(col("n"), col("n1"), col("n2"),
        col("sx1"), col("sy1"), col("sx2"), col("sy2"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("theta_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("theta_den"),
        round((
          (col("sy2").cast("double") / col("n2").cast("double") -
            col("sy1").cast("double") / col("n1").cast("double")) -
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
          (col("sx2").cast("double") / col("n2").cast("double") -
            col("sx1").cast("double") / col("n1").cast("double"))) * 1e6, 0)
          .cast("long").as("adjusted_uplift_micro"),
        round((col("sy2").cast("double") / col("n2").cast("double") -
          col("sy1").cast("double") / col("n1").cast("double")) * 1e6, 0)
          .cast("long").as("raw_uplift_micro"))
  }

  /** Driver query: users split by id parity ([[abTest]]'s cohorts);
    * pre = exact cents of events before the pinned 2024-07-01
    * midpoint, post = cents after. Pre-period spend strongly predicts
    * post-period spend user-by-user, which is exactly the correlation
    * CUPED exists to subtract. */
  val cuped: Q = Q(
    "q_cuped",
    (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < lit("2024-07-01").cast("timestamp"),
            round(col("value") * 100, 0).cast("long"))), lit(0L)).as("pre"),
          coalesce(sum(when(col("ts") >= lit("2024-07-01").cast("timestamp"),
            round(col("value") * 100, 0).cast("long"))), lit(0L)).as("post"))
        .withColumn("variant", col("user_id") % 2)
      cupedOf(users)
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-07-01'
                 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS pre,
               coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-07-01'
                 THEN CAST(round(value * 100) AS BIGINT) END), 0) AS post,
               user_id % 2 AS variant
        FROM events GROUP BY user_id),
      pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pre) AS BIGINT) AS sx, CAST(sum(post) AS BIGINT) AS sy,
               CAST(sum(pre * pre) AS BIGINT) AS sxx,
               CAST(sum(pre * post) AS BIGINT) AS sxy
        FROM users),
      a AS (SELECT CAST(count(*) AS BIGINT) AS n1, CAST(sum(pre) AS BIGINT) AS sx1,
                   CAST(sum(post) AS BIGINT) AS sy1
            FROM users WHERE variant = 0),
      b AS (SELECT CAST(count(*) AS BIGINT) AS n2, CAST(sum(pre) AS BIGINT) AS sx2,
                   CAST(sum(post) AS BIGINT) AS sy2
            FROM users WHERE variant = 1)
      SELECT n, n1, n2, sx1, sy1, sx2, sy2,
             n * sxy - sx * sy AS theta_num,
             n * sxx - sx * sx AS theta_den,
             CAST(round((
               (CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
                CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)) -
               (CAST(n * sxy - sx * sy AS DOUBLE) /
                CAST(n * sxx - sx * sx AS DOUBLE)) *
               (CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
                CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE))) * 1e6)
               AS BIGINT) AS adjusted_uplift_micro,
             CAST(round((CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
               CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)) * 1e6)
               AS BIGINT) AS raw_uplift_micro
      FROM pooled CROSS JOIN a CROSS JOIN b"""))

  /** Distribution-free permutation test on the cohort mean-spend
    * difference — the significance machinery [[abTest]]'s z-test
    * can't honestly provide when per-user spend is heavy-tailed
    * (conversion flags are Bernoulli; spend is not). R=64 label
    * permutations, each a deterministic md5 coin on (user_id, round),
    * re-split the users and the observed |mean gap| is ranked against
    * the permuted ones; the p-value is (#{perm ≥ obs}+1)/(R+1), here
    * surfaced as the raw exceedance count so no division crosses an
    * engine boundary.
    *
    * EXACT: spends are cents BIGINTs and mean comparisons cross-
    * multiply — |s₁/n₁ − s₂/n₂| ≥ |S₁/N₁ − S₂/N₂| becomes
    * |s₁n₂−s₂n₁|·N₁N₂ ≥ |S₁N₂−S₂N₁|·n₁n₂ — so every permutation
    * verdict is an integer predicate. Fits BIGINT while total-cents ×
    * cohort-size × cohort-size² ≲ 9·10¹⁸ (~3·10⁴ users at this spend
    * scale); past that, pre-divide by a common spend unit.
    *
    * Scale shape: ONE users-sized aggregate off the corpus, then the
    * permutation fan-out multiplies the users table by R — a
    * users×64 frame that aggregates straight back down to 64 rows
    * with map-side combine. The observed split is a broadcast 1-row
    * frame. Nothing corpus-sized is replayed per permutation. */
  val permutationTest: Q = Q(
    "q_permutation_test",
    (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("spend"))
      val obs = users
        .agg(
          sum(when(col("user_id") % 2 === 0, col("spend")).otherwise(0L)).as("os1"),
          count(when(col("user_id") % 2 === 0, 1)).as("on1"),
          sum(when(col("user_id") % 2 =!= 0, col("spend")).otherwise(0L)).as("os2"),
          count(when(col("user_id") % 2 =!= 0, 1)).as("on2"))
        .limit(1)
      val coin = ascii(substring(
        md5(concat(col("user_id").cast("string"), lit(":"), col("r").cast("string"))
          .cast("binary")), 1, 1)) % 2 === 0
      users
        .withColumn("r", explode(sequence(lit(1), lit(64))))
        .withColumn("in_a", coin)
        .groupBy("r")
        .agg(
          sum(when(col("in_a"), col("spend")).otherwise(0L)).as("ps1"),
          count(when(col("in_a"), 1)).as("pn1"),
          sum(when(!col("in_a"), col("spend")).otherwise(0L)).as("ps2"),
          count(when(!col("in_a"), 1)).as("pn2"))
        .crossJoin(broadcast(obs))
        .select(col("r").cast("long").as("r"),
          col("pn1"), col("pn2"),
          abs(col("ps1") * col("pn2") - col("ps2") * col("pn1")).as("perm_num"),
          (abs(col("ps1") * col("pn2") - col("ps2") * col("pn1")) * col("on1") * col("on2") >=
            abs(col("os1") * col("on2") - col("os2") * col("on1")) * col("pn1") * col("pn2"))
            .as("ge_obs"))
        .orderBy("r")
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
        FROM events GROUP BY user_id),
      obs AS (
        SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN spend ELSE 0 END) AS BIGINT) AS os1,
               CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS on1,
               CAST(sum(CASE WHEN user_id % 2 <> 0 THEN spend ELSE 0 END) AS BIGINT) AS os2,
               CAST(count(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS BIGINT) AS on2
        FROM users),
      perms AS (
        SELECT r, user_id, spend,
               ascii(substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)), 1, 1)) % 2 = 0 AS in_a
        FROM users CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS r)),
      per_r AS (
        SELECT r,
               CAST(sum(CASE WHEN in_a THEN spend ELSE 0 END) AS BIGINT) AS ps1,
               CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS pn1,
               CAST(sum(CASE WHEN NOT in_a THEN spend ELSE 0 END) AS BIGINT) AS ps2,
               CAST(count(CASE WHEN NOT in_a THEN 1 END) AS BIGINT) AS pn2
        FROM perms GROUP BY r)
      SELECT CAST(r AS BIGINT) AS r, pn1, pn2,
             CAST(abs(ps1 * pn2 - ps2 * pn1) AS BIGINT) AS perm_num,
             abs(ps1 * pn2 - ps2 * pn1) * on1 * on2 >=
               abs(os1 * on2 - os2 * on1) * pn1 * pn2 AS ge_obs
      FROM per_r CROSS JOIN obs
      ORDER BY r"""))

  /** POISSON-BOOTSTRAP confidence intervals for the per-type mean —
    * the bootstrap that actually runs at 100 TB: true resampling
    * draws n-with-replacement (a global coordination), the Poisson
    * approximation gives every row an INDEPENDENT Poisson(1)
    * multiplicity per resample, so B = 100 bootstrap replicas
    * materialize as one row-local explode and aggregate straight back
    * down with map-side combine — no resample ever sees the corpus.
    *
    * Derandomized end to end with ZERO floating point: the Poisson(1)
    * inverse CDF is pre-discretized as integer thresholds
    * (u16 < 24109 → 0 copies, < 48219 → 1, …, ≤ 65535 → 7), each
    * replica mean is the exact integer (Σwc·10⁶) div Σw, and the 95%
    * interval is nearest-rank order statistics (3rd / 50th / 98th of
    * 100) picked by a group-partitioned row_number — both engines
    * walk identical BIGINTs from coin to CI.
    *
    * Coin choice: this op draws corpus×B coins — the repo's md5
    * spelling costs 8+ s at sf0.1 in hashing and hex decoding alone
    * (measured; hex→int via nibbles or conv is no cheaper, and
    * CollapseProject re-inlines any materialization attempt). The
    * coin here is two steps of the Lehmer/MINSTD generator seeded by
    * (event_id, b) with the TOP 16 bits taken — pure BIGINT
    * multiply/mod that never overflows 2⁶³, identical in any engine,
    * and spectrally ample for Poisson thresholding. */
  val bootstrapCi: Q = Q(
    "q_bootstrap_ci",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val u16 = expr("""
        ((16807 * ((16807 * ((event_id % 127773) * 101 + b + 1)) % 2147483647))
          % 2147483647) div 32768""")
      val w = when(u16 < 24109, 0L).when(u16 < 48219, 1L)
        .when(u16 < 60273, 2L).when(u16 < 64292, 3L)
        .when(u16 < 65296, 4L).when(u16 < 65497, 5L)
        .when(u16 < 65531, 6L).otherwise(7L)
      val means = e.withColumn("b", explode(sequence(lit(0), lit(99))))
        .withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(sum(col("w") * col("c")).as("sc"), sum(col("w")).as("sw"))
        .select(col("event_type"), col("b"),
          expr("(sc * 1000000) div nullif(sw, 0)").as("mean_micro"))
      // NULL replica means (all-zero Poisson draws, P = e^-n per
      // replica) rank LAST by convention — Spark's ASC default is
      // NULLS FIRST but DuckDB's is NULLS LAST, so the null position
      // must be pinned explicitly or the nearest-rank picks diverge.
      val rn = row_number().over(Window.partitionBy("event_type")
        .orderBy(col("mean_micro").asc_nulls_last, col("b").asc))
      val ci = means.withColumn("rn", rn)
        .groupBy("event_type")
        .agg(max(when(col("rn") === 3, col("mean_micro"))).as("ci_lo_micro"),
          max(when(col("rn") === 50, col("mean_micro"))).as("ci_med_micro"),
          max(when(col("rn") === 98, col("mean_micro"))).as("ci_hi_micro"))
      e.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("(sum(c) * 1000000) div count(1)").as("point_mean_micro"))
        .join(ci, Seq("event_type"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events),
      rep AS (
        SELECT e.*, b.range AS b,
               ((16807 * ((16807 * ((event_id % 127773) * 101 + b.range + 1)) % 2147483647))
                 % 2147483647) // 32768 AS u16
        FROM e, range(100) b),
      wt AS (
        SELECT event_type, b, c,
               CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48219 THEN 1
                    WHEN u16 < 60273 THEN 2 WHEN u16 < 64292 THEN 3
                    WHEN u16 < 65296 THEN 4 WHEN u16 < 65497 THEN 5
                    WHEN u16 < 65531 THEN 6 ELSE 7 END AS w
        FROM rep),
      means AS (
        SELECT event_type, b,
               CAST((sum(w * c) * 1000000) // nullif(sum(w), 0) AS BIGINT) AS mean_micro
        FROM wt GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY mean_micro ASC NULLS LAST, b ASC) AS rn
        FROM means),
      ci AS (
        SELECT event_type,
               CAST(max(CASE WHEN rn = 3 THEN mean_micro END) AS BIGINT) AS ci_lo_micro,
               CAST(max(CASE WHEN rn = 50 THEN mean_micro END) AS BIGINT) AS ci_med_micro,
               CAST(max(CASE WHEN rn = 98 THEN mean_micro END) AS BIGINT) AS ci_hi_micro
        FROM ranked GROUP BY 1),
      pt AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
               CAST((sum(c) * 1000000) // count(*) AS BIGINT) AS point_mean_micro
        FROM e GROUP BY 1)
      SELECT pt.event_type AS event_type, n_rows, point_mean_micro,
             ci_lo_micro, ci_med_micro, ci_hi_micro
      FROM pt JOIN ci USING (event_type) ORDER BY event_type"""))

  /** Inverse standard-normal CDF (Acklam's rational approximation,
    * |ε| < 1.15·10⁻⁹) — used ONLY at object init to tabulate the BC
    * index map; no query evaluates it at runtime. */
  private def phiInv(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val pl = 0.02425
    if (p < pl) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - pl) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else -phiInv(1 - p)
  }

  /** Standard-normal CDF via Abramowitz–Stegun 7.1.26 erf
    * (|ε| < 1.5·10⁻⁷) — init-time only, like [[phiInv]]. */
  private def phiCdf(x: Double): Double = {
    val z = x / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(z))
    val e = 1 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * math.exp(-z * z)
    val erf = if (z >= 0) e else -e
    0.5 * (1 + erf)
  }

  /** BC index map: replica-count-below c ∈ 0..100 → the nearest-rank
    * order-statistic indices (ceil(α·100), clamped to [1, 100]) of
    * the bias-corrected 95% interval, α = Φ(2·Φ⁻¹(c/100) ± 1.959964).
    * c is clamped to [1, 99] first (c = 0/100 sends z₀ to ∓∞). Pure
    * constants of (B = 100, 95%) — data-independent, embedded as the
    * SAME literals in the Spark expression and the oracle SQL (the
    * q_sprt constants discipline). At c = 50 (median-unbiased) the
    * map returns (3, 98) — exactly [[bootstrapCi]]'s plain percentile
    * ranks, pinned in EventsSpec. */
  private[graft] val bcIdx: IndexedSeq[(Int, Int)] = (0 to 100).map { c0 =>
    val c = math.min(99, math.max(1, c0))
    val z0 = phiInv(c / 100.0)
    def idx(z: Double): Int =
      math.min(100, math.max(1, math.ceil(phiCdf(2 * z0 + z) * 100).toInt))
    (idx(-1.959964), idx(1.959964))
  }

  /** BIAS-CORRECTED (BC) BOOTSTRAP INTERVAL — the exact member of the
    * BCa family (acceleration a = 0; the full BCa's jackknife
    * acceleration is float/overflow-hostile — analysis in SURVEY's
    * seed list): when the bootstrap distribution is biased around the
    * point estimate (the replica-count-below c ≠ B/2), the percentile
    * interval's coverage is off, and Efron's correction shifts WHICH
    * order statistics form the interval — α = Φ(2z₀ ± z_{.975}) with
    * z₀ = Φ⁻¹(c/B). Everything data-dependent stays exact BIGINT (the
    * [[bootstrapCi]] Poisson replica machinery verbatim); the two
    * nonlinearities are baked into the 101-entry [[bcIdx]] literal
    * table, so NO engine evaluates Φ or Φ⁻¹ at query time and the
    * whole query hash-oracles.
    *
    * Scale shape: identical to [[bootstrapCi]] — one row-local
    * explode ×100, map-side-combined replica means, group-domain rank
    * windows; the BC addition is one count and two array-literal
    * lookups. */
  val bootstrapBc: Q = Q(
    "q_bootstrap_bc",
    (s, dir) => seal {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("c"))
      val u16 = expr("""
        ((16807 * ((16807 * ((event_id % 127773) * 101 + b + 1)) % 2147483647))
          % 2147483647) div 32768""")
      val w = when(u16 < 24109, 0L).when(u16 < 48219, 1L)
        .when(u16 < 60273, 2L).when(u16 < 64292, 3L)
        .when(u16 < 65296, 4L).when(u16 < 65497, 5L)
        .when(u16 < 65531, 6L).otherwise(7L)
      val means = keep(e.withColumn("b", explode(sequence(lit(0), lit(99))))
        .withColumn("w", w)
        .groupBy("event_type", "b")
        .agg(sum(col("w") * col("c")).as("sc"), sum(col("w")).as("sw"))
        .select(col("event_type"), col("b"),
          expr("(sc * 1000000) div nullif(sw, 0)").as("mean_micro")))
      val pt = e.groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"),
          expr("(sum(c) * 1000000) div count(1)").as("point_mean_micro"))
      val cnt = means.join(broadcast(pt), "event_type")
        .groupBy("event_type")
        .agg(count(when(col("mean_micro") < col("point_mean_micro"), 1))
          .as("n_below"))
      val loArr = array(bcIdx.map(p => lit(p._1.toLong)): _*)
      val hiArr = array(bcIdx.map(p => lit(p._2.toLong)): _*)
      val idx = cnt.select(col("event_type"), col("n_below"),
        element_at(loArr, (col("n_below") + 1).cast("int")).as("i_lo"),
        element_at(hiArr, (col("n_below") + 1).cast("int")).as("i_hi"))
      val rn = row_number().over(Window.partitionBy("event_type")
        .orderBy(col("mean_micro").asc_nulls_last, col("b").asc))
      val bc = means.withColumn("rn", rn.cast("long"))
        .join(broadcast(idx), "event_type")
        .groupBy("event_type")
        .agg(max(when(col("rn") === col("i_lo"), col("mean_micro")))
          .as("bc_lo_micro"),
          max(when(col("rn") === col("i_hi"), col("mean_micro")))
            .as("bc_hi_micro"))
      pt.join(idx, "event_type").join(bc, "event_type")
        .select(col("event_type"), col("n_rows"), col("point_mean_micro"),
          col("n_below"), col("i_lo"), col("i_hi"),
          col("bc_lo_micro"), col("bc_hi_micro"))
        .orderBy("event_type")
    },
    Some(s"""
      WITH e AS (
        SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events),
      rep AS (
        SELECT e.*, b.range AS b,
               ((16807 * ((16807 * ((event_id % 127773) * 101 + b.range + 1)) % 2147483647))
                 % 2147483647) // 32768 AS u16
        FROM e, range(100) b),
      wt AS (
        SELECT event_type, b, c,
               CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48219 THEN 1
                    WHEN u16 < 60273 THEN 2 WHEN u16 < 64292 THEN 3
                    WHEN u16 < 65296 THEN 4 WHEN u16 < 65497 THEN 5
                    WHEN u16 < 65531 THEN 6 ELSE 7 END AS w
        FROM rep),
      means AS (
        SELECT event_type, b,
               CAST((sum(w * c) * 1000000) // nullif(sum(w), 0) AS BIGINT) AS mean_micro
        FROM wt GROUP BY 1, 2),
      pt AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
               CAST((sum(c) * 1000000) // count(*) AS BIGINT) AS point_mean_micro
        FROM e GROUP BY 1),
      cnt AS (
        SELECT m.event_type,
               CAST(count(CASE WHEN m.mean_micro < pt.point_mean_micro
                 THEN 1 END) AS BIGINT) AS n_below
        FROM means m JOIN pt USING (event_type) GROUP BY 1),
      idx AS (
        SELECT event_type, n_below,
               CAST(([${bcIdx.map(_._1).mkString(", ")}])[n_below + 1]
                 AS BIGINT) AS i_lo,
               CAST(([${bcIdx.map(_._2).mkString(", ")}])[n_below + 1]
                 AS BIGINT) AS i_hi
        FROM cnt),
      ranked AS (
        SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY mean_micro ASC NULLS LAST, b ASC) AS BIGINT) AS rn
        FROM means),
      bc AS (
        SELECT r.event_type,
               CAST(max(CASE WHEN r.rn = i.i_lo THEN r.mean_micro END)
                 AS BIGINT) AS bc_lo_micro,
               CAST(max(CASE WHEN r.rn = i.i_hi THEN r.mean_micro END)
                 AS BIGINT) AS bc_hi_micro
        FROM ranked r JOIN idx i USING (event_type) GROUP BY 1)
      SELECT pt.event_type AS event_type, n_rows, point_mean_micro,
             n_below, i_lo, i_hi, bc_lo_micro, bc_hi_micro
      FROM pt JOIN idx USING (event_type) JOIN bc USING (event_type)
      ORDER BY event_type"""))

  /** CUSUM change-point detection on the per-type daily value series
    * — "did the metric shift, and when?": the classic cumulative-sum
    * statistic C_t = Σ_{d≤t}(x̄_d − x̄)·n_d peaks at the day the level
    * changes; its argmax is the estimated change point and its
    * magnitude ranks how sharp the break is. Everything stays exact:
    * the deviation is cross-multiplied (s_d·N − n_d·S — no division,
    * no float), the cumulative sum is a day-ordered window over the
    * DAILY table (group-cardinality — ~30 rows per type, never the
    * corpus), and the argmax takes |C_t| descending with the earliest
    * day as tiebreak. The corpus aggregates once; detection runs on
    * the tiny daily frame — the shape that holds at any scale.
    *
    * Magnitude units: cents·rows (the cross-multiplied C_t); compare
    * within a series, not across types with different volumes. */
  /** Core CUSUM pass over any (event_type, day, sd, nd) daily frame —
    * factored so tests can plant level shifts. Convention: the
    * reported change day is the LAST day of the pre-shift regime
    * (where |C_t| peaks). */
  def cusumDetect(daily: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val tot = daily.groupBy(col("event_type").as("tt"))
        .agg(sum(col("sd")).as("bigS"), sum(col("nd")).as("bigN"))
      val cum = daily.join(broadcast(tot), col("event_type") === col("tt"))
        .withColumn("cusum", sum(col("sd") * col("bigN") - col("nd") * col("bigS"))
          .over(Window.partitionBy("event_type").orderBy("day")
            .rowsBetween(Window.unboundedPreceding, 0)))
      cum.withColumn("rn", row_number().over(Window.partitionBy("event_type")
          .orderBy(abs(col("cusum")).desc, col("day").asc)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          max(when(col("rn") === 1, col("day"))).as("change_day"),
          max(when(col("rn") === 1, abs(col("cusum")))).as("cusum_abs"))
        .orderBy("event_type")
  }

  val changepoint: Q = Q(
    "q_changepoint",
    (s, dir) =>
      cusumDetect(t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("sd"),
          count(lit(1)).as("nd"))),
    Some("""
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sd,
               CAST(count(*) AS BIGINT) AS nd
        FROM events GROUP BY 1, 2),
      tot AS (
        SELECT event_type AS tt, CAST(sum(sd) AS BIGINT) AS bigS,
               CAST(sum(nd) AS BIGINT) AS bigN
        FROM daily GROUP BY 1),
      cum AS (
        SELECT daily.*,
               CAST(sum(sd * bigN - nd * bigS)
                 OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
        FROM daily JOIN tot ON event_type = tt),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                    ORDER BY abs(cusum) DESC, day ASC) AS rn
        FROM cum)
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             max(CASE WHEN rn = 1 THEN day END) AS change_day,
             CAST(max(CASE WHEN rn = 1 THEN abs(cusum) END) AS BIGINT) AS cusum_abs
      FROM ranked
      GROUP BY event_type ORDER BY event_type"""))

  /** Lag-k AUTOCORRELATION of the per-type daily mean series (lags 1
    * and 7 — momentum and weekly seasonality), the time-series twin
    * of [[changepoint]]: everything reduces to six exact integer sums
    * over the lag-joined daily frame (n, Σx, Σy, Σxy, Σx², Σy²) and
    * the Pearson pieces cross-multiply in BIGINT. Daily means enter
    * as exact MILLI-cents ((sd·10³) div nd) — sized so n·Σxy stays
    * inside 2⁶³ at any realistic volume. The one non-integer step is
    * the final r = num / √(varx·vary): multiply and √ are
    * IEEE-correctly-rounded (unlike libm ln/exp there is no
    * implementation latitude at all), so both engines produce the
    * bit-identical double, rounded once into permille. The lag join
    * is a day-shift self-join of the ~30-row daily table —
    * group-cardinality everywhere. */
  /** Core ACF pass over any (event_type, day, m) daily frame —
    * factored so tests can plant seasonal series. */
  def acfOf(daily: DataFrame): DataFrame = {
      def acf(lag: Int): DataFrame = {
        val lagged = daily.select(col("event_type").as("lt"),
          date_add(col("day"), lag).as("ld"), col("m").as("my"))
        daily.join(lagged,
            col("event_type") === col("lt") && col("day").cast("date") === col("ld"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("m")).as("sx"), sum(col("my")).as("sy"),
            sum(col("m") * col("my")).as("sxy"),
            sum(col("m") * col("m")).as("sxx"), sum(col("my") * col("my")).as("syy"))
          .select(col("event_type"), lit(lag.toLong).as("lag"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("varx"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("vary"))
      }
      acf(1).unionByName(acf(7))
        .select(col("event_type"), col("lag"), col("n"),
          expr("""cast(round(1000.0 * num /
                  nullif(sqrt(cast(varx as double) * cast(vary as double)), 0.0))
                  as bigint)""").as("r_permille"))
        .orderBy("event_type", "lag")
  }

  val autocorr: Q = Q(
    "q_autocorr",
    (s, dir) =>
      acfOf(t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(expr("(sum(cast(round(value * 100) as bigint)) * 1000) div count(1)")
          .as("m"))),
    Some("""
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST((sum(CAST(round(value * 100) AS BIGINT)) * 1000) // count(*)
                 AS BIGINT) AS m
        FROM events GROUP BY 1, 2),
      pairs AS (
        SELECT a.event_type, l.lag, a.m AS x, b.m AS y
        FROM daily a
        JOIN (VALUES (1), (7)) l(lag) ON true
        JOIN daily b ON b.event_type = a.event_type
                    AND CAST(b.day AS DATE) + l.lag = CAST(a.day AS DATE)),
      stats AS (
        SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY 1, 2)
      SELECT event_type, lag, n,
             CAST(round(1000.0 * (n * sxy - sx * sy) /
               nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                           CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) AS BIGINT)
               AS r_permille
      FROM stats ORDER BY event_type, lag"""))

  /** CROSS-correlation (lead–lag) between the click and purchase
    * daily-mean series — the companion of [[autocorr]] that answers a
    * DIFFERENT question: not "is this series periodic" but "does one
    * series LEAD the other" (the classic funnel diagnostic: clicks
    * moving today should show up in purchases at the lag of the
    * conversion delay). CCF(l) = corr(click_t, purchase_{t+l}) for
    * l ∈ −7..7; a peak at positive l reads "clicks lead purchases by
    * l days".
    *
    * Exactness discipline is [[autocorr]]'s verbatim: the daily means
    * are integer milli-cents, all five moments per lag are exact
    * BIGINT (join on exact date arithmetic), and the Pearson ratio is
    * ONE fixed-parenthesization double chain rounded once to
    * permille. Envelope: n·sxx needs day-mean milli-cents < ~10⁸ per
    * series at 10⁴ days (documented like autocorr).
    *
    * Scale shape: one corpus pass to the two day-domain series, then
    * a 15-lag × day-domain join — calendar-bounded, never
    * data-bounded. */
  val crosscorr: Q = Q(
    "q_crosscorr",
    (s, dir) => {
      val daily = t(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(expr("(sum(cast(round(value * 100) as bigint)) * 1000) div count(1)")
          .as("m"))
      val a = daily.filter(col("event_type") === "click")
        .select(to_date(col("day")).as("da"), col("m").as("x"))
      val b = daily.filter(col("event_type") === "purchase")
        .select(to_date(col("day")).as("db"), col("m").as("y"))
      val lags = s.range(-7, 8).select(col("id").as("lag"))
      val pairs = a.crossJoin(broadcast(lags))
        .join(b, expr("date_add(da, cast(lag as int)) = db"))
      pairs.groupBy("lag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n"),
          expr("""cast(round(1000.0 * (n * sxy - sx * sy) /
                  nullif(sqrt(cast(n * sxx - sx * sx as double) *
                              cast(n * syy - sy * sy as double)), 0.0))
                  as bigint)""").as("r_permille"))
        .orderBy("lag")
    },
    Some("""
      WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST((sum(CAST(round(value * 100) AS BIGINT)) * 1000) // count(*)
                 AS BIGINT) AS m
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2),
      a AS (SELECT CAST(day AS DATE) AS da, m AS x FROM daily
            WHERE event_type = 'click'),
      b AS (SELECT CAST(day AS DATE) AS db, m AS y FROM daily
            WHERE event_type = 'purchase'),
      lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(-7, 8)),
      pairs AS (
        SELECT l.lag, a.x, b.y
        FROM a CROSS JOIN lags l
        JOIN b ON a.da + CAST(l.lag AS INT) = b.db),
      stats AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY lag)
      SELECT lag, n,
             CAST(round(1000.0 * (n * sxy - sx * sy) /
               nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                           CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) AS BIGINT)
               AS r_permille
      FROM stats ORDER BY lag"""))

  /** WELCH'S t-test on per-user spend between the two experiment arms
    * (user-id parity, the same split as [[permutationTest]]) — the
    * parametric complement to the permutation p-value: unequal
    * variances, Welch–Satterthwaite degrees of freedom. Everything up
    * to the final statistic is exact integer sums (n, Σx, Σx² per
    * arm in one grouped pass); the t and df computations are FIXED
    * parenthesizations of IEEE +,−,×,÷,√ — all correctly-rounded
    * operations with zero libm latitude (the q_autocorr precedent) —
    * rounded once into milli-units. Sample variance via the
    * cross-multiplied form (n·Σx² − (Σx)²), evaluated in DOUBLE with
    * a fixed parenthesization on both engines: BIGINT would be exact
    * only while (Σx)² < 2⁶³ (arm spend ≲ 3·10⁹ cents ≈ $30 M), past
    * which Spark wraps silently and DuckDB errors — the double chain
    * is engine-identical at every volume. */
  /** Core Welch pass over any (arm_a: boolean, spend: long) frame —
    * factored so tests can hand-check the statistic. */
  def welchOf(users: DataFrame): DataFrame = {
      users.groupBy("arm_a")
        .agg(count(lit(1)).as("n"), sum(col("spend")).as("sx"),
          sum(col("spend") * col("spend")).as("sxx"))
        .groupBy()
        .agg(
          max(when(col("arm_a"), col("n"))).as("n1"),
          max(when(col("arm_a"), col("sx"))).as("s1"),
          max(when(col("arm_a"), col("sxx"))).as("q1"),
          max(when(!col("arm_a"), col("n"))).as("n2"),
          max(when(!col("arm_a"), col("sx"))).as("s2"),
          max(when(!col("arm_a"), col("sxx"))).as("q2"))
        // v_i numerator n·Σx² − (Σx)² computed in DOUBLE, not BIGINT:
        // once an arm's total spend passes ~3·10⁹ cents, (Σx)²
        // exceeds 2⁶³ and BIGINT would wrap silently in Spark while
        // DuckDB raises — casting each factor first keeps both
        // engines on the same fixed-order IEEE chain (precision loss
        // is immaterial inside a double-valued t/df). The REMAINING
        // integer envelope is the q1/q2 aggregation itself:
        // sum(spend²) is BIGINT-exact while Σx² < 2⁶³, i.e. per-user
        // spend ≲ 3·10⁹ cents and arm RMS·√n ≲ 3·10⁹ — past that the
        // aggregate would need its own double cast, which would trade
        // cross-engine exactness for range and is deliberately NOT
        // done here. Squares are explicit multiplications — pow() is
        // libm and carries implementation latitude, x*x does not
        .withColumn("v1", expr(
          """(cast(n1 as double) * q1 - cast(s1 as double) * s1)
             / (cast(n1 as double) * n1 * (n1 - 1))"""))
        .withColumn("v2", expr(
          """(cast(n2 as double) * q2 - cast(s2 as double) * s2)
             / (cast(n2 as double) * n2 * (n2 - 1))"""))
        .select(col("n1"), col("n2"),
          expr("""cast(round(1000.0 *
            ((cast(s1 as double) / n1) - (cast(s2 as double) / n2)) / sqrt(v1 + v2))
            as bigint)""").as("t_milli"),
          expr("""cast(round(1000.0 * ((v1 + v2) * (v1 + v2)) /
            ((v1 * v1) / (n1 - 1) + (v2 * v2) / (n2 - 1))) as bigint)""").as("df_milli"))
  }

  val welchTTest: Q = Q(
    "q_welch_ttest",
    (s, dir) =>
      welchOf(t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("spend"))
        .select((col("user_id") % 2 === 0).as("arm_a"), col("spend"))),
    Some("""
      WITH users AS (
        SELECT user_id % 2 = 0 AS arm_a,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend
        FROM events GROUP BY user_id),
      arms AS (
        SELECT arm_a, CAST(count(*) AS BIGINT) AS n, CAST(sum(spend) AS BIGINT) AS sx,
               CAST(sum(spend * spend) AS BIGINT) AS sxx
        FROM users GROUP BY arm_a),
      wide AS (
        SELECT max(CASE WHEN arm_a THEN n END) AS n1,
               max(CASE WHEN arm_a THEN sx END) AS s1,
               max(CASE WHEN arm_a THEN sxx END) AS q1,
               max(CASE WHEN NOT arm_a THEN n END) AS n2,
               max(CASE WHEN NOT arm_a THEN sx END) AS s2,
               max(CASE WHEN NOT arm_a THEN sxx END) AS q2
        FROM arms),
      vv AS (
        SELECT *,
               (CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1)
                 / (CAST(n1 AS DOUBLE) * n1 * (n1 - 1)) AS v1,
               (CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2)
                 / (CAST(n2 AS DOUBLE) * n2 * (n2 - 1)) AS v2
        FROM wide)
      SELECT n1, n2,
             CAST(round(1000.0 *
               ((CAST(s1 AS DOUBLE) / n1) - (CAST(s2 AS DOUBLE) / n2)) / sqrt(v1 + v2))
               AS BIGINT) AS t_milli,
             CAST(round(1000.0 * ((v1 + v2) * (v1 + v2)) /
               ((v1 * v1) / (n1 - 1) + (v2 * v2) / (n2 - 1))) AS BIGINT) AS df_milli
      FROM vv"""))

  /** Per-group EXPONENTIALLY WEIGHTED moving average over the
    * per-type daily spend series (α = 1/5) — the trend-following
    * smoother next to [[changepoint]]'s level detector. The EWMA
    * recursion e_t = (2·x_t + 8·e_{t−1}) div 10 (seed e_1 = x_1,
    * milli-cent units) is INHERENTLY SEQUENTIAL — a float spelling
    * via decayed-weight sums would hang cross-engine equality on
    * summation order, and an integer common-denominator form
    * overflows 2⁶³ by t ≈ 20 — so the fold runs as `flatMapGroups`
    * over each type's day-sorted series: exact BIGINT floor steps,
    * identical in any engine. The oracle is the same recursion as a
    * DuckDB recursive CTE stepping rn → rn+1.
    *
    * Scale shape: the corpus aggregates ONCE to the daily frame
    * (map-side combine, group×day cardinality); the sequential fold
    * touches only that frame, each group a calendar-bounded series —
    * the one shape where per-group sequential state is free.
    * Envelope: |daily cents| < 2⁶³/10⁴ (≈ $9·10¹⁴/day/type) keeps
    * 2·x·1000 + 8·e inside BIGINT. */
  /** Shared daily spend frame for the smoothing ladder — the one
    * corpus aggregation all three smoothers fold over, factored so
    * they can never drift apart. */
  private def dailyCents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("x"))

  /** Core EWMA pass over any (event_type, day, x) daily frame —
    * factored for hand-series specs. */
  def ewmaOf(daily: DataFrame): DataFrame = {
      val s = daily.sparkSession
      import s.implicits._
      daily.select(col("event_type"), col("day"), col("x"))
        .as[(String, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, rows) =>
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          var e = 0L
          sorted.zipWithIndex.map { case ((_, day, x), i) =>
            // plain / truncates toward zero like Spark div and DuckDB
            // // do (spend is non-negative today, but the fold must
            // mirror the oracle's operator, not a floor variant)
            e = if (i == 0) x * 1000L
                else (2L * x * 1000L + 8L * e) / 10L
            (typ, day, x, e)
          }
        }
        .toDF("event_type", "day", "cents", "ewma_milli")
        .orderBy("event_type", "day")
  }

  val ewma: Q = Q(
    "q_ewma",
    (s, dir) => ewmaOf(dailyCents(s, dir)),
    Some("""
      WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      numbered AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily),
      rec AS (
        SELECT event_type, day, rn, x, x * 1000 AS ewma_milli
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT d.event_type, d.day, d.rn, d.x,
               (2 * d.x * 1000 + 8 * r.ewma_milli) // 10
        FROM numbered d JOIN rec r
          ON d.event_type = r.event_type AND d.rn = r.rn + 1)
      SELECT event_type, day, x AS cents, CAST(ewma_milli AS BIGINT) AS ewma_milli
      FROM rec ORDER BY event_type, day"""))

  /** HOLT LINEAR TREND (double exponential smoothing) over the
    * per-type daily series — the step past [[ewma]] for series with
    * drift: a level and a trend accumulator, each its own exponential
    * smoother (α = β = 1/5), so a steadily growing metric is tracked
    * without the plain EWMA's systematic lag:
    *
    *   l_t = (2·x_t + 8·(l_{t−1} + b_{t−1})) div 10
    *   b_t = (2·(l_t − l_{t−1}) + 8·b_{t−1}) div 10
    *   forecast_t = l_t + b_t        (one-step-ahead)
    *
    * seeded l_1 = x_1, b_1 = 0, all in exact BIGINT milli-cents.
    * Division TRUNCATES toward zero on negative trends — that is what
    * BOTH SQL dialects do (Spark `div` and DuckDB `//` truncate;
    * measured: −11043 // 10 = −1104 in DuckDB), so the Scala fold
    * uses plain `/`, not Math.floorDiv, or the engines diverge by one
    * milli on every negative-trend step. Same
    * execution shape as [[ewmaOf]]: one corpus aggregation to the
    * daily frame, then a flatMapGroups fold per calendar-bounded
    * series; the oracle replays the two-accumulator recursion as a
    * DuckDB recursive CTE. Envelope: |daily cents| < 2⁶³/10⁴. */
  /** Core Holt pass over any (event_type, day, x) daily frame. */
  def holtOf(daily: DataFrame): DataFrame = {
      val s = daily.sparkSession
      import s.implicits._
      daily.select(col("event_type"), col("day"), col("x"))
        .as[(String, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, rows) =>
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          var l = 0L
          var b = 0L
          sorted.zipWithIndex.map { case ((_, day, x), i) =>
            if (i == 0) { l = x * 1000L; b = 0L }
            else {
              val lPrev = l
              l = (2L * x * 1000L + 8L * (lPrev + b)) / 10L
              b = (2L * (l - lPrev) + 8L * b) / 10L
            }
            (typ, day, x, l, b, l + b)
          }
        }
        .toDF("event_type", "day", "cents", "level_milli", "trend_milli",
          "forecast_milli")
        .orderBy("event_type", "day")
  }

  val holt: Q = Q(
    "q_holt_trend",
    (s, dir) => holtOf(dailyCents(s, dir)),
    Some("""
      WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      numbered AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily),
      rec AS (
        SELECT event_type, day, rn, x,
               x * 1000 AS l, CAST(0 AS BIGINT) AS b
        FROM numbered WHERE rn = 1
        UNION ALL
        SELECT d.event_type, d.day, d.rn, d.x,
               (2 * d.x * 1000 + 8 * (r.l + r.b)) // 10 AS l,
               (2 * ((2 * d.x * 1000 + 8 * (r.l + r.b)) // 10 - r.l) + 8 * r.b) // 10 AS b
        FROM numbered d JOIN rec r
          ON d.event_type = r.event_type AND d.rn = r.rn + 1)
      SELECT event_type, day, x AS cents,
             CAST(l AS BIGINT) AS level_milli, CAST(b AS BIGINT) AS trend_milli,
             CAST(l + b AS BIGINT) AS forecast_milli
      FROM rec ORDER BY event_type, day"""))

  /** HOLT–WINTERS additive seasonal smoothing (period 7) — the third
    * rung of the smoothing ladder after [[ewma]] (level) and [[holt]]
    * (level+trend): a rotating 7-slot seasonal state tracks the
    * day-of-week shape, so weekly-periodic spend forecasts without
    * the trend model's systematic weekday error. All three smoothers
    * share α = β = γ = 1/5 and exact BIGINT milli-cents with
    * truncating division (the [[holtOf]] div/`//` finding):
    *
    *   seed (first 7 rows): m = (Σx·1000) div min(7,n);
    *                        l = m, b = 0, s_t = x_t·1000 − m
    *   t > 7:  l_t = (2·(x_t·1000 − s_{t−7}) + 8·(l+b)) div 10
    *           b_t = (2·(l_t − l_prev) + 8·b) div 10
    *           s_t = (2·(x_t·1000 − l_t) + 8·s_{t−7}) div 10
    *   forecast_t = l_t + b_t + s_{t−6}   (one-step-ahead, t ≥ 7;
    *                NULL before a full period exists)
    *
    * Same execution shape as the siblings: one corpus aggregation to
    * the daily frame, a flatMapGroups fold per calendar-bounded
    * series. The oracle carries the 7-slot seasonal state as a LIST
    * column through a DuckDB recursive CTE (rotate = slice ∥ append) —
    * the recursion is anchored at rn = 7 with the seeded state and
    * rows 1..6 union in from the seed frame. */
  /** Core Holt–Winters pass over any (event_type, day, x) daily frame. */
  def holtWintersOf(daily: DataFrame): DataFrame = {
      val s = daily.sparkSession
      import s.implicits._
      daily.select(col("event_type"), col("day"), col("x"))
        .as[(String, java.sql.Timestamp, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (typ, rows) =>
          val sorted = rows.toSeq.sortBy(_._2.getTime)
          val seedN = math.min(7, sorted.length)
          val m = sorted.take(seedN).map(_._3 * 1000L).sum / seedN
          val season = Array.ofDim[Long](sorted.length)
          var l = m
          var b = 0L
          sorted.zipWithIndex.map { case ((_, day, x), i) =>
            val xm = x * 1000L
            if (i < 7) { season(i) = xm - m; l = m; b = 0L }
            else {
              val lPrev = l
              l = (2L * (xm - season(i - 7)) + 8L * (lPrev + b)) / 10L
              b = (2L * (l - lPrev) + 8L * b) / 10L
              season(i) = (2L * (xm - l) + 8L * season(i - 7)) / 10L
            }
            val forecast: java.lang.Long =
              if (i >= 6 && sorted.length >= 7) java.lang.Long.valueOf(
                l + b + season(i - 6)) else null
            (typ, day, x, l, b, season(i), forecast)
          }
        }
        .toDF("event_type", "day", "cents", "level_milli", "trend_milli",
          "seasonal_milli", "forecast_milli")
        .orderBy("event_type", "day")
  }

  /** The Holt–Winters recursive-CTE chain (through `unioned`),
    * factored so [[holtWinters]] and [[forecastBacktest]] share one
    * oracle text. */
  private val holtWintersCtes: String = """
      WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2),
      numbered AS (
        SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily),
      seedm AS (
        SELECT event_type,
               CAST(sum(CASE WHEN rn <= 7 THEN x * 1000 ELSE 0 END) //
                    least(7, count(*)) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM numbered GROUP BY event_type),
      seeds AS (
        SELECT d.event_type, d.day, d.rn, d.x, s.n, s.m AS l,
               CAST(0 AS BIGINT) AS b, d.x * 1000 - s.m AS sv
        FROM numbered d JOIN seedm s USING (event_type)
        WHERE d.rn <= 7),
      anchor AS (
        SELECT event_type, CAST(7 AS BIGINT) AS rn,
               max(CASE WHEN rn = 7 THEN l END) AS l,
               CAST(0 AS BIGINT) AS b,
               list(sv ORDER BY rn) AS sl
        FROM seeds GROUP BY event_type HAVING count(*) = 7),
      rec AS (
        SELECT event_type, rn, l, b, sl FROM anchor
        UNION ALL
        SELECT d.event_type, d.rn,
               (2 * (d.x * 1000 - r.sl[1]) + 8 * (r.l + r.b)) // 10 AS l,
               (2 * ((2 * (d.x * 1000 - r.sl[1]) + 8 * (r.l + r.b)) // 10 - r.l)
                  + 8 * r.b) // 10 AS b,
               list_append(r.sl[2:7],
                 (2 * (d.x * 1000
                    - ((2 * (d.x * 1000 - r.sl[1]) + 8 * (r.l + r.b)) // 10))
                  + 8 * r.sl[1]) // 10) AS sl
        FROM numbered d JOIN rec r
          ON d.event_type = r.event_type AND d.rn = r.rn + 1),
      stepped AS (
        SELECT d.event_type, d.day, d.rn, d.x, r.l, r.b,
               r.sl[7] AS sv, r.sl[1] AS s_next
        FROM numbered d JOIN rec r
          ON d.event_type = r.event_type AND d.rn = r.rn
        WHERE d.rn >= 8),
      seed_rows AS (
        SELECT s.event_type, s.day, s.rn, s.x, s.l, s.b, s.sv,
               CASE WHEN s.rn >= 7 AND s.n >= 7 THEN
                 (SELECT a.sl[1] FROM anchor a WHERE a.event_type = s.event_type)
               ELSE NULL END AS s_next
        FROM seeds s),
      unioned AS (
        SELECT event_type, day, x, l, b, sv,
               CASE WHEN s_next IS NULL THEN NULL
                    ELSE l + b + s_next END AS fc
        FROM seed_rows
        UNION ALL
        SELECT event_type, day, x, l, b, sv, l + b + s_next AS fc
        FROM stepped)"""

  val holtWinters: Q = Q(
    "q_holt_winters",
    (s, dir) => holtWintersOf(dailyCents(s, dir)),
    Some(s"""$holtWintersCtes
      SELECT event_type, day, x AS cents,
             CAST(l AS BIGINT) AS level_milli, CAST(b AS BIGINT) AS trend_milli,
             CAST(sv AS BIGINT) AS seasonal_milli,
             CAST(fc AS BIGINT) AS forecast_milli
      FROM unioned ORDER BY event_type, day"""))

  /** MARKOV REMOVAL-EFFECT ATTRIBUTION — the data-driven model next
    * to [[attribution]]'s heuristic trio (first/last/linear): build
    * the first-order journey chain START → channels → {CONV, DROP},
    * solve for absorption probability P(CONV), then re-solve with
    * each channel REMOVED (every edge into it redirected to DROP) —
    * channel credit = its removal effect 1 − P₋c/P, normalized to
    * shares. The chain math follows the channel DOMAIN, not the
    * corpus: transition counts are one (src,dst)-grouped aggregate
    * (≤ 6×6 rows) after per-user lead/row_number windows, and the
    * 4×4 absorption solves reuse [[Ridge.solve]]'s deterministic
    * Gaussian elimination on exact BIGINT counts — a pure function of
    * the data, identical on every run. Rows-only PERMANENTLY, with
    * the impossibility argued rather than assumed (VERDICT r14 item
    * 7): (a) [[Ridge.solve]] partial-pivots, so the float operation
    * SEQUENCE is data-dependent — a SQL replica would need 4! pivot-
    * order branches per solve to match it bit-for-bit, and any other
    * float algorithm (e.g. Cramer) differs in the last ulps, enough
    * to flip a micro-rounding boundary; (b) the EXACT alternative —
    * integer Cramer over count-scaled matrices and rational removal
    * ratios — needs products of two 4×4 integer determinants, each up
    * to ~4!·(2·rowSum)⁴: past 10⁴⁰ at even modest corpus scale,
    * overflowing Decimal(38) on the Spark side (DuckDB's HUGEINT has
    * no Spark counterpart). In-query floors stand in: P ∈ (0, 1],
    * every removal effect in [0, 1] (redirecting mass into DROP
    * cannot raise conversion), shares sum to ~1000; EventsSpec pins
    * hand-solvable chains. */
  /** Core removal-effect computation over any (user_id, ts, event_id,
    * event_type) frame — factored so the spec can hand-build a chain
    * with known absorption probabilities. */
  private[graft] def markovRemoval(ev0: DataFrame, channels: Seq[String],
      convType: String = "purchase"): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val s = ev0.sparkSession
      val ev = ev0.filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      val firstPurch = ev.filter(col("event_type") === convType)
        .groupBy("user_id")
        .agg(min(struct(col("ts"), col("event_id"))).as("fp"))
      // pre-conversion channel journey per user
      val j = ev.filter(col("event_type").isin(channels: _*))
        .join(firstPurch, Seq("user_id"), "left")
        .filter(col("fp").isNull ||
          struct(col("ts"), col("event_id")) < col("fp"))
        .withColumn("converted", col("fp").isNotNull)
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val seqd = j
        .withColumn("nxt", lead(col("event_type"), 1).over(byUser))
        .withColumn("rn", row_number().over(byUser))
      val mid = seqd.select(col("event_type").as("src"),
        coalesce(col("nxt"),
          when(col("converted"), "CONV").otherwise("DROP")).as("dst"))
      val starts = seqd.filter(col("rn") === 1)
        .select(lit("START").as("src"), col("event_type").as("dst"))
      // users whose first purchase (or whole history) has no prior
      // channel events: a bare START → CONV/DROP transition
      val lonely = ev.groupBy("user_id")
        .agg(max(when(col("event_type") === convType, 1L).otherwise(0L)).as("p"))
        .join(j.select("user_id").distinct(), Seq("user_id"), "left_anti")
        .select(lit("START").as("src"),
          when(col("p") === 1, "CONV").otherwise("DROP").as("dst"))
      val counts = mid.unionByName(starts).unionByName(lonely)
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .collect() // ≤ (|channels|+1)² rows — domain-bounded
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val states = "START" +: channels
      val rowSum = states.map(st =>
        st -> states.drop(1).map(d => counts.getOrElse((st, d), 0L)).sum
          .+(counts.getOrElse((st, "CONV"), 0L))
          .+(counts.getOrElse((st, "DROP"), 0L))).toMap
      // absorption probability from START with channel set `keep`
      // (edges into a removed channel redirect to DROP)
      def pConv(keep: Set[String]): Double = {
        val ch = channels.filter(keep)
        def t(src: String, dst: String): Double =
          if (rowSum(src) == 0) 0.0
          else counts.getOrElse((src, dst), 0L).toDouble / rowSum(src)
        if (ch.isEmpty) t("START", "CONV")
        else {
          // (I − Q) x = b over the kept channels
          val a = Array.tabulate(ch.size, ch.size)((i, k) =>
            (if (i == k) 1.0 else 0.0) - t(ch(i), ch(k)))
          val b = Array.tabulate(ch.size)(i => t(ch(i), "CONV"))
          val x = Ridge.solve(a, b)
          t("START", "CONV") +
            ch.indices.map(i => t("START", ch(i)) * x(i)).sum
        }
      }
      val pFull = pConv(channels.toSet)
      Audit.check("Markov chain P(conv) (bound: least double above 0, 1 + 1e-12)",
        pFull, Audit.within(Math.nextUp(0.0), 1.0 + 1e-12))
      val removals = channels.map { c =>
        val r = 1.0 - pConv(channels.toSet - c) / pFull
        Audit.check(s"removal effect of $c", r, Audit.within(-1e-9, 1.0 + 1e-9))
        c -> math.max(0.0, r)
      }
      val totalMicro = removals.map(r => math.round(r._2 * 1e6)).sum
      val out = removals.map { case (c, r) =>
        val micro = math.round(r * 1e6)
        (c, micro, if (totalMicro == 0) 0L else 1000 * micro / totalMicro,
          math.round(pFull * 1e6))
      }
      s.createDataFrame(out)
        .toDF("channel", "removal_micro", "share_permille", "p_conv_micro")
        .orderBy("channel")
  }

  val markovAttribution: Q = Q(
    "q_markov_attribution",
    (s, dir) => markovRemoval(t(s, dir, "events"),
      Seq("click", "view", "signup", "error")),
    None)

  /** SPRT (Wald's sequential probability ratio test) on the per-day
    * A/B walk — the EARLY-STOPPING complement of [[abTest]]'s fixed-
    * horizon z-test: instead of waiting for the full sample, the
    * log-likelihood ratio is monitored day by day and the experiment
    * stops the first day it crosses either boundary, with type-I/II
    * error ≤ α/β BY CONSTRUCTION (Wald's bound needs no distribution
    * of the stopping time).
    *
    * Hypotheses are PINNED constants (the per-event purchase share:
    * H₀ p₀ = 1/5 vs H₁ p₁ = 1/4), so the per-observation LLR weights
    * are two fixed integers — L1 = round(10⁶·ln(p₁/p₀)) = 223144 for
    * a success, L0 = round(10⁶·ln((1−p₁)/(1−p₀))) = −64539 for a
    * failure — and the whole walk is exact BIGINT:
    * llr(d) = cum_s·L1 + (cum_n−cum_s)·L0. Boundaries at α = β = 0.05
    * are ±round(10⁶·ln((1−β)/α)) = ±2944439 (Wald's A = (1−β)/α,
    * B = β/(1−α), symmetric here). No engine evaluates ln at query
    * time — the constants are literals on BOTH sides, which is what
    * makes a sequential-analysis query hash-oracleable at all.
    *
    * The walk is LINEAR in the cumulative counts, so no recursive
    * fold is needed (unlike [[ewma]], whose state multiplies): two
    * prefix sums over the day-domain frame give every day's LLR
    * declaratively. `stop_day` = first boundary crossing (a
    * partition-min over the tiny frame); `post_stop` marks data a
    * sequential experimenter would never have collected.
    *
    * Scale shape: ONE corpus pass to the (cohort, day) frame
    * (2·days rows — calendar-bounded, never data-bounded); every
    * window after that is over that tiny frame, partitioned by
    * cohort. Envelope: |llr| ≤ cum_n·223144, safe through ~4·10¹³
    * events per cohort — past any 100 TB corpus. */
  def sprtOf(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L1 = 223144L
    val L0 = -64539L
    val A = 2944439L
    val w = Window.partitionBy("cohort").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = daily
      .withColumn("cum_n", sum(col("n_d")).over(w))
      .withColumn("cum_s", sum(col("s_d")).over(w))
      .withColumn("llr_micro",
        col("cum_s") * lit(L1) + (col("cum_n") - col("cum_s")) * lit(L0))
      .withColumn("decision",
        when(col("llr_micro") >= A, "accept_h1")
          .when(col("llr_micro") <= -A, "accept_h0")
          .otherwise("continue"))
    val byCohort = Window.partitionBy("cohort")
    walk
      .withColumn("stop_day",
        min(when(col("decision") =!= "continue", col("day"))).over(byCohort))
      .withColumn("post_stop",
        col("stop_day").isNotNull && col("day") > col("stop_day"))
      .orderBy("cohort", "day")
  }

  val sprt: Q = Q(
    "q_sprt",
    (s, dir) => sprtOf(
      t(s, dir, "events")
        .groupBy((col("user_id") % 2).as("cohort"),
          date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_d"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("s_d"))),
    Some("""
      WITH daily AS (
        SELECT user_id % 2 AS cohort, date_trunc('day', ts) AS day,
               CAST(count(*) AS BIGINT) AS n_d,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS s_d
        FROM events GROUP BY 1, 2),
      walk AS (
        SELECT cohort, day, n_d, s_d,
               CAST(sum(n_d) OVER w AS BIGINT) AS cum_n,
               CAST(sum(s_d) OVER w AS BIGINT) AS cum_s
        FROM daily
        WINDOW w AS (PARTITION BY cohort ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      scored AS (
        SELECT *,
               CAST(cum_s * 223144 + (cum_n - cum_s) * (-64539) AS BIGINT)
                 AS llr_micro,
               CASE WHEN cum_s * 223144 + (cum_n - cum_s) * (-64539)
                         >= 2944439 THEN 'accept_h1'
                    WHEN cum_s * 223144 + (cum_n - cum_s) * (-64539)
                         <= -2944439 THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM walk),
      stopped AS (
        SELECT *,
               min(CASE WHEN decision <> 'continue' THEN day END)
                 OVER (PARTITION BY cohort) AS stop_day
        FROM scored)
      SELECT cohort, day, n_d, s_d, cum_n, cum_s, llr_micro, decision,
             stop_day,
             (stop_day IS NOT NULL AND day > stop_day) AS post_stop
      FROM stopped ORDER BY cohort, day"""))

  /** EXACT Shapley-value attribution over the 4-channel touchpoint
    * game — the third attribution model next to [[attribution]]'s
    * positional rules and [[markovAttribution]]'s removal effects:
    * channel i's credit is its average marginal contribution over
    * every coalition ordering, the unique allocation satisfying
    * efficiency/symmetry/dummy (Shapley 1953). Exponential in
    * general; EXACT here because the channel set is small and fixed —
    * the characteristic function v(S) = "conversions whose
    * pre-purchase touchset ⊆ S" lives on 2⁴ = 16 coalition masks, a
    * broadcast-sized domain.
    *
    * Everything is integer: per-user touch masks (bit per channel,
    * touches STRICTLY before the first purchase), exact-mask counts,
    * v by superset-sum (m & S = m), and Shapley weights scaled by
    * 4! = 24 — w24(|S|) ∈ {6,2,2,6} — so φ24(i) = Σ_S w24·(v(S∪i) −
    * v(S)) is exact BIGINT and efficiency (Σφ24 = 24·(v(full) −
    * v(∅))) is an integer identity the spec pins.
    *
    * Scale shape: ONE user-keyed corpus aggregate to masks (the only
    * data-sized shuffle), a 16-row count frame, then pure
    * constant-domain joins (16×16 subset lattice, 4×8 channel ×
    * coalition). Envelope: v ≤ #users, ×6×1000 « 2⁶³ through ~10¹⁴
    * users. */
  /** Core Shapley pass over any (user_id, ts, event_type) frame —
    * factored for the hand-game spec. */
  def shapleyOf(ev: DataFrame): DataFrame = {
      val s = ev.sparkSession
      val fp = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min(col("ts")).as("pts"))
      val tch = ev.join(fp, Seq("user_id"))
        .filter(col("ts") < col("pts"))
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("b1"),
          max(when(col("event_type") === "view", 2L).otherwise(0L)).as("b2"),
          max(when(col("event_type") === "signup", 4L).otherwise(0L)).as("b4"),
          max(when(col("event_type") === "error", 8L).otherwise(0L)).as("b8"))
      val masks = fp.join(tch, Seq("user_id"), "left")
        .select(coalesce(col("b1") + col("b2") + col("b4") + col("b8"),
          lit(0L)).as("mask"))
      val cnt = masks.groupBy("mask").agg(count(lit(1)).as("n"))
      val subsets = s.range(16).select(col("id").as("coal"))
      val vfun = subsets
        .join(broadcast(cnt), expr("(mask & coal) = mask"), "left")
        .groupBy("coal").agg(coalesce(sum(col("n")), lit(0L)).as("v"))
      val ch = s.createDataFrame(Seq(
          ("click", 1L), ("view", 2L), ("signup", 4L), ("error", 8L)))
        .toDF("channel", "bit")
      val pop = expr("((coal div 1) % 2) + ((coal div 2) % 2) + " +
        "((coal div 4) % 2) + ((coal div 8) % 2)")
      val phi = ch.join(subsets, expr("(coal & bit) = 0"))
        .join(vfun.select(col("coal").as("ca"), col("v").as("va")),
          col("ca") === col("coal"))
        .join(vfun.select(col("coal").as("cb"), col("v").as("vb")),
          col("cb") === col("coal") + col("bit"))
        .withColumn("w24",
          when(pop === 0, 6L).when(pop === 1, 2L)
            .when(pop === 2, 2L).otherwise(6L))
        .groupBy("channel")
        .agg(sum(col("w24") * (col("vb") - col("va"))).as("phi24"))
      val tot = phi.agg(sum(col("phi24")).as("tp"))
      phi.crossJoin(broadcast(tot))
        .select(col("channel"), col("phi24"),
          expr("(phi24 * 1000) div nullif(tp, 0)").as("share_permille"))
        .orderBy("channel")
  }

  val shapleyAttribution: Q = Q(
    "q_shapley",
    (s, dir) => shapleyOf(t(s, dir, "events")),
    Some("""
      WITH fp AS (SELECT user_id, min(ts) AS pts FROM events
                  WHERE event_type = 'purchase' GROUP BY user_id),
      tch AS (
        SELECT e.user_id,
               max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END) AS b1,
               max(CASE WHEN e.event_type = 'view' THEN 2 ELSE 0 END) AS b2,
               max(CASE WHEN e.event_type = 'signup' THEN 4 ELSE 0 END) AS b4,
               max(CASE WHEN e.event_type = 'error' THEN 8 ELSE 0 END) AS b8
        FROM events e JOIN fp ON fp.user_id = e.user_id AND e.ts < fp.pts
        GROUP BY e.user_id),
      masks AS (
        SELECT coalesce(t.b1 + t.b2 + t.b4 + t.b8, 0) AS mask
        FROM fp LEFT JOIN tch t ON t.user_id = fp.user_id),
      cnt AS (SELECT mask, CAST(count(*) AS BIGINT) AS n
              FROM masks GROUP BY mask),
      subsets AS (SELECT CAST(range AS BIGINT) AS coal FROM range(0, 16)),
      vfun AS (
        SELECT s.coal, CAST(coalesce(sum(c.n), 0) AS BIGINT) AS v
        FROM subsets s LEFT JOIN cnt c ON (c.mask & s.coal) = c.mask
        GROUP BY s.coal),
      ch AS (SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
               ('view', CAST(2 AS BIGINT)), ('signup', CAST(4 AS BIGINT)),
               ('error', CAST(8 AS BIGINT))) AS t(channel, bit)),
      phi AS (
        SELECT ch.channel,
               CAST(sum((CASE ((s.coal // 1) % 2) + ((s.coal // 2) % 2)
                            + ((s.coal // 4) % 2) + ((s.coal // 8) % 2)
                         WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2
                         ELSE 6 END)
                    * (vb.v - va.v)) AS BIGINT) AS phi24
        FROM ch JOIN subsets s ON (s.coal & ch.bit) = 0
        JOIN vfun va ON va.coal = s.coal
        JOIN vfun vb ON vb.coal = s.coal + ch.bit
        GROUP BY ch.channel),
      tot AS (SELECT CAST(sum(phi24) AS BIGINT) AS tp FROM phi)
      SELECT channel, phi24,
             CAST((phi24 * 1000) // nullif(tp, 0) AS BIGINT) AS share_permille
      FROM phi CROSS JOIN tot ORDER BY channel"""))

  /** Shared Spark∩DuckDB text for the two-sided normal tail
    * p = 2(1−Φ(|z|)) = erfc(|z|/√2), via Abramowitz–Stegun 7.1.26
    * (|error| ≤ 1.5·10⁻⁷ — far inside the micro rounding): with
    * x = |z|/√2 and t = 1/(1+0.3275911·x),
    * erfc(x) = (a₁t + a₂t² + a₃t³ + a₄t⁴ + a₅t⁵)·e^(−x²).
    * One polynomial + one exp, identical parse tree both engines,
    * rounded ONCE to micro. `z` is the caller's column name. */
  private[graft] def pTailSql(z: String): String = {
    val x = s"(abs($z) / 1.4142135623730951)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $x))"
    s"(((((1.061405429 * $t - 1.453152027) * $t + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592) * $t * exp(-($x * $x)))"
  }

  /** BENJAMINI–HOCHBERG FDR screening over the (event_type × hour)
    * time-mix family — the multiple-testing control the sequential
    * tests ([[sprt]], `q_ab_sequential`) don't cover: m ≈ 120
    * simultaneous hypotheses "this cell's share of its type's events
    * is the uniform 1/24", each a binomial z-test whose two-sided
    * p-value comes from the shared-text [[pTailSql]] chain over exact
    * integer counts. BH steps up: sort p ascending, find the LARGEST
    * i with p₍ᵢ₎ ≤ i·q/m (q = 0.05 ⇒ the integer comparison
    * p_micro·m ≤ 50000·i), and reject every rank ≤ that — controlling
    * the expected FALSE-DISCOVERY fraction at q where per-test α
    * would drown m tests in false positives and Bonferroni would
    * find nothing.
    *
    * Everything after the one rounded p per cell is integer: ranks
    * (total order: p, type, hour), the cross-multiplied threshold,
    * and the step-up cutoff (a max window over the m-row family).
    * Scale shape: one corpus pass to the (type, hour) cell frame;
    * every window after runs over those m rows. */
  val fdrBh: Q = Q(
    "q_fdr_bh",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = t(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy("event_type")
      // 24e0 etc: scientific literals parse as DOUBLE in BOTH engines;
      // plain 1.0/24.0 is DECIMAL division in Spark (DecimalType(8,6)
      // = 0.041667 exactly) vs higher precision in DuckDB — an 8e-6
      // divergence that flipped ~100 p_micro cells by one
      val zSql = "((cast(c as double) - cast(nt as double) / 24e0)" +
        " / sqrt(cast(nt as double) * (1e0/24e0) * (23e0/24e0)))"
      val scored = cells
        .withColumn("nt", sum(col("c")).over(byType))
        .withColumn("p_micro",
          expr(s"cast(round(${pTailSql(zSql)} * 1e6) as bigint)"))
      val ranked = scored
        .withColumn("i", row_number().over(
          Window.orderBy(col("p_micro").asc, col("event_type").asc,
            col("hr").asc)).cast("long"))
        .withColumn("m", count(lit(1)).over(
          Window.partitionBy()))
        .withColumn("pass", when(
          col("p_micro") * col("m") <= lit(50000L) * col("i"), col("i"))
          .otherwise(0L))
      ranked
        .withColumn("i_max", max(col("pass")).over(Window.partitionBy()))
        .select(col("event_type"), col("hr"), col("c"), col("nt"),
          col("p_micro"), col("i").as("bh_rank"),
          (col("i") <= col("i_max")).as("rejected"))
        .orderBy("event_type", "hr")
    },
    Some(s"""
      WITH cells AS (
        SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) AS hr,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
      scored AS (
        SELECT event_type, hr, c,
               CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS nt
        FROM cells),
      pv AS (
        SELECT event_type, hr, c, nt,
               CAST(round(${pTailSql(
      "((cast(c as double) - cast(nt as double) / 24e0)" +
        " / sqrt(cast(nt as double) * (1e0/24e0) * (23e0/24e0)))")} * 1e6)
                 AS BIGINT) AS p_micro
        FROM scored),
      ranked AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY p_micro ASC, event_type ASC,
                 hr ASC) AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pv),
      cut AS (
        SELECT *,
               CASE WHEN p_micro * m <= 50000 * i THEN i ELSE 0 END AS pass
        FROM ranked)
      SELECT event_type, hr, c, nt, p_micro, i AS bh_rank,
             (i <= max(pass) OVER ()) AS rejected
      FROM cut
      ORDER BY event_type, hr"""))

  /** WALK-FORWARD FORECAST BACKTEST — the audit every forecasting
    * stack owes its users: does the fitted smoother actually beat the
    * SEASONAL-NAIVE baseline ŷ_t = y_{t−7} (same weekday last week),
    * the bar M-competition practice sets before a model earns its
    * keep? One-step-ahead Holt–Winters predictions
    * ([[holtWintersOf]]'s forecast column, lagged one row so each day
    * is scored by what the model said YESTERDAY — no peeking) against
    * the naive lag-7, per type, exact integer milli MAE on the shared
    * evaluation window (day ≥ 8, where both predictors exist). The
    * verdict boolean compares the SUMS (same n — equivalent to MAE,
    * no division rounding in the decision). Fully hash-oracled via
    * the shared Holt–Winters recursive-CTE chain.
    *
    * Scale shape: the smoother's per-type fold plus two lag windows
    * over the calendar-bounded daily frame. */
  val forecastBacktest: Q = Q(
    "q_forecast_backtest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("day")
      val bt = holtWintersOf(dailyCents(s, dir))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("y7", lag(col("cents"), 7).over(w))
        .withColumn("fprev", lag(col("forecast_milli"), 1).over(w))
        .filter(col("rn") >= 8)
      bt.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("cents") * 1000L - col("y7") * 1000L)).as("sn"),
          sum(abs(col("cents") * 1000L - col("fprev"))).as("sh"))
        .select(col("event_type"), col("n_days"),
          expr("sn div n_days").as("mae_naive_milli"),
          expr("sh div n_days").as("mae_hw_milli"),
          (col("sh") <= col("sn")).as("hw_beats_naive"))
        .orderBy("event_type")
    },
    Some(s"""$holtWintersCtes,
      bt AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn,
               lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS y7,
               lag(fc, 1) OVER (PARTITION BY event_type ORDER BY day) AS fprev
        FROM unioned)
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(abs(x * 1000 - y7 * 1000)) // count(*) AS BIGINT)
               AS mae_naive_milli,
             CAST(sum(abs(x * 1000 - fprev)) // count(*) AS BIGINT)
               AS mae_hw_milli,
             (CAST(sum(abs(x * 1000 - fprev)) AS BIGINT)
               <= CAST(sum(abs(x * 1000 - y7 * 1000)) AS BIGINT))
               AS hw_beats_naive
      FROM bt WHERE rn >= 8
      GROUP BY event_type ORDER BY event_type"""))

  /** UCB1 BANDIT REPLAY — offline evaluation of the classic
    * optimism-under-uncertainty policy (Auer et al. 2002) against the
    * logged event stream: arms are the five event types, one decision
    * per day, and playing arm a on day t pays that day's mean event
    * value in CLIPPED MILLI-UNITS (r ∈ [0, 1000], the bounded-reward
    * precondition UCB1's regret bound needs). At round t the policy
    * picks argmax over arms of mean_micro + bonus_micro, where
    * mean_micro = 1000·Σr ÷ n (floor) and bonus_micro =
    * round(√(2·ln t / n)·10⁶) — unplayed arms score +∞ (a big-BIGINT
    * literal), which makes the canonical play-each-arm-once opening
    * fall out of the one argmax rule; ties break to the
    * alphabetically first arm. The full state trajectory (pick,
    * reward, per-arm plays and reward sums after the update) rides
    * the driver hash, so a single mis-ordered comparison anywhere in
    * 30 rounds flips the result.
    *
    * Exactness: day rewards are cents-exact floor divisions; the
    * bonus is ONE fixed-order IEEE chain (ln, divide, sqrt, scale,
    * round once — the cosine-recipe contract); all comparisons are
    * BIGINT micro-units. The oracle replays the identical recurrence
    * as a generated 10-state-column recursive CTE.
    *
    * Scale shape: the reward matrix is one map-side-combinable
    * (day, arm) aggregate off the corpus scan; the 30×5 frame is
    * day-domain-bounded, so the sequential fold is driver work by
    * construction (the [[graft.llm.Retrieval]] MMR argument — the
    * decision at round t depends on every prior round; shipping a
    * 150-row fold to executors would just round-trip it). A longer
    * horizon stays day-domain; more arms widen the tiny frame. */
  val UcbArms = Seq("click", "error", "purchase", "signup", "view")

  val ucbReplay: Q = Q(
    "q_ucb_replay",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin(UcbArms: _*))
        .select(to_date(col("ts")).as("d"), col("event_type").as("arm"),
          round(col("value") * 100, 0).cast("long").as("vc"))
      // day index: a window over the DISTINCT-day table an Aggregate
      // already collapsed (the winsorize envelope — never corpus rows)
      val dayIdx = ev.select("d").distinct()
        .withColumn("t", row_number().over(Window.orderBy("d")).cast("long"))
      val rm = ev.join(dayIdx, "d")
        .groupBy("t", "arm")
        .agg(least(lit(1000L),
          expr("(1000 * sum(vc)) div (100 * count(1))")).as("r"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val horizon = if (rm.isEmpty) 0 else rm.keys.map(_._1).max.toInt
      val n = scala.collection.mutable.Map(UcbArms.map(_ -> 0L): _*)
      val sum = scala.collection.mutable.Map(UcbArms.map(_ -> 0L): _*)
      val trace = (1 to horizon).map { rt =>
        val scored = UcbArms.map { a =>
          val score =
            if (n(a) == 0L) 1000000000000000L
            else (1000L * sum(a)) / n(a) +
              BigDecimal(math.sqrt(2.0 * math.log(rt.toDouble) / n(a)) * 1e6)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (a, score)
        }
        val best = scored.maxBy(_._2)._2
        val pick = scored.filter(_._2 == best).map(_._1).min
        val r = rm.getOrElse((rt.toLong, pick), 0L)
        n(pick) += 1L; sum(pick) += r
        (rt.toLong, pick, r, n(pick), sum(pick))
      }
      import s.implicits._
      trace.toDF("t", "arm", "reward_milli", "n_arm", "sum_arm_milli")
        .coalesce(1).orderBy("t")
    },
    Some(ucbOracle))

  /** Generated recursive-CTE oracle for [[ucbReplay]]: state columns
    * (n_i, s_i) per arm, one recursion step per day. */
  private def ucbOracle: String = {
    val k = UcbArms.length
    val idx = 1 to k
    val armVals = UcbArms.map(a => s"('$a')").mkString(", ")
    val zeroState = idx.map(i => s"CAST(0 AS BIGINT) AS n$i, CAST(0 AS BIGINT) AS s$i")
      .mkString(", ")
    val scores = idx.map(i => s"""
          CASE WHEN u.n$i = 0 THEN CAST(1000000000000000 AS BIGINT)
               ELSE (1000 * u.s$i) // u.n$i +
                    CAST(round(sqrt(2.0 * ln(CAST(u.t + 1 AS DOUBLE)) /
                      CAST(u.n$i AS DOUBLE)) * 1e6) AS BIGINT) END AS sc$i""")
      .mkString(",")
    val best = s"greatest(${idx.map(i => s"sc$i").mkString(", ")})"
    // npick/nrpick, NOT pick/rpick: the recursion carries state
    // columns named pick/rpick, and a same-SELECT lateral alias that
    // shadows a carried column resolves to the CARRIED one — the
    // silent self-reference that froze the state at the anchor
    val pickIdx = "CAST(CASE " +
      idx.map(i => s"WHEN sc$i = best THEN $i").mkString(" ") + " END AS BIGINT)"
    val rewardOfPick = "CASE " +
      idx.map(i => s"WHEN npick = $i THEN r$i").mkString(" ") + " END"
    val newState = idx.map(i =>
      s"""CASE WHEN npick = $i THEN n$i + 1 ELSE n$i END AS n$i,
          CASE WHEN npick = $i THEN s$i + nrpick ELSE s$i END AS s$i""").mkString(",\n          ")
    val wideRewards = idx.map(i =>
      s"""CAST(coalesce(max(CASE WHEN arm = '${UcbArms(i - 1)}' THEN r END), 0)
          AS BIGINT) AS r$i""").mkString(",\n               ")
    val armName = "CASE " +
      idx.map(i => s"WHEN pick = $i THEN '${UcbArms(i - 1)}'").mkString(" ") + " END"
    val pickedN = "CASE " + idx.map(i => s"WHEN pick = $i THEN n$i").mkString(" ") + " END"
    val pickedS = "CASE " + idx.map(i => s"WHEN pick = $i THEN s$i").mkString(" ") + " END"
    s"""
      WITH RECURSIVE ev AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS d, event_type AS arm,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN (${UcbArms.map(a => s"'$a'").mkString(", ")})),
      dayidx AS (SELECT d, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
                 FROM (SELECT DISTINCT d FROM ev)),
      rmat AS MATERIALIZED (
        SELECT t, arm,
               least(1000, (1000 * sum(vc)) // (100 * count(*))) AS r
        FROM ev JOIN dayidx USING (d) GROUP BY t, arm),
      grid AS MATERIALIZED (
        SELECT t, $wideRewards
        FROM rmat GROUP BY t),
      horizon AS (SELECT CAST(max(t) AS BIGINT) AS h FROM grid),
      ucb AS (
        SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS pick,
               CAST(0 AS BIGINT) AS rpick, $zeroState
        UNION ALL
        SELECT u.t + 1 AS t, npick AS pick, nrpick AS rpick,
          $newState
        FROM (
          SELECT u.*, $best AS best,
                 $pickIdx AS npick,
                 $rewardOfPick AS nrpick
          FROM (SELECT u.*, $scores
                FROM ucb u) u
          JOIN grid g ON g.t = u.t + 1
        ) u
        WHERE u.t < (SELECT h FROM horizon))
      SELECT t, $armName AS arm, rpick AS reward_milli,
             $pickedN AS n_arm, $pickedS AS sum_arm_milli
      FROM ucb WHERE t >= 1
      ORDER BY t"""
  }

  /** CONTEXTUAL UCB — one independent UCB1 state machine PER CONTEXT
    * (the day-of-week contexts [[ipsValue]] defines, x = day % 7),
    * the simplest contextual bandit: rounds are a context's own days
    * in order, so context x's round t is the t-th calendar day whose
    * day-of-month ≡ x (mod 7); rewards, bonus recipe, exactness, and
    * tie-breaks are verbatim [[ucbReplay]] (clipped milli day-means,
    * ONE fixed-order IEEE bonus chain, BIGINT micro comparisons,
    * unplayed arms +∞, ties alphabetical). The full per-context
    * trajectory (pick, reward, per-arm plays and sums after update)
    * rides the driver hash.
    *
    * Scale shape: the reward tensor is one map-side-combinable
    * (x, day, arm) aggregate off the corpus scan; the folded frame is
    * (context × day)-domain-bounded driver work (the [[ucbReplay]]
    * argument — each context's decision at round t depends on all its
    * prior rounds; contexts are independent but the whole state table
    * is ~7×30 rows). The oracle replays all contexts SIMULTANEOUSLY
    * in one recursive CTE: the recursion carries one state row per
    * context and each step joins the (x, t+1) reward grid — contexts
    * whose days run out simply drop from the recursion. */
  val ucbContextual: Q = Q(
    "q_ucb_contextual",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin(UcbArms: _*))
        .select(to_date(col("ts")).as("d"), col("event_type").as("arm"),
          round(col("value") * 100, 0).cast("long").as("vc"))
        .withColumn("x", (dayofmonth(col("d")) % 7).cast("long"))
      val dayIdx = ev.select("x", "d").distinct()
        .withColumn("t", row_number().over(
          Window.partitionBy("x").orderBy("d")).cast("long"))
      val rm = ev.join(dayIdx, Seq("x", "d"))
        .groupBy("x", "t", "arm")
        .agg(least(lit(1000L),
          expr("(1000 * sum(vc)) div (100 * count(1))")).as("r"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getLong(3))
        .toMap
      val contexts = rm.keys.map(_._1).toSeq.distinct.sorted
      val trace = contexts.flatMap { x =>
        val horizon = rm.keys.collect { case (`x`, tt, _) => tt }
          .foldLeft(0L)(math.max).toInt
        val n = scala.collection.mutable.Map(UcbArms.map(_ -> 0L): _*)
        val sum = scala.collection.mutable.Map(UcbArms.map(_ -> 0L): _*)
        (1 to horizon).map { rt =>
          val scored = UcbArms.map { a =>
            val score =
              if (n(a) == 0L) 1000000000000000L
              else (1000L * sum(a)) / n(a) +
                BigDecimal(math.sqrt(2.0 * math.log(rt.toDouble) / n(a)) * 1e6)
                  .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            (a, score)
          }
          val best = scored.maxBy(_._2)._2
          val pick = scored.filter(_._2 == best).map(_._1).min
          val r = rm.getOrElse((x, rt.toLong, pick), 0L)
          n(pick) += 1L; sum(pick) += r
          (x, rt.toLong, pick, r, n(pick), sum(pick))
        }
      }
      import s.implicits._
      trace.toDF("x", "t", "arm", "reward_milli", "n_arm", "sum_arm_milli")
        .coalesce(1).orderBy("x", "t")
    },
    Some(contextualUcbOracle))

  /** Generated context-keyed recursive-CTE oracle for
    * [[ucbContextual]]: the [[ucbOracle]] state recurrence with every
    * CTE carrying the context key x; one recursion advances all
    * contexts in lockstep, the (x, t+1) grid join retiring each
    * context at its own horizon. */
  private def contextualUcbOracle: String = {
    val k = UcbArms.length
    val idx = 1 to k
    val zeroState = idx.map(i => s"CAST(0 AS BIGINT) AS n$i, CAST(0 AS BIGINT) AS s$i")
      .mkString(", ")
    val scores = idx.map(i => s"""
          CASE WHEN u.n$i = 0 THEN CAST(1000000000000000 AS BIGINT)
               ELSE (1000 * u.s$i) // u.n$i +
                    CAST(round(sqrt(2.0 * ln(CAST(u.t + 1 AS DOUBLE)) /
                      CAST(u.n$i AS DOUBLE)) * 1e6) AS BIGINT) END AS sc$i""")
      .mkString(",")
    val best = s"greatest(${idx.map(i => s"sc$i").mkString(", ")})"
    // npick/nrpick naming: see ucbOracle — a lateral alias shadowing a
    // carried state column resolves to the CARRIED one
    val pickIdx = "CAST(CASE " +
      idx.map(i => s"WHEN sc$i = best THEN $i").mkString(" ") + " END AS BIGINT)"
    val rewardOfPick = "CASE " +
      idx.map(i => s"WHEN npick = $i THEN r$i").mkString(" ") + " END"
    val newState = idx.map(i =>
      s"""CASE WHEN npick = $i THEN n$i + 1 ELSE n$i END AS n$i,
          CASE WHEN npick = $i THEN s$i + nrpick ELSE s$i END AS s$i""").mkString(",\n          ")
    val wideRewards = idx.map(i =>
      s"""CAST(coalesce(max(CASE WHEN arm = '${UcbArms(i - 1)}' THEN r END), 0)
          AS BIGINT) AS r$i""").mkString(",\n               ")
    val armName = "CASE " +
      idx.map(i => s"WHEN pick = $i THEN '${UcbArms(i - 1)}'").mkString(" ") + " END"
    val pickedN = "CASE " + idx.map(i => s"WHEN pick = $i THEN n$i").mkString(" ") + " END"
    val pickedS = "CASE " + idx.map(i => s"WHEN pick = $i THEN s$i").mkString(" ") + " END"
    s"""
      WITH RECURSIVE ev AS MATERIALIZED (
        SELECT CAST(day(CAST(ts AS DATE)) % 7 AS BIGINT) AS x,
               CAST(ts AS DATE) AS d, event_type AS arm,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events WHERE event_type IN (${UcbArms.map(a => s"'$a'").mkString(", ")})),
      dayidx AS (SELECT x, d,
                   CAST(row_number() OVER (PARTITION BY x ORDER BY d) AS BIGINT) AS t
                 FROM (SELECT DISTINCT x, d FROM ev)),
      rmat AS MATERIALIZED (
        SELECT e.x, di.t, e.arm,
               least(1000, (1000 * sum(vc)) // (100 * count(*))) AS r
        FROM ev e JOIN dayidx di ON e.x = di.x AND e.d = di.d
        GROUP BY e.x, di.t, e.arm),
      grid AS MATERIALIZED (
        SELECT x, t, $wideRewards
        FROM rmat GROUP BY x, t),
      ucb AS (
        SELECT x, CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS pick,
               CAST(0 AS BIGINT) AS rpick, $zeroState
        FROM (SELECT DISTINCT x FROM grid)
        UNION ALL
        SELECT u.x, u.t + 1 AS t, npick AS pick, nrpick AS rpick,
          $newState
        FROM (
          SELECT u.*, $best AS best,
                 $pickIdx AS npick,
                 $rewardOfPick AS nrpick
          FROM (SELECT u.*, $scores
                FROM ucb u) u
          JOIN grid g ON g.x = u.x AND g.t = u.t + 1
        ) u)
      SELECT x, t, $armName AS arm, rpick AS reward_milli,
             $pickedN AS n_arm, $pickedS AS sum_arm_milli
      FROM ucb WHERE t >= 1
      ORDER BY x, t"""
  }

  /** KLEINBERG BURST DETECTION — the 2-state burst automaton (KDD
    * 2002) over the daily click series: a base state emitting at the
    * observed mean rate λ and a burst state at 2λ, a one-time entry
    * toll of ln(D) micro-nats for switching into burst (the prior
    * against spurious bursts), and a Viterbi pass that finds the
    * minimum-cost state sequence. The day-d emission cost in state s
    * is the Poisson negative log-likelihood less the x!-constant:
    * cost_s(d) = sλ − x_d·ln(sλ), exact as (10⁶·s·N) ÷ D −
    * x_d·round(ln(sN/D)·10⁶) — one IEEE ln per state on a ratio of
    * exact BIGINTs, everything else BIGINT. The emitted surface is
    * the full forward TRELLIS (v0, v1) plus the argmin choice bits
    * per day — i.e. the Viterbi computation itself rides the driver
    * hash (the [[graft.llm.UnigramLm]] choice-table discipline), and
    * any backtracked burst interval is a pure function of the hashed
    * rows. Ties break to the base state.
    *
    * Scale shape: one map-side-combinable (day) aggregate off the
    * corpus scan; the fold is day-domain-bounded driver work (the
    * [[ucbReplay]] argument), and the oracle replays it as a
    * recursive CTE over the same grid. */
  /** The forward Viterbi fold over a (t, x) day series — factored so
    * EventsSpec can plant a burst and backtrack the path. */
  def burstTrellis(seq0: Seq[(Long, Long)]): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val dD = seq0.length.toLong
    val nN = seq0.map(_._2).sum
    def lnm(mult: Long): Long =
      BigDecimal(math.log((mult * nN).toDouble / dD.toDouble) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val (ln1, ln2) = (lnm(1L), lnm(2L))
    val (lam1, lam2) = ((1000000L * nN) / dD, (2000000L * nN) / dD)
    val trans = BigDecimal(math.log(dD.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    var (v0, v1) = (0L, 1000000000000000L)
    seq0.sortBy(_._1).map { case (tt, x) =>
      val (c0, c1) = (lam1 - x * ln1, lam2 - x * ln2)
      val ch0 = if (v0 <= v1) 0L else 1L
      val ch1 = if (v1 <= v0 + trans) 1L else 0L
      val (n0, n1) = (math.min(v0, v1) + c0, math.min(v1, v0 + trans) + c1)
      v0 = n0; v1 = n1
      (tt, x, v0, v1, ch0, ch1)
    }
  }

  val burstDetect: Q = Q(
    "q_burst_detect",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val days = t(s, dir, "events")
        .select(to_date(col("ts")).as("d"),
          when(col("event_type") === "click", 1L).otherwise(0L).as("is_click"))
        .groupBy("d").agg(sum(col("is_click")).as("x"))
      val seq0 = days
        .withColumn("t", row_number().over(Window.orderBy("d")).cast("long"))
        .select("t", "x").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      import s.implicits._
      burstTrellis(seq0.toSeq)
        .toDF("t", "x", "v0_micro", "v1_micro", "ch0", "ch1")
        .coalesce(1).orderBy("t")
    },
    Some("""
      WITH RECURSIVE days AS MATERIALIZED (
        SELECT CAST(ts AS DATE) AS d,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x
        FROM events GROUP BY 1),
      grid AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, x
        FROM days),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS dd,
                     CAST(sum(x) AS BIGINT) AS nn FROM grid),
      consts AS (SELECT dd, nn,
               (1000000 * nn) // dd AS lam1,
               (2000000 * nn) // dd AS lam2,
               CAST(round(ln(CAST(nn AS DOUBLE) / CAST(dd AS DOUBLE)) * 1e6)
                 AS BIGINT) AS ln1,
               CAST(round(ln(CAST(2 * nn AS DOUBLE) / CAST(dd AS DOUBLE)) * 1e6)
                 AS BIGINT) AS ln2,
               CAST(round(ln(CAST(dd AS DOUBLE)) * 1e6) AS BIGINT) AS trans
        FROM tot),
      vit AS (
        SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS x,
               CAST(0 AS BIGINT) AS v0, CAST(1000000000000000 AS BIGINT) AS v1,
               CAST(0 AS BIGINT) AS ch0, CAST(0 AS BIGINT) AS ch1
        FROM consts
        UNION ALL
        SELECT u.t + 1 AS t, g.x,
               least(u.v0, u.v1) + (c.lam1 - g.x * c.ln1) AS v0,
               least(u.v1, u.v0 + c.trans) + (c.lam2 - g.x * c.ln2) AS v1,
               CASE WHEN u.v0 <= u.v1 THEN CAST(0 AS BIGINT)
                    ELSE CAST(1 AS BIGINT) END AS ch0,
               CASE WHEN u.v1 <= u.v0 + c.trans THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS ch1
        FROM vit u
        JOIN grid g ON g.t = u.t + 1
        CROSS JOIN consts c)
      SELECT t, x, v0 AS v0_micro, v1 AS v1_micro, ch0, ch1
      FROM vit WHERE t >= 1
      ORDER BY t"""))

  /** DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    * the causal family was missing next to [[abTest]] (randomized) and
    * [[cuped]] (variance reduction): when treatment lands mid-stream
    * on a non-random group, the treatment effect is the TREATED
    * group's pre→post change minus the CONTROL group's (which absorbs
    * the common time trend the naive post-difference confounds).
    * Groups by the md5 user coin (hex 7–8 — disjoint from every other
    * coin), pre/post split at the month's midpoint (pinned date), and
    * outcome = per-user-period mean event value in cents.
    *
    * EXACT: the four cell means are cent-sum/row-count rationals;
    * DiD = (s_tp/n_tp − s_tr/n_tr) − (s_cp/n_cp − s_cr/n_cr),
    * surfaced in micro-cents with each cell floor-divided once —
    * every operand non-negative, so Spark `div` and DuckDB `//`
    * agree, and the point estimate is a pure function of the 8
    * BIGINT cell statistics. A PLACEBO column re-runs the same
    * contrast entirely inside the pre-period (split at its own
    * midpoint): a non-tiny placebo flags a broken parallel-trends
    * assumption the same way the recall floors flag dedup decay.
    *
    * Scale shape: one corpus scan → 4 (8 with placebo) cells of
    * (sum, count), then 1-row arithmetic — the [[abTest]] shape. */
  val didEstimate: Q = Q(
    "q_diff_in_diff",
    (s, dir) => {
      val hex = md5(col("user_id").cast("string").cast("binary"))
      val treated = ((ascii(substring(hex, 7, 1)) * 256 +
        ascii(substring(hex, 8, 1))) % 2).cast("long")
      val ev = t(s, dir, "events").select(
        treated.as("g"),
        when(to_date(col("ts")) >= lit("2024-01-16"), 1L).otherwise(0L).as("post"),
        when(to_date(col("ts")) >= lit("2024-01-08") &&
          to_date(col("ts")) < lit("2024-01-16"), 1L).otherwise(0L).as("post_pl"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      val cells = ev.groupBy("g", "post")
        .agg(sum(col("vc")).as("sv"), count(lit(1)).as("n"))
      def cell(g: Int, p: Int, sn: String, nn: String) =
        cells.filter(col("g") === g && col("post") === p)
          .select(col("sv").as(sn), col("n").as(nn)).limit(1)
      val wide = cell(1, 1, "s_tp", "n_tp")
        .crossJoin(broadcast(cell(1, 0, "s_tr", "n_tr")))
        .crossJoin(broadcast(cell(0, 1, "s_cp", "n_cp")))
        .crossJoin(broadcast(cell(0, 0, "s_cr", "n_cr")))
      // placebo: same contrast inside the pre-period only
      val pcells = ev.filter(col("post") === 0L).groupBy("g", "post_pl")
        .agg(sum(col("vc")).as("sv"), count(lit(1)).as("n"))
      def pcell(g: Int, p: Int, sn: String, nn: String) =
        pcells.filter(col("g") === g && col("post_pl") === p)
          .select(col("sv").as(sn), col("n").as(nn)).limit(1)
      val pwide = pcell(1, 1, "p_tp", "m_tp")
        .crossJoin(broadcast(pcell(1, 0, "p_tr", "m_tr")))
        .crossJoin(broadcast(pcell(0, 1, "p_cp", "m_cp")))
        .crossJoin(broadcast(pcell(0, 0, "p_cr", "m_cr")))
      def didMicro(stp: String, ntp: String, str: String, ntr: String,
          scp: String, ncp: String, scr: String, ncr: String) =
        expr(s"""(1000000 * $stp) div $ntp - (1000000 * $str) div $ntr
                 - ((1000000 * $scp) div $ncp - (1000000 * $scr) div $ncr)""")
      wide.crossJoin(broadcast(pwide))
        .select(col("n_tp"), col("n_tr"), col("n_cp"), col("n_cr"),
          didMicro("s_tp", "n_tp", "s_tr", "n_tr",
            "s_cp", "n_cp", "s_cr", "n_cr").as("did_microcents"),
          didMicro("p_tp", "m_tp", "p_tr", "m_tr",
            "p_cp", "m_cp", "p_cr", "m_cr").as("placebo_microcents"))
    },
    Some("""
      WITH ev AS (
        SELECT (ascii(substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) * 256 +
                ascii(substr(md5(CAST(user_id AS VARCHAR)), 8, 1))) % 2 AS g,
               CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                    THEN 1 ELSE 0 END AS post,
               CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-08'
                     AND CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 1 ELSE 0 END AS post_pl,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events),
      cells AS (
        SELECT g, post, CAST(sum(vc) AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS n
        FROM ev GROUP BY g, post),
      pcells AS (
        SELECT g, post_pl, CAST(sum(vc) AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS n
        FROM ev WHERE post = 0 GROUP BY g, post_pl),
      tp AS (SELECT sv AS s_tp, n AS n_tp FROM cells WHERE g = 1 AND post = 1),
      tr AS (SELECT sv AS s_tr, n AS n_tr FROM cells WHERE g = 1 AND post = 0),
      cp AS (SELECT sv AS s_cp, n AS n_cp FROM cells WHERE g = 0 AND post = 1),
      cr AS (SELECT sv AS s_cr, n AS n_cr FROM cells WHERE g = 0 AND post = 0),
      ptp AS (SELECT sv AS p_tp, n AS m_tp FROM pcells WHERE g = 1 AND post_pl = 1),
      ptr AS (SELECT sv AS p_tr, n AS m_tr FROM pcells WHERE g = 1 AND post_pl = 0),
      pcp AS (SELECT sv AS p_cp, n AS m_cp FROM pcells WHERE g = 0 AND post_pl = 1),
      pcr AS (SELECT sv AS p_cr, n AS m_cr FROM pcells WHERE g = 0 AND post_pl = 0)
      SELECT n_tp, n_tr, n_cp, n_cr,
             (1000000 * s_tp) // n_tp - (1000000 * s_tr) // n_tr
               - ((1000000 * s_cp) // n_cp - (1000000 * s_cr) // n_cr)
               AS did_microcents,
             (1000000 * p_tp) // m_tp - (1000000 * p_tr) // m_tr
               - ((1000000 * p_cp) // m_cp - (1000000 * p_cr) // m_cr)
               AS placebo_microcents
      FROM tp CROSS JOIN tr CROSS JOIN cp CROSS JOIN cr
           CROSS JOIN ptp CROSS JOIN ptr CROSS JOIN pcp CROSS JOIN pcr"""))

  /** IPS OFF-POLICY VALUE — the evaluation counterpart to
    * [[ucbReplay]]'s simulation (Li et al., WSDM 2011): estimate what
    * a TARGET policy would have earned from the logged stream alone.
    * Context x = day-of-month mod 7, logged action = the event type,
    * reward = the event's value in cents. The target policy is the
    * data-derived argmax: π(x) = the arm with the highest floored
    * micro-cent mean in context x (ties to the alphabetically first
    * arm). Two estimators side by side, per context:
    *
    *  - IPS with the KNOWN logging propensity (the synthetic log is
    *    uniform over 5 arms): V̂ = 5·Σ_matched r / n(x) — unbiased,
    *    noisy where π's arm is rarely logged;
    *  - the DIRECT METHOD: the cell mean of π's arm,
    *    S(x,π)/n(x,π) — low variance, biased if the cell model is.
    *
    * The IPS−DM gap per context is the diagnostic a production
    * off-policy evaluation watches. Exact: cents sums are BIGINT,
    * each surfaced value floor-divides once; the policy argmax
    * compares floored micro-means with a total (mean DESC, arm ASC)
    * order.
    *
    * Scale shape: one (context × arm) cell aggregate off the scan
    * (map-side combinable, 35 cells), cell-domain windows for the
    * argmax, one broadcast join back for the matched-reward sums —
    * nothing corpus-sized after the first aggregate. */
  val ipsValue: Q = Q(
    "q_ips_value",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(
        (dayofmonth(col("ts")) % 7).cast("long").as("x"),
        col("event_type").as("a"),
        round(col("value") * 100, 0).cast("long").as("rc"))
      val cells = ev.groupBy("x", "a")
        .agg(count(lit(1)).as("n_xa"), sum(col("rc")).as("s_xa"))
      val byMean = Window.partitionBy("x")
        .orderBy(expr("(1000000 * s_xa) div n_xa").desc, col("a").asc)
      val pi = cells
        .withColumn("rk", row_number().over(byMean))
        .filter(col("rk") === 1)
        .select(col("x"), col("a").as("pi_a"),
          col("n_xa").as("n_pi"), col("s_xa").as("s_pi"))
      val nx = ev.groupBy("x").agg(count(lit(1)).as("n_x"))
      pi.join(nx, "x")
        .select(col("x"), col("pi_a"), col("n_x"),
          col("n_pi").as("n_matched"),
          expr("(5 * 1000000 * s_pi) div n_x").as("ips_microcents"),
          expr("(1000000 * s_pi) div n_pi").as("dm_microcents"))
        .withColumn("gap_microcents",
          abs(col("ips_microcents") - col("dm_microcents")))
        .orderBy("x")
    },
    Some("""
      WITH ev AS (
        SELECT CAST(day(ts) % 7 AS BIGINT) AS x, event_type AS a,
               CAST(round(value * 100) AS BIGINT) AS rc
        FROM events),
      cells AS (
        SELECT x, a, CAST(count(*) AS BIGINT) AS n_xa,
               CAST(sum(rc) AS BIGINT) AS s_xa
        FROM ev GROUP BY x, a),
      pi AS (
        SELECT x, a AS pi_a, n_xa AS n_pi, s_xa AS s_pi FROM (
          SELECT *, row_number() OVER (PARTITION BY x
            ORDER BY (1000000 * s_xa) // n_xa DESC, a ASC) AS rk
          FROM cells) WHERE rk = 1),
      nx AS (SELECT x, CAST(count(*) AS BIGINT) AS n_x FROM ev GROUP BY x)
      SELECT pi.x, pi.pi_a, nx.n_x, pi.n_pi AS n_matched,
             (5 * 1000000 * pi.s_pi) // nx.n_x AS ips_microcents,
             (1000000 * pi.s_pi) // pi.n_pi AS dm_microcents,
             abs((5 * 1000000 * pi.s_pi) // nx.n_x -
                 (1000000 * pi.s_pi) // pi.n_pi) AS gap_microcents
      FROM pi JOIN nx USING (x)
      ORDER BY pi.x"""))

  /** Shared DR algebra (factored so DrValueSpec can feed planted
    * train/eval frames): both inputs carry (x, a, rc). TRAIN fits the
    * model q̂(x,a) = floored micro-cent cell mean and the policy
    * π(x) = argmax_a q̂ (ties to the alphabetically first arm); EVAL
    * supplies the logged rounds the estimators re-weight. */
  def drOf(train: DataFrame, hold: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = train.groupBy("x", "a")
      .agg(count(lit(1)).as("n_tr"), sum(col("rc")).as("s_tr"))
    val byMean = Window.partitionBy("x")
      .orderBy(expr("(1000000 * s_tr) div n_tr").desc, col("a").asc)
    val pi = cells.withColumn("rk", row_number().over(byMean))
      .filter(col("rk") === 1)
      .select(col("x"), col("a").as("pi_a"),
        expr("(1000000 * s_tr) div n_tr").as("q_mu"))
    hold.join(broadcast(pi), "x")
      .groupBy("x", "pi_a", "q_mu")
      .agg(count(lit(1)).as("n_ev"),
        sum(when(col("a") === col("pi_a"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("a") === col("pi_a"), col("rc")).otherwise(0L)).as("s_match"))
      .select(col("x"), col("pi_a"), col("n_ev"), col("n_match"),
        col("q_mu").as("dm_micro"),
        expr("(5 * 1000000 * s_match) div n_ev").as("ips_micro"),
        (col("q_mu") + expr("(5 * 1000000 * s_match) div n_ev") -
          expr("(5 * n_match * q_mu) div n_ev")).as("dr_micro"))
      .orderBy("x")
  }

  /** DOUBLY-ROBUST OFF-POLICY VALUE — the third estimator in the
    * family [[ipsValue]] opens (Dudík, Langford & Li, ICML 2011):
    * DR = DM + the IPS-weighted residual of the reward model, the
    * estimator that stays consistent if EITHER the model or the
    * logging propensity is right. Cross-fitted split (the production
    * discipline that keeps the model from grading its own homework):
    * EVEN days (day % 2 = 0) train q̂(x,a) and π(x); ODD days
    * evaluate. Per context x (day % 7, the [[ipsValue]] contexts):
    *
    *  - DM  = q̂(x, π(x)) — low variance, biased when the cells are;
    *  - IPS = 5·10⁶·Σ_matched r ÷ n_ev(x) — unbiased, noisy;
    *  - DR  = DM + (5·10⁶·Σ_matched r) ÷ n_ev − (5·n_match·DM) ÷ n_ev.
    *
    * The residual's floor is SPLIT into two nonnegative-numerator
    * divisions, mirrored exactly in the oracle: Spark's `div`
    * truncates toward zero while a flooring engine would differ, so a possibly
    * negative residual numerator would diverge between engines. The
    * split also preserves the two defining identities EXACTLY
    * (pinned in EventsSpec): a perfect model (eval cell sums equal to
    * the model's predictions) makes the two terms cancel → DR = DM;
    * a zero model (q_mu = 0) collapses DR to IPS.
    *
    * Scale shape: one (x, split, arm) cell aggregate off the scan
    * (map-side combinable, ≤70 cells), a 7-row broadcast policy join,
    * one eval-side aggregate — nothing corpus-sized after the first
    * aggregate; the eval join key x is the same hash the groupBy
    * reuses. */
  val drValue: Q = Q(
    "q_dr_value",
    (s, dir) => {
      val ev = t(s, dir, "events").select(
        (dayofmonth(col("ts")) % 7).cast("long").as("x"),
        (dayofmonth(col("ts")) % 2).cast("long").as("split"),
        col("event_type").as("a"),
        round(col("value") * 100, 0).cast("long").as("rc"))
      drOf(ev.filter(col("split") === 0L).drop("split"),
        ev.filter(col("split") === 1L).drop("split"))
    },
    Some("""
      WITH ev AS (
        SELECT CAST(day(ts) % 7 AS BIGINT) AS x,
               CAST(day(ts) % 2 AS BIGINT) AS split,
               event_type AS a,
               CAST(round(value * 100) AS BIGINT) AS rc
        FROM events),
      cells AS (
        SELECT x, a, CAST(count(*) AS BIGINT) AS n_tr,
               CAST(sum(rc) AS BIGINT) AS s_tr
        FROM ev WHERE split = 0 GROUP BY x, a),
      pi AS (
        SELECT x, a AS pi_a, CAST((1000000 * s_tr) // n_tr AS BIGINT) AS q_mu
        FROM (
          SELECT *, row_number() OVER (PARTITION BY x
            ORDER BY (1000000 * s_tr) // n_tr DESC, a ASC) AS rk
          FROM cells) WHERE rk = 1),
      agg AS (
        SELECT e.x, pi.pi_a, pi.q_mu,
               CAST(count(*) AS BIGINT) AS n_ev,
               CAST(sum(CASE WHEN e.a = pi.pi_a THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_match,
               CAST(sum(CASE WHEN e.a = pi.pi_a THEN rc ELSE 0 END) AS BIGINT)
                 AS s_match
        FROM ev e JOIN pi ON e.x = pi.x
        WHERE e.split = 1
        GROUP BY e.x, pi.pi_a, pi.q_mu)
      SELECT x, pi_a, n_ev, n_match,
             q_mu AS dm_micro,
             CAST((5 * 1000000 * s_match) // n_ev AS BIGINT) AS ips_micro,
             CAST(q_mu + (5 * 1000000 * s_match) // n_ev
                  - (5 * n_match * q_mu) // n_ev AS BIGINT) AS dr_micro
      FROM agg ORDER BY x"""))

  /** DOUBLY-ROBUST POLICY LEARNING — the decision step on top of
    * [[drValue]]'s evaluation (Dudík, Langford & Li, ICML 2011, §5:
    * policy optimization over the DR estimate): instead of evaluating
    * ONE candidate policy, score EVERY arm in every context with its
    * DR value and pick the argmax,
    *
    *   DR(x, a) = q̂(x,a) + (5·10⁶·Σ_{a logged} r) ÷ n_ev(x)
    *                      − (5·n_match(x,a)·q̂(x,a)) ÷ n_ev(x),
    *   π_DR(x)  = argmax_a DR(x, a)  (ties to the first arm),
    *
    * on the same cross-fitted split as [[drValue]] (EVEN days train
    * q̂, ODD days evaluate — the learned policy never grades itself
    * on its training rounds). The output reports, per context, BOTH
    * the model-only argmax (π_DM, [[drValue]]'s policy) and the
    * DR-learned argmax with their DR values, plus the regret band
    * `dr_best_micro − dr_of_dm_micro` — the sanity tie to
    * [[drValue]]: `dr_of_dm_micro` is BY THE SAME FORMULA the
    * dr_micro q_dr_value reports for that context, and the regret is
    * ≥ 0 structurally (the argmax ranges over a set containing the
    * DM arm; EventsSpec pins both properties). A positive regret
    * reads "the reward model's favorite arm is NOT the arm the
    * debiased evidence favors" — the one-table answer to whether the
    * model can be trusted to choose.
    *
    * Exactness: same floored nonnegative-numerator splits as
    * [[drValue]], mirrored verbatim in the oracle; arms missing from
    * a context's eval rounds coalesce to (0, 0) matches — DR falls
    * back to the model mean, stated by the formula itself.
    *
    * Scale shape: two (x, arm) cell aggregates off the scan
    * (map-side combinable, ≤70 cells), one 7-row broadcast context
    * total, two cell-domain rank windows — nothing corpus-sized
    * after the first aggregates. */
  val drPolicy: Q = Q(
    "q_dr_policy",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, dir, "events").select(
        (dayofmonth(col("ts")) % 7).cast("long").as("x"),
        (dayofmonth(col("ts")) % 2).cast("long").as("split"),
        col("event_type").as("a"),
        round(col("value") * 100, 0).cast("long").as("rc"))
      val cells = ev.filter(col("split") === 0L).groupBy("x", "a")
        .agg(count(lit(1)).as("n_tr"), sum(col("rc")).as("s_tr"))
        .select(col("x"), col("a"), expr("(1000000 * s_tr) div n_tr").as("q_mu"))
      val hold = ev.filter(col("split") === 1L)
      val nx = hold.groupBy("x").agg(count(lit(1)).as("n_ev"))
      val matched = hold.groupBy("x", "a")
        .agg(count(lit(1)).as("n_match"), sum(col("rc")).as("s_match"))
      val dr = cells
        .join(matched, Seq("x", "a"), "left")
        .na.fill(0L, Seq("n_match", "s_match"))
        .join(broadcast(nx), "x")
        .select(col("x"), col("a"), col("q_mu"),
          (col("q_mu") + expr("(5 * 1000000 * s_match) div n_ev") -
            expr("(5 * n_match * q_mu) div n_ev")).as("dr_xa"))
      val byDr = Window.partitionBy("x")
        .orderBy(col("dr_xa").desc, col("a").asc)
      val byDm = Window.partitionBy("x")
        .orderBy(col("q_mu").desc, col("a").asc)
      val drBest = dr.withColumn("rk", row_number().over(byDr))
        .filter(col("rk") === 1)
        .select(col("x"), col("a").as("dr_pi_a"),
          col("dr_xa").as("dr_best_micro"))
      val dmBest = dr.withColumn("rk", row_number().over(byDm))
        .filter(col("rk") === 1)
        .select(col("x"), col("a").as("dm_pi_a"),
          col("q_mu").as("dm_mu_micro"), col("dr_xa").as("dr_of_dm_micro"))
      dmBest.join(drBest, "x")
        .select(col("x"), col("dm_pi_a"), col("dm_mu_micro"),
          col("dr_of_dm_micro"), col("dr_pi_a"), col("dr_best_micro"),
          (col("dr_best_micro") - col("dr_of_dm_micro"))
            .as("regret_vs_dm_micro"))
        .orderBy("x")
    },
    Some("""
      WITH ev AS (
        SELECT CAST(day(ts) % 7 AS BIGINT) AS x,
               CAST(day(ts) % 2 AS BIGINT) AS split,
               event_type AS a,
               CAST(round(value * 100) AS BIGINT) AS rc
        FROM events),
      cells AS (
        SELECT x, a,
               CAST((1000000 * sum(rc)) // count(*) AS BIGINT) AS q_mu
        FROM ev WHERE split = 0 GROUP BY x, a),
      nx AS (SELECT x, CAST(count(*) AS BIGINT) AS n_ev
             FROM ev WHERE split = 1 GROUP BY x),
      mt AS (SELECT x, a, CAST(count(*) AS BIGINT) AS n_match,
                    CAST(sum(rc) AS BIGINT) AS s_match
             FROM ev WHERE split = 1 GROUP BY x, a),
      dr AS (
        SELECT c.x, c.a, c.q_mu,
               CAST(c.q_mu
                 + (5 * 1000000 * coalesce(mt.s_match, 0)) // nx.n_ev
                 - (5 * coalesce(mt.n_match, 0) * c.q_mu) // nx.n_ev
                 AS BIGINT) AS dr_xa
        FROM cells c JOIN nx ON nx.x = c.x
        LEFT JOIN mt ON mt.x = c.x AND mt.a = c.a),
      drbest AS (
        SELECT x, a AS dr_pi_a, dr_xa AS dr_best_micro FROM (
          SELECT *, row_number() OVER (PARTITION BY x
            ORDER BY dr_xa DESC, a ASC) AS rk
          FROM dr) WHERE rk = 1),
      dmbest AS (
        SELECT x, a AS dm_pi_a, q_mu AS dm_mu_micro,
               dr_xa AS dr_of_dm_micro FROM (
          SELECT *, row_number() OVER (PARTITION BY x
            ORDER BY q_mu DESC, a ASC) AS rk
          FROM dr) WHERE rk = 1)
      SELECT dmbest.x, dm_pi_a, dm_mu_micro, dr_of_dm_micro,
             dr_pi_a, dr_best_micro,
             dr_best_micro - dr_of_dm_micro AS regret_vs_dm_micro
      FROM dmbest JOIN drbest ON drbest.x = dmbest.x
      ORDER BY dmbest.x"""))

  /** QINI / UPLIFT CURVE — the targeting audit behind every
    * incrementality program: rank users by an uplift score, then ask
    * at each decile "how much EXTRA outcome did the treated top-k
    * produce beyond what the control top-k predicts", i.e.
    * Qini(k) = Yₜ(k) − Y꜀(k)·Nₜ(k)/N꜀(k) (Radcliffe's definition).
    * A model no better than random gives a straight line to the
    * endpoint; the curve's bow above it is the value of targeting.
    * Complements [[graft.llm.Classifier.liftCurve]] (response lift,
    * no counterfactual) with the CAUSAL ranking curve.
    *
    * Construction is peek-free and fully derandomized: treatment =
    * the md5 user coin (hex 7–8, the [[didEstimate]] split); the
    * uplift score is each user's PRE-period activity count (events
    * before the month midpoint; score ties break by user_id), the
    * outcome is POST-period value cents — the score never sees the
    * outcome window. Deciles come from the explicit row_number grid
    * ((rn−1)·10 div n + 1, no engine ntile semantics relied on);
    * cumulative cells are window sums over the 10-row decile frame;
    * the single ratio per decile floor-divides once (nonnegative
    * operands; N꜀ = 0 → NULL via nullif).
    *
    * Scale shape: one per-user aggregate (corpus-keyed shuffle), a
    * user-domain rank window, a 10-row decile rollup — the curve
    * never materializes anything bigger than the user table. */
  val qiniCurve: Q = Q(
    "q_qini_uplift",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hex = md5(col("user_id").cast("string").cast("binary"))
      val treated = ((ascii(substring(hex, 7, 1)) * 256 +
        ascii(substring(hex, 8, 1))) % 2).cast("long")
      val users = t(s, dir, "events").select(
          col("user_id"), treated.as("g"),
          when(to_date(col("ts")) < lit("2024-01-16"), 1L).otherwise(0L).as("pre"),
          when(to_date(col("ts")) >= lit("2024-01-16"),
            round(col("value") * 100, 0).cast("long")).otherwise(0L).as("post_vc"))
        .groupBy("user_id", "g")
        .agg(sum(col("pre")).as("score"), sum(col("post_vc")).as("y"))
      val n = users.select(count(lit(1)).as("n_users"))
      // distributed global rank (two-level scan) — never one
      // unpartitioned corpus window over the user table
      val ranked = graft.ops.Ranks
        .globalOrder(users, Seq(col("score").desc, col("user_id").asc), "rn")
        .crossJoin(broadcast(n))
        .withColumn("decile", expr("(rn - 1) * 10 div n_users + 1"))
      val byDec = ranked.groupBy("decile").agg(
        sum(col("g")).as("n_t"),
        sum(lit(1L) - col("g")).as("n_c"),
        sum(when(col("g") === 1L, col("y")).otherwise(0L)).as("y_t"),
        sum(when(col("g") === 0L, col("y")).otherwise(0L)).as("y_c"))
      val wCum = Window.orderBy("decile")
      byDec
        .withColumn("n_t_cum", sum(col("n_t")).over(wCum))
        .withColumn("n_c_cum", sum(col("n_c")).over(wCum))
        .withColumn("y_t_cum", sum(col("y_t")).over(wCum))
        .withColumn("y_c_cum", sum(col("y_c")).over(wCum))
        .selectExpr("decile", "n_t_cum", "n_c_cum", "y_t_cum", "y_c_cum",
          "y_t_cum - (y_c_cum * n_t_cum) div nullif(n_c_cum, 0) AS qini_cents")
        .orderBy("decile")
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               (ascii(substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) * 256 +
                ascii(substr(md5(CAST(user_id AS VARCHAR)), 8, 1))) % 2 AS g,
               CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                             THEN 1 ELSE 0 END) AS BIGINT) AS score,
               CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM users),
      ranked AS (
        SELECT g, y,
               CAST((row_number() OVER (ORDER BY score DESC, user_id ASC) - 1)
                 * 10 // n_users + 1 AS BIGINT) AS decile
        FROM users CROSS JOIN n),
      bydec AS (
        SELECT decile,
               CAST(sum(g) AS BIGINT) AS n_t,
               CAST(sum(1 - g) AS BIGINT) AS n_c,
               CAST(sum(CASE WHEN g = 1 THEN y ELSE 0 END) AS BIGINT) AS y_t,
               CAST(sum(CASE WHEN g = 0 THEN y ELSE 0 END) AS BIGINT) AS y_c
        FROM ranked GROUP BY decile)
      SELECT decile,
             CAST(sum(n_t) OVER w AS BIGINT) AS n_t_cum,
             CAST(sum(n_c) OVER w AS BIGINT) AS n_c_cum,
             CAST(sum(y_t) OVER w AS BIGINT) AS y_t_cum,
             CAST(sum(y_c) OVER w AS BIGINT) AS y_c_cum,
             CAST(sum(y_t) OVER w
               - (sum(y_c) OVER w * sum(n_t) OVER w)
                 // nullif(sum(n_c) OVER w, 0) AS BIGINT) AS qini_cents
      FROM bydec
      WINDOW w AS (ORDER BY decile)
      ORDER BY decile"""))

  /** ONLINE PERCEPTRON REPLAY — the mistake-driven learner the replay
    * family lacked ([[ucbReplay]] explores, [[ucbContextual]] does it
    * per context; this one LEARNS A SEPARATOR online): one example
    * per day, features x = (1, clipped mean value milli, clipped
    * event count), label y = sign(clicks − views), prediction
    * ŷ = sign(w·x) with 0 reading as −1, and the classic update
    * w += y·x ONLY on mistakes (Rosenblatt; mistake-bounded by the
    * margin theorem). The full trajectory — label, pre-update margin,
    * mistake flag, and the weight vector AFTER the step — rides the
    * driver hash, so one mis-ordered comparison in 31 rounds flips
    * the result.
    *
    * EXACT end to end: every feature, margin, and weight is a BIGINT
    * (this is the registry's only learner with NO float anywhere —
    * no ln, no sqrt, no rounding contract needed). The oracle replays
    * the identical recurrence as a recursive CTE whose state is the
    * weight vector.
    *
    * Scale shape: the feature matrix is one map-side-combinable
    * day aggregate; the sequential fold over the day-domain frame is
    * driver work by construction (the [[ucbReplay]] argument — round
    * t needs every prior round). More features widen the tiny frame;
    * the corpus only ever feeds the aggregate. */
  val perceptronReplay: Q = Q(
    "q_perceptron_replay",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val day = t(s, dir, "events")
        .groupBy(to_date(col("ts")).as("d"))
        .agg(
          least(lit(1000L),
            expr("(1000 * sum(CAST(round(value * 100) AS BIGINT))) div (100 * count(1))"))
            .as("x1"),
          least(lit(1000L), count(lit(1))).as("x2"),
          when(sum(when(col("event_type") === "click", 1L).otherwise(0L)) >=
            sum(when(col("event_type") === "view", 1L).otherwise(0L)), 1L)
            .otherwise(-1L).as("y"))
        .withColumn("t", row_number().over(Window.orderBy("d")).cast("long"))
        .select("t", "x1", "x2", "y")
      val feat = day.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1)
      var (w0, w1, w2) = (0L, 0L, 0L)
      val trace = feat.map { case (rt, x1, x2, y) =>
        val margin = w0 + w1 * x1 + w2 * x2
        val pred = if (margin > 0) 1L else -1L
        val mistake = pred != y
        if (mistake) { w0 += y; w1 += y * x1; w2 += y * x2 }
        (rt, y, margin, mistake, w0, w1, w2)
      }
      import s.implicits._
      trace.toSeq.toDF("t", "y", "margin", "mistake", "w0", "w1", "w2")
        .coalesce(1).orderBy("t")
    },
    Some("""
      WITH RECURSIVE feat AS (
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t, x1, x2, y
        FROM (
          SELECT CAST(ts AS DATE) AS d,
                 least(1000, (1000 * sum(CAST(round(value * 100) AS BIGINT)))
                   // (100 * count(*))) AS x1,
                 least(1000, CAST(count(*) AS BIGINT)) AS x2,
                 CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >=
                           sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y
          FROM events GROUP BY 1)),
      st AS (
        SELECT CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS y,
               CAST(0 AS BIGINT) AS margin, false AS mistake,
               CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2
        UNION ALL
        SELECT f.t, f.y,
               st.w0 + st.w1 * f.x1 + st.w2 * f.x2 AS marg,
               (CASE WHEN st.w0 + st.w1 * f.x1 + st.w2 * f.x2 > 0
                     THEN 1 ELSE -1 END) <> f.y AS mist,
               CASE WHEN mist THEN st.w0 + f.y ELSE st.w0 END,
               CASE WHEN mist THEN st.w1 + f.y * f.x1 ELSE st.w1 END,
               CASE WHEN mist THEN st.w2 + f.y * f.x2 ELSE st.w2 END
        FROM st JOIN feat f ON f.t = st.t + 1)
      SELECT t, y, margin, mistake, w0, w1, w2
      FROM st WHERE t >= 1 ORDER BY t"""))

  /** POWER ANALYSIS — the experiment-DESIGN calculator the analysis
    * family ([[abTest]], [[cuped]], sequential monitors)
    * presupposes: before any A/B runs, how many users per arm does a
    * two-sample test need to detect a given lift at α = 0.05,
    * power = 0.80? n = 2(z_{α/2}+z_β)²·σ²/δ² with z = 1.96/0.84,
    * evaluated from the PILOT data's own per-user spend moments at
    * 5%, 2%, and 1% minimum detectable effects, plus the runtime in
    * days at the pilot's observed user arrival rate — the actual
    * "can we afford this experiment" readout.
    *
    * Determinism: moments are exact BIGINTs (kUSD-scaled spend); each
    * n_required is ONE fixed-order IEEE chain (variance ratio, the
    * [[graft.ops.Profile.mahalanobis]] contract) ceil'd once —
    * identical text both engines. Scale shape: one per-user
    * aggregate, one 1-row moment rollup. */
  val powerAnalysis: Q = Q(
    "q_power_analysis",
    (s, dir) => {
      val users = t(s, dir, "events")
        .groupBy(col("user_id"))
        // integer `div`, not float `/`+cast: keeps the "moments are
        // exact BIGINTs" contract past 2^53 cents (ADVICE r14)
        .agg(expr("sum(cast(round(value * 100, 0) as bigint)) div 100")
          .as("x"))
      def nReq(mdePct: Int) =
        s"""CAST(ceil((15.68 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            / CAST(n AS DOUBLE)))
            / (($mdePct.0 / 100.0) * sx / n) / (($mdePct.0 / 100.0) * sx / n))
            AS BIGINT) AS n_req_mde$mdePct"""
      users.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .selectExpr("n", "sx div n AS mean_usd",
          nReq(5), nReq(2), nReq(1))
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) // 100 AS BIGINT) AS x
        FROM events GROUP BY user_id),
      mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM users)
      SELECT n, sx // n AS mean_usd,
             CAST(ceil((15.68 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               / CAST(n AS DOUBLE)))
               / ((5.0 / 100.0) * sx / n) / ((5.0 / 100.0) * sx / n))
               AS BIGINT) AS n_req_mde5,
             CAST(ceil((15.68 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               / CAST(n AS DOUBLE)))
               / ((2.0 / 100.0) * sx / n) / ((2.0 / 100.0) * sx / n))
               AS BIGINT) AS n_req_mde2,
             CAST(ceil((15.68 * ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               / CAST(n AS DOUBLE)))
               / ((1.0 / 100.0) * sx / n) / ((1.0 / 100.0) * sx / n))
               AS BIGINT) AS n_req_mde1
      FROM mom"""))

  /** NEAREST-NEIGHBOR MATCHING ESTIMATOR (ATT) — the fifth causal
    * surface (DiD, IPS, DR, RDD, and now matching): pair every
    * treated user with the most similar CONTROL on pre-treatment
    * covariates and read the treatment effect off the matched
    * outcome gaps — the workhorse when treatment isn't randomized
    * and a model-free comparison is wanted. Covariates: pre-period
    * spend and event count; treatment: the md5 user coin; outcome:
    * post-period spend. Distance = dspend² + (1000·dcount)²
    * (count deviations priced at $10 of spend), ties to the lowest
    * control id; treated users whose block holds no control are
    * reported unmatched, never silently dropped into the mean.
    *
    * Scale shape — the part that matters at 100 TB: candidates are
    * BLOCKED on fixed-width pre-spend buckets ($100), so the
    * treated×control pair frame is Σ_b |T_b|·|C_b|, never the global
    * cross product (the [[graft.ops.Linkage]] blocking discipline
    * applied to causal matching; callers trade block width for
    * recall exactly like LSH bands). One argmin window per treated
    * user over the blocked pairs; the estimator is a 1-row rollup.
    * ATT and the naive gap are sign-split single divisions. */
  val matchingAtt: Q = Q(
    "q_matching_att",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hex = md5(col("user_id").cast("string").cast("binary"))
      val treated = ((ascii(substring(hex, 7, 1)) * 256 +
        ascii(substring(hex, 8, 1))) % 2).cast("long")
      val users = t(s, dir, "events").select(
          col("user_id"), treated.as("g"),
          when(to_date(col("ts")) < lit("2024-01-16"),
            round(col("value") * 100, 0).cast("long")).otherwise(0L).as("pre_vc"),
          when(to_date(col("ts")) < lit("2024-01-16"), 1L).otherwise(0L).as("pre_n"),
          when(to_date(col("ts")) >= lit("2024-01-16"),
            round(col("value") * 100, 0).cast("long")).otherwise(0L).as("post_vc"))
        .groupBy("user_id", "g")
        .agg(sum(col("pre_vc")).as("ps"), sum(col("pre_n")).as("pn"),
          sum(col("post_vc")).as("y"))
        .withColumn("blk", expr("ps div 10000"))
      val tr = users.filter(col("g") === 1L)
        .select(col("user_id").as("tid"), col("blk"),
          col("ps").as("tps"), col("pn").as("tpn"), col("y").as("ty"))
      val ct = users.filter(col("g") === 0L)
        .select(col("user_id").as("cid"), col("blk"),
          col("ps").as("cps"), col("pn").as("cpn"), col("y").as("cy"))
      val w = Window.partitionBy("tid").orderBy(col("d").asc, col("cid").asc)
      val matched = tr.join(ct, Seq("blk"))
        .withColumn("d",
          (col("tps") - col("cps")) * (col("tps") - col("cps")) +
            (lit(1000L) * (col("tpn") - col("cpn"))) *
            (lit(1000L) * (col("tpn") - col("cpn"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("tid"), col("ty"), col("cy"))
      val nT = tr.agg(count(lit(1)).as("n_treated"),
        sum(col("ty")).as("sty")).limit(1)
      val nC = ct.agg(count(lit(1)).as("n_control"),
        sum(col("cy")).as("scy")).limit(1)
      def signedDiv(num: String, den: String, out: String) =
        s"""CASE WHEN $num >= 0 THEN $num div $den
                 ELSE -((-($num)) div $den) END AS $out"""
      matched.agg(count(lit(1)).as("n_matched"),
          sum(col("ty") - col("cy")).as("gap"))
        .crossJoin(broadcast(nT)).crossJoin(broadcast(nC))
        .selectExpr("n_treated", "n_control", "n_matched",
          "n_treated - n_matched AS n_unmatched",
          signedDiv("gap", "n_matched", "att_cents"),
          signedDiv("(sty * n_control - scy * n_treated)",
            "(n_treated * n_control)", "naive_gap_cents"))
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               (ascii(substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) * 256 +
                ascii(substr(md5(CAST(user_id AS VARCHAR)), 8, 1))) % 2 AS g,
               CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS ps,
               CAST(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                 THEN 1 ELSE 0 END) AS BIGINT) AS pn,
               CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                 THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id),
      tr AS (SELECT user_id AS tid, ps // 10000 AS blk, ps AS tps, pn AS tpn,
                    y AS ty FROM users WHERE g = 1),
      ct AS (SELECT user_id AS cid, ps // 10000 AS blk, ps AS cps, pn AS cpn,
                    y AS cy FROM users WHERE g = 0),
      pairs AS (
        SELECT tid, ty, cy, cid,
               (tps - cps) * (tps - cps) +
               (1000 * (tpn - cpn)) * (1000 * (tpn - cpn)) AS d
        FROM tr JOIN ct USING (blk)),
      matched AS (
        SELECT tid, ty, cy FROM (
          SELECT tid, ty, cy,
                 row_number() OVER (PARTITION BY tid ORDER BY d ASC, cid ASC) AS rn
          FROM pairs)
        WHERE rn = 1),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n_treated,
                    CAST(sum(ty) AS BIGINT) AS sty FROM tr),
      nc AS (SELECT CAST(count(*) AS BIGINT) AS n_control,
                    CAST(sum(cy) AS BIGINT) AS scy FROM ct),
      mm AS (SELECT CAST(count(*) AS BIGINT) AS n_matched,
                    CAST(sum(ty - cy) AS BIGINT) AS gap FROM matched)
      SELECT n_treated, n_control, n_matched,
             CAST(n_treated - n_matched AS BIGINT) AS n_unmatched,
             CAST(CASE WHEN gap >= 0 THEN gap // n_matched
                  ELSE -((-(gap)) // n_matched) END AS BIGINT) AS att_cents,
             CAST(CASE WHEN (sty * n_control - scy * n_treated) >= 0
                  THEN (sty * n_control - scy * n_treated) // (n_treated * n_control)
                  ELSE -((-(sty * n_control - scy * n_treated))
                         // (n_treated * n_control))
                  END AS BIGINT) AS naive_gap_cents
      FROM mm CROSS JOIN nt CROSS JOIN nc"""))

  /** SUCCESSIVE HALVING — the hyperparameter-search primitive
    * (Jamieson–Talwalkar; the inner loop of Hyperband): evaluate all
    * configurations on a small budget, keep the top half, double the
    * budget, repeat — so the full corpus is only ever spent on the
    * finalists. Configurations are 8 pinned value-stump thresholds
    * classifying purchase events; budgets are nested md5 event
    * subsets (1/8 → 1/4 → 1/2 → full, the derandomized-coin
    * discipline, nested so a bigger budget REPLAYS the smaller one
    * plus fresh data). Output = the full elimination bracket: every
    * (round, threshold) evaluation with its exact correct count and
    * kept flag.
    *
    * All-integer (counts and comparisons only). Scale shape: each
    * round is one conditional aggregate over coin-filtered scan ×
    * ≤8 broadcast configs; the coin filter prunes at the scan, so
    * total work is Σ rounds ≈ 2 full passes regardless of config
    * count — the entire point of the algorithm, visible in the plan. */
  val successiveHalving: Q = Q(
    "q_successive_halving",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val hex = md5(col("event_id").cast("string").cast("binary"))
      val ev = t(s, dir, "events").select(
        (ascii(substring(hex, 11, 1)) % 8).cast("long").as("coin"),
        round(col("value") * 100, 0).cast("long").as("vc"),
        (col("event_type") === "purchase").as("is_p"))
      var cfg = (1 to 8).map(i => 2500L * i).toDF("thr")
      val rounds = Seq((1, 1L, 4), (2, 2L, 2), (3, 4L, 1), (4, 8L, 1))
      val bracket = rounds.map { case (rnd, m, keep) =>
        val eval = ev.filter(col("coin") < m)
          .crossJoin(broadcast(cfg))
          .groupBy("thr")
          .agg(count(lit(1)).as("n_eval"),
            sum(when((col("vc") > col("thr")) === col("is_p"), 1L)
              .otherwise(0L)).as("correct"))
          .withColumn("rk", row_number().over(
            Window.orderBy(col("correct").desc, col("thr").asc)))
          .select(lit(rnd.toLong).as("round"), col("thr"), col("n_eval"),
            col("correct"), (col("rk") <= keep).as("kept"))
        cfg = eval.filter(col("kept")).select("thr")
        eval
      }.reduce(_ unionAll _)
      bracket.orderBy("round", "thr")
    },
    Some(s"""
      WITH ev AS (
        SELECT ascii(substr(md5(CAST(event_id AS VARCHAR)), 11, 1)) % 8 AS coin,
               CAST(round(value * 100) AS BIGINT) AS vc,
               event_type = 'purchase' AS is_p
        FROM events),
      k0 AS (SELECT CAST(unnest(generate_series(1, 8)) * 2500 AS BIGINT) AS thr),
      ${Seq((1, 1, 4), (2, 2, 2), (3, 4, 1), (4, 8, 1)).map { case (r, m, k) =>
        s"""r$r AS MATERIALIZED (
        SELECT t.thr, CAST(count(*) AS BIGINT) AS n_eval,
               CAST(sum(CASE WHEN (e.vc > t.thr) = e.is_p THEN 1 ELSE 0 END)
                 AS BIGINT) AS correct,
               CAST(row_number() OVER (
                 ORDER BY sum(CASE WHEN (e.vc > t.thr) = e.is_p THEN 1 ELSE 0 END)
                   DESC, t.thr ASC) AS BIGINT) <= $k AS kept
        FROM ev e CROSS JOIN k${r - 1} t
        WHERE e.coin < $m GROUP BY t.thr),
      k$r AS (SELECT thr FROM r$r WHERE kept)"""
      }.mkString(",\n      ")}
      SELECT round, thr, n_eval, correct, kept FROM (
        ${(1 to 4).map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, thr, n_eval, correct, kept FROM r$r")
          .mkString("\n        UNION ALL ")})
      ORDER BY round, thr"""))

  /** VALUE ITERATION — the dynamic-programming member the decision
    * family lacked (bandits optimize one step; an MDP credits TODAY's
    * action with TOMORROW's position): states are day-of-week
    * contexts, actions the five event types, R(s,a) the logged
    * clipped milli mean reward ([[ucbReplay]]'s units) on a 7×5 cell
    * spine (unobserved cells pay 0), the transition is the calendar
    * itself (s → s+1 mod 7), and three Bellman backups
    * V_{k+1}(s) = max_a [R(s,a) + ⌊0.9·V_k(s+1)⌋] unroll from
    * V₀ = 0. Output: every state's V₁ V₂ V₃ and the greedy action at
    * k = 3 (ties alphabetical).
    *
    * All-integer: cell means floor once; the discount is one floored
    * scaling per backup; max/argmax are total orders. Scale shape:
    * ONE corpus scan → 35-cell aggregate; each backup is a
    * domain-sized join (7 rows ⋈ 35), three of them — corpus cost is
    * the scan, the MDP is free. */
  val valueIteration: Q = Q(
    "q_value_iteration",
    (s, dir) => {
      import s.implicits._
      val cells = t(s, dir, "events")
        .filter(col("event_type").isin(UcbArms: _*))
        .groupBy((dayofweek(col("ts")) - 1).cast("long").as("st"),
          col("event_type").as("a"))
        .agg(least(lit(1000L),
          expr("(1000 * sum(CAST(round(value * 100) AS BIGINT))) div (100 * count(1))"))
          .as("r"))
      val spine = s.range(0, 7).select(col("id").as("st"))
        .crossJoin(UcbArms.toDF("a"))
      val rGrid = keep(spine.join(cells, Seq("st", "a"), "left")
        .select(col("st"), col("a"), coalesce(col("r"), lit(0L)).as("r")))
      def backup(v: DataFrame): DataFrame = rGrid
        .join(v.select(((col("st") + 6) % 7).as("st"), col("v").as("vn")), Seq("st"))
        .groupBy("st")
        .agg(max(col("r") + expr("(900 * vn) div 1000")).as("v"))
      // vn join: V_k(s+1) attached to state s by shifting the value
      // table back one day ((s+1)+6 ≡ s mod 7)
      val v0 = s.range(0, 7).select(col("id").as("st"), lit(0L).as("v"))
      val v1 = backup(v0)
      val v2 = backup(v1)
      val v3 = backup(v2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("st").orderBy(col("q").desc, col("a").asc)
      val greedy = rGrid
        .join(v2.select(((col("st") + 6) % 7).as("st"), col("v").as("vn")), Seq("st"))
        .withColumn("q", col("r") + expr("(900 * vn) div 1000"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("st"), col("a").as("best_action"))
      v1.withColumnRenamed("v", "v1")
        .join(v2.withColumnRenamed("v", "v2"), "st")
        .join(v3.withColumnRenamed("v", "v3"), "st")
        .join(greedy, "st")
        .orderBy("st")
    },
    Some("""
      WITH arms AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS a),
      spine AS (SELECT CAST(unnest(generate_series(0, 6)) AS BIGINT) AS st),
      obs AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) % 7 AS st, event_type AS a,
               least(1000, (1000 * sum(CAST(round(value * 100) AS BIGINT)))
                 // (100 * count(*))) AS r
        FROM events
        WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        GROUP BY 1, 2),
      rg AS (
        SELECT spine.st, arms.a, CAST(coalesce(obs.r, 0) AS BIGINT) AS r
        FROM spine CROSS JOIN arms
        LEFT JOIN obs ON spine.st = obs.st AND arms.a = obs.a),
      v1 AS (SELECT st, CAST(max(r) AS BIGINT) AS v FROM rg GROUP BY st),
      v2 AS (SELECT rg.st, CAST(max(rg.r + (900 * v1.v) // 1000) AS BIGINT) AS v
             FROM rg JOIN v1 ON v1.st = (rg.st + 1) % 7 GROUP BY rg.st),
      v3 AS (SELECT rg.st, CAST(max(rg.r + (900 * v2.v) // 1000) AS BIGINT) AS v
             FROM rg JOIN v2 ON v2.st = (rg.st + 1) % 7 GROUP BY rg.st),
      greedy AS (
        SELECT st, a AS best_action FROM (
          SELECT rg.st, rg.a,
                 row_number() OVER (PARTITION BY rg.st
                   ORDER BY rg.r + (900 * v2.v) // 1000 DESC, rg.a ASC) AS rk
          FROM rg JOIN v2 ON v2.st = (rg.st + 1) % 7)
        WHERE rk = 1)
      SELECT v1.st AS st, v1.v AS v1, v2.v AS v2, v3.v AS v3, best_action
      FROM v1 JOIN v2 ON v1.st = v2.st JOIN v3 ON v1.st = v3.st
      JOIN greedy ON v1.st = greedy.st
      ORDER BY st"""))

  /** SYNTHETIC CONTROL (Abadie) — the panel-data causal method that
    * completes the family: when ONE unit is treated and no single
    * control matches it, build a WEIGHTED control that reproduces the
    * treated unit's pre-period trajectory, and read the effect off
    * the post-period gap. Units are event types (treated =
    * 'purchase'; donors = click/signup/view), the panel is the daily
    * cents series, and the weight simplex is searched EXHAUSTIVELY on
    * a 5%-step grid (231 combos — the [[graft.ops.Profile
    * .voptHistogram]] argmin-by-enumeration discipline; real SCM
    * solves a QP, but on a bounded simplex the grid IS the solver,
    * fully oracleable and deterministic). Output: the post-period
    * gap curve with the winning weights and pre-fit SSE riding every
    * row.
    *
    * All-integer: daily cells are exact cents; each synthetic value
    * floors once (nonnegative); SSE is a sum of signed-difference
    * squares (no sign-split needed for squares). Scale shape: one
    * corpus scan → 31×4 panel; grid × pre-days is 231×15 rows;
    * everything after the scan is domain-sized. */
  val syntheticControl: Q = Q(
    "q_synthetic_control",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .filter(col("event_type").isin("purchase", "click", "signup", "view"))
        .select(
          datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01")))
            .cast("long").as("d"),
          col("event_type").as("a"),
          round(col("value") * 100, 0).cast("long").as("vc"))
      val spine = s.range(0, 31).select(col("id").as("d"))
      val panel = keep(spine.join(
          ev.groupBy("d").agg(
            sum(when(col("a") === "purchase", col("vc")).otherwise(0L)).as("y"),
            sum(when(col("a") === "click", col("vc")).otherwise(0L)).as("c1"),
            sum(when(col("a") === "signup", col("vc")).otherwise(0L)).as("c2"),
            sum(when(col("a") === "view", col("vc")).otherwise(0L)).as("c3")),
          Seq("d"), "left")
        .select(col("d"), coalesce(col("y"), lit(0L)).as("y"),
          coalesce(col("c1"), lit(0L)).as("c1"),
          coalesce(col("c2"), lit(0L)).as("c2"),
          coalesce(col("c3"), lit(0L)).as("c3")))
      val grid = s.range(0, 21).select((col("id") * 50).as("w1"))
        .join(s.range(0, 21).select((col("id") * 50).as("w2")),
          col("w1") + col("w2") <= 1000)
        .withColumn("w3", lit(1000L) - col("w1") - col("w2"))
      // limit(15) = the pre-window's exact row count: it makes the
      // cross-join side PROVABLY bounded in the plan (maxRows), which
      // the registry-wide PlanSpec sweep demands of every
      // condition-less join
      val winner = panel.filter(col("d") <= 14).limit(15)
        .crossJoin(broadcast(grid))
        .withColumn("synth",
          expr("(w1 * c1 + w2 * c2 + w3 * c3) div 1000"))
        .groupBy("w1", "w2", "w3")
        .agg(sum((col("y") - col("synth")) * (col("y") - col("synth")))
          .as("sse_pre"))
        .orderBy(col("sse_pre").asc, col("w1").asc, col("w2").asc)
        .limit(1)
      panel.filter(col("d") >= 15)
        .crossJoin(broadcast(winner))
        .selectExpr("d AS day", "y AS treated_cents",
          "(w1 * c1 + w2 * c2 + w3 * c3) div 1000 AS synth_cents",
          "y - (w1 * c1 + w2 * c2 + w3 * c3) div 1000 AS gap_cents",
          "w1", "w2", "w3", "sse_pre")
        .orderBy("day")
    },
    Some("""
      WITH ev AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
               event_type AS a, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
        WHERE event_type IN ('purchase', 'click', 'signup', 'view')),
      spine AS (SELECT CAST(unnest(generate_series(0, 30)) AS BIGINT) AS d),
      cells AS (
        SELECT d,
               CAST(sum(CASE WHEN a = 'purchase' THEN vc ELSE 0 END) AS BIGINT) AS y,
               CAST(sum(CASE WHEN a = 'click' THEN vc ELSE 0 END) AS BIGINT) AS c1,
               CAST(sum(CASE WHEN a = 'signup' THEN vc ELSE 0 END) AS BIGINT) AS c2,
               CAST(sum(CASE WHEN a = 'view' THEN vc ELSE 0 END) AS BIGINT) AS c3
        FROM ev GROUP BY d),
      panel AS MATERIALIZED (
        SELECT spine.d, coalesce(y, 0) AS y, coalesce(c1, 0) AS c1,
               coalesce(c2, 0) AS c2, coalesce(c3, 0) AS c3
        FROM spine LEFT JOIN cells ON spine.d = cells.d),
      grid AS (
        SELECT w1.w * 50 AS w1, w2.w * 50 AS w2,
               1000 - w1.w * 50 - w2.w * 50 AS w3
        FROM (SELECT unnest(generate_series(0, 20)) AS w) w1,
             (SELECT unnest(generate_series(0, 20)) AS w) w2
        WHERE w1.w * 50 + w2.w * 50 <= 1000),
      winner AS MATERIALIZED (
        SELECT w1, w2, w3,
               CAST(sum((y - (w1 * c1 + w2 * c2 + w3 * c3) // 1000) *
                        (y - (w1 * c1 + w2 * c2 + w3 * c3) // 1000)) AS BIGINT)
                 AS sse_pre
        FROM panel CROSS JOIN grid
        WHERE d <= 14
        GROUP BY w1, w2, w3
        ORDER BY sse_pre ASC, w1 ASC, w2 ASC LIMIT 1)
      SELECT d AS day, y AS treated_cents,
             CAST((w1 * c1 + w2 * c2 + w3 * c3) // 1000 AS BIGINT) AS synth_cents,
             CAST(y - (w1 * c1 + w2 * c2 + w3 * c3) // 1000 AS BIGINT) AS gap_cents,
             CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
             CAST(w3 AS BIGINT) AS w3, sse_pre
      FROM panel CROSS JOIN winner
      WHERE d >= 15
      ORDER BY day"""))

  /** CROSTON'S METHOD — the intermittent-demand forecaster the
    * smoother family mis-serves ([[holt]]/[[holtWinters]] smooth
    * EVERY period, so a mostly-zero series decays toward zero and
    * under-forecasts the spikes; Croston smooths demand SIZE and
    * demand INTERVAL as separate series, updated only when demand
    * occurs, and forecasts their ratio). The series is the sparse
    * slice "error events in the small hours" per day; α = 0.2 in
    * exact milli. Division semantics, measured not assumed: DuckDB's
    * `//` TRUNCATES toward zero on negative operands (−7//2 = −3,
    * verified), exactly like Spark's `div` and Scala's Long `/` — so
    * the signed innovation updates use plain truncating division on
    * all three sides and agree bit-for-bit (a floorDiv first draft
    * diverged by 1 milli on every negative innovation and the hash
    * caught it).
    *
    * The full (day, demand, interval, z, p, forecast) trajectory
    * rides the hash; the oracle replays the recurrence as a
    * recursive CTE over the demand-day table. Scale shape: one
    * corpus scan → day-domain demand table; the fold is bounded by
    * the calendar (the [[ucbReplay]] argument). */
  val croston: Q = Q(
    "q_croston",
    (s, dir) => {
      val dm = t(s, dir, "events")
        .filter(col("event_type") === "error" && hour(col("ts")) < 2)
        .groupBy(datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("d"))
        .agg(count(lit(1)).as("q"))
        .orderBy("d")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      var prev = -1L
      var z = 0L
      var p = 0L
      val trace = dm.zipWithIndex.map { case ((d, q), i) =>
        val gap = d - prev
        if (i == 0) { z = q * 1000L; p = gap * 1000L }
        else {
          z = z + 200L * (q * 1000L - z) / 1000L
          p = p + 200L * (gap * 1000L - p) / 1000L
        }
        prev = d
        (d, q, gap, z, p, 1000L * z / p)
      }
      import s.implicits._
      trace.toSeq.toDF("day", "demand", "interval_days", "z_milli", "p_milli",
          "forecast_milli")
        .coalesce(1).orderBy("day")
    },
    Some("""
      WITH RECURSIVE dm AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS q
        FROM events WHERE event_type = 'error' AND hour(ts) < 2
        GROUP BY 1),
      seqd AS (
        SELECT d, q, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
               d - coalesce(lag(d) OVER (ORDER BY d), -1) AS gap
        FROM dm),
      st AS (
        SELECT i, d, q, gap, q * 1000 AS z, gap * 1000 AS p
        FROM seqd WHERE i = 1
        UNION ALL
        SELECT f.i, f.d, f.q, f.gap,
               st.z + (200 * (f.q * 1000 - st.z)) // 1000,
               st.p + (200 * (f.gap * 1000 - st.p)) // 1000
        FROM st JOIN seqd f ON f.i = st.i + 1)
      SELECT d AS day, q AS demand, gap AS interval_days,
             CAST(z AS BIGINT) AS z_milli, CAST(p AS BIGINT) AS p_milli,
             CAST((1000 * z) // p AS BIGINT) AS forecast_milli
      FROM st ORDER BY day"""))

  /** SAMPLE-RATIO-MISMATCH GUARD — the first check every experiment
    * platform runs, standing per-day: if the md5 assignment coin is
    * drifting from its 50/50 design (broken bucketing, bot filtering
    * that correlates with the arm, a lost logging path), every
    * downstream estimate is garbage BEFORE any statistics happen.
    * Per day: arm counts, the 1-df chi-square numerator against the
    * design, and the α = 0.05 flag as a pure integer predicate
    * 1000·(n_A−n_B)² > 3841·(n_A+n_B) (3.841 = the χ²₁ critical
    * value, cross-multiplied — the [[graft.llm.Drift.ks]]
    * discipline; no float anywhere). A flagged day tells the owner
    * to investigate assignment, not results.
    *
    * Scale shape: one conditional aggregate per day off one scan. */
  val srmGuard: Q = Q(
    "q_srm_guard",
    (s, dir) => {
      val hex = md5(col("user_id").cast("string").cast("binary"))
      val arm = ((ascii(substring(hex, 7, 1)) * 256 +
        ascii(substring(hex, 8, 1))) % 2).cast("long")
      t(s, dir, "events")
        .select(to_date(col("ts")).as("day"), arm.as("g"))
        .groupBy("day")
        .agg(sum(col("g")).as("n_a"), sum(lit(1L) - col("g")).as("n_b"))
        .selectExpr("day", "n_a", "n_b",
          "(1000000 * (n_a - n_b) * (n_a - n_b)) div (n_a + n_b) AS chi2_micro",
          "1000 * (n_a - n_b) * (n_a - n_b) > 3841 * (n_a + n_b) AS srm_flag")
        .orderBy("day")
    },
    Some("""
      WITH ev AS (
        SELECT CAST(ts AS DATE) AS day,
               (ascii(substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) * 256 +
                ascii(substr(md5(CAST(user_id AS VARCHAR)), 8, 1))) % 2 AS g
        FROM events),
      agg AS (
        SELECT day, CAST(sum(g) AS BIGINT) AS n_a,
               CAST(sum(1 - g) AS BIGINT) AS n_b
        FROM ev GROUP BY day)
      SELECT day, n_a, n_b,
             CAST((1000000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b)
               AS BIGINT) AS chi2_micro,
             1000 * (n_a - n_b) * (n_a - n_b) > 3841 * (n_a + n_b) AS srm_flag
      FROM agg ORDER BY day"""))

  /** OVERDISPERSION DIAGNOSTIC — the Poisson-vs-negative-binomial
    * modeling fork for count data: a Poisson series has variance ≈
    * mean (dispersion index D = 1); real event streams are almost
    * always overdispersed (bursts, user heterogeneity), and every
    * rate model, anomaly threshold, and CI built on the Poisson
    * assumption is then too tight. Per event type over the daily
    * count series (zero days COUNT — the spine keeps them):
    * D = s²/x̄ cross-multiplied to the exact predicate
    * n·Σx² − (Σx)² vs (n−1)·Σx, surfaced in milli with one
    * nonnegative floor.
    *
    * Scale shape: one scan → 5×31 day cells, the rest is arithmetic
    * on a domain frame. */
  val dispersion: Q = Q(
    "q_dispersion",
    (s, dir) => {
      import s.implicits._
      val spine = s.range(0, 31).select(col("id").as("d"))
        .crossJoin(UcbArms.toDF("a"))
      val cells = t(s, dir, "events")
        .filter(col("event_type").isin(UcbArms: _*))
        .groupBy(datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("2024-01-01"))).cast("long").as("d"),
          col("event_type").as("a"))
        .agg(count(lit(1)).as("x"))
      spine.join(cells, Seq("d", "a"), "left")
        .select(col("a"), coalesce(col("x"), lit(0L)).as("x"))
        .groupBy("a")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
        .selectExpr("a AS event_type", "n", "sx AS total",
          "(1000 * (n * sxx - sx * sx)) div ((n - 1) * sx) AS dispersion_milli",
          "n * sxx - sx * sx > (n - 1) * sx AS overdispersed")
        .orderBy("event_type")
    },
    Some("""
      WITH arms AS (SELECT unnest(['click', 'error', 'purchase', 'signup', 'view']) AS a),
      spine AS (SELECT CAST(unnest(generate_series(0, 30)) AS BIGINT) AS d),
      cells AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
               event_type AS a, CAST(count(*) AS BIGINT) AS x
        FROM events
        WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
        GROUP BY 1, 2),
      full_ AS (
        SELECT arms.a, CAST(coalesce(cells.x, 0) AS BIGINT) AS x
        FROM spine CROSS JOIN arms
        LEFT JOIN cells ON spine.d = cells.d AND arms.a = cells.a)
      SELECT a AS event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS total,
             CAST((1000 * (count(*) * sum(x * x) - sum(x) * sum(x)))
               // ((count(*) - 1) * sum(x)) AS BIGINT) AS dispersion_milli,
             count(*) * sum(x * x) - sum(x) * sum(x) > (count(*) - 1) * sum(x)
               AS overdispersed
      FROM full_ GROUP BY a ORDER BY a"""))

  /** QUANTILE TREATMENT EFFECT — the distributional causal readout
    * the six mean-effect estimators miss: a treatment can leave the
    * MEAN unchanged while compressing the poor tail and stretching
    * the rich one, and only the per-quantile gap shows it. At the
    * three quartiles: the treated and control per-user spend
    * quantiles (lower empirical quantile, rank ⌊q(n−1)/100⌋+1 — one
    * exact order statistic per side, unique (spend, user) tiebreak)
    * and their signed difference. Treatment = the md5 coin shared
    * with [[didEstimate]]/[[matchingAtt]].
    *
    * Scale shape: one per-user aggregate, per-arm rank windows
    * (user-domain), a 3-row output. */
  val qte: Q = Q(
    "q_qte",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hex = md5(col("user_id").cast("string").cast("binary"))
      val treated = ((ascii(substring(hex, 7, 1)) * 256 +
        ascii(substring(hex, 8, 1))) % 2).cast("long")
      val users = t(s, dir, "events")
        .select(col("user_id"), treated.as("g"),
          round(col("value") * 100, 0).cast("long").as("vc"))
        .groupBy("user_id", "g").agg(sum(col("vc")).as("x"))
      val w = Window.partitionBy("g").orderBy(col("x").asc, col("user_id").asc)
      val ranked = users
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      val qs = s.range(0, 3).select((col("id") * 25 + 25).as("q"))
      val picks = ranked.crossJoin(broadcast(qs))
        .filter(col("rn") === expr("(q * (n - 1)) div 100 + 1"))
        .select(col("q"), col("g"), col("x"))
      picks.filter(col("g") === 1L).select(col("q"), col("x").as("treated_cents"))
        .join(picks.filter(col("g") === 0L)
          .select(col("q"), col("x").as("control_cents")), "q")
        .selectExpr("q AS quantile", "treated_cents", "control_cents",
          "treated_cents - control_cents AS qte_cents")
        .orderBy("quantile")
    },
    Some("""
      WITH users AS (
        SELECT user_id,
               (ascii(substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) * 256 +
                ascii(substr(md5(CAST(user_id AS VARCHAR)), 8, 1))) % 2 AS g,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY user_id),
      ranked AS (
        SELECT g, x,
               CAST(row_number() OVER (PARTITION BY g
                 ORDER BY x ASC, user_id ASC) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
        FROM users),
      qs AS (SELECT CAST(unnest([25, 50, 75]) AS BIGINT) AS q),
      picks AS (
        SELECT q, g, x FROM ranked CROSS JOIN qs
        WHERE rn = (q * (n - 1)) // 100 + 1)
      SELECT t.q AS quantile, t.x AS treated_cents, c.x AS control_cents,
             CAST(t.x - c.x AS BIGINT) AS qte_cents
      FROM picks t JOIN picks c ON t.q = c.q AND t.g = 1 AND c.g = 0
      ORDER BY quantile"""))

  val all: Seq[Q] = Seq(jsonExtract, hourlyWindow, sessionize, funnel, cohortRetention,
    transitions, dateSpine, variantJson, intervalMerge, abTest, slidingWindow,
    preferencePairs, groupAdvantage, attribution, cuped, permutationTest, bootstrapCi,
    changepoint, autocorr, welchTTest, ewma, holt, holtWinters, markovAttribution,
    sprt, shapleyAttribution, fdrBh, crosscorr, forecastBacktest, ucbReplay,
    burstDetect, didEstimate, ipsValue, drValue, drPolicy, ucbContextual,
    qiniCurve, bootstrapBc,
    perceptronReplay, powerAnalysis, matchingAtt, successiveHalving,
    valueIteration, syntheticControl, croston, srmGuard, dispersion, qte)
}
