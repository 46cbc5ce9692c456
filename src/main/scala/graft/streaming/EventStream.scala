package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Structured Streaming surface of the engine.
  *
  * The reference is a scheduled batch job (SURVEY.md §2i: streaming
  * absent; EventBridge daily re-runs with an overlapping 5-day
  * lookback, `lambda_function.py:11,18-21`). A Spark-native engine
  * gets true incremental processing from the same declarative
  * operators: each transform below is the streaming twin of a batch
  * query in [[graft.llm.Events]], so a stream job's output can be
  * checked against its batch replay — and a backfill IS the batch
  * query.
  *
  * Scale notes: watermark + windowed aggregation keeps state bounded
  * (windows older than the watermark are evicted); `dropDuplicates`
  * state is likewise watermark-scoped. State lives in the
  * RocksDB/HDFS-backed state store per shuffle partition, so the
  * 100 TB/day form is the same plan with more partitions.
  *
  * Every driver query but [[streamMerge]] runs through [[replay]],
  * which states the run contract.
  */
object EventStream {

  /** The clone a stream plans in, with 4 state partitions. Stateful
    * operators fix their state-store partition count from
    * `spark.sql.shuffle.partitions` at query START, and every store
    * partition pays a snapshot/commit per micro-batch — at the
    * harness's stream volumes a cpu-count default is pure bookkeeping
    * (measured 2-4× of some queries' wall-clock). On a real deployment
    * this is the knob sized to stream volume, independently of the
    * batch default. The clone ([[graft.Checkpoints.Scope]]) also gives
    * each run its own StreamingQueryManager + catalog, so memory-sink
    * names can't collide across overlapping runs.
    *
    * The clone also binds the `file` scheme's FileContext to
    * [[graft.ForkFreeLocalFs]]. Without libhadoop, Hadoop's local file
    * system starts a `chmod` subprocess for every file it creates and
    * `readlink` ones for every rename, on the stream thread and the
    * state-store commit path. The offset, commit and metadata logs and
    * the state stores all write through FileContext with the clone's
    * Hadoop conf, so they pick the binding up. Checksum files are
    * written and checked as under Hadoop's `LocalFs`. FileSystem-API
    * writes (parquet, ORC, `foreachBatch` sinks) and other schemes keep
    * Hadoop's defaults: that path shares the JVM-wide cached `file`
    * FileSystem with the caller's session. */
  private def streamSession(s: SparkSession): SparkSession = {
    val local = graft.Checkpoints.Scope(s, 4).session
    local.conf.set(graft.ForkFreeLocalFs.ImplKey, classOf[graft.ForkFreeLocalFs].getName)
    local
  }

  /** Land `df` as parquet in the staging directory `name` and return
    * its path. The file stream source lists directories while a
    * harness table is a single file; on a real deployment the
    * directory is the landing zone and this step disappears. */
  private[graft] def land(s: SparkSession, name: String, df: DataFrame): String = {
    val stage = graft.Staging.dir(s, name)
    df.write.mode("overwrite").parquet(stage)
    stage
  }

  /** Land `df` as the single file `<stage>/<name>.parquet` with its
    * modification time pinned to `mtime`: the file source admits files
    * in modification-time order, so the pins fix a replay's arrival
    * order. */
  private def landOne(stage: String, df: DataFrame, name: String, mtime: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(stage).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tmp = new Path(s"$stage/_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.globStatus(new Path(tmp, "part-*"))(0).getPath
    val dst = new Path(s"$stage/$name.parquet")
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.rename(part, dst)
    fs.delete(tmp, true)
    fs.setTimes(dst, mtime, -1)
  }

  /** The memory sink [[replay]] writes; each run's clone has its own. */
  private[graft] val SinkTable = "graft_replay"

  /** The one streaming run: landing zone → 4-partition clone
    * ([[streamSession]]) → `Trigger.AvailableNow` → memory sink →
    * micro-batch floor.
    *
    * The caller lands its input first ([[land]]); `plan` builds the
    * streaming frame in the clone, and the run writes it to the
    * [[SinkTable]] memory sink in `mode`, drains the backlog and
    * returns the clone's sink table. AvailableNow processes everything
    * present at start, in as many micro-batches as the source's
    * admission control asks for, then stops — so a run is a replay of
    * the landing zone, and its result can be hash-checked against the
    * batch twin. Complete mode suits aggregates over a finite backlog
    * (append would withhold every window still inside the watermark at
    * end of input); append and update modes leave the final fold to
    * the caller's batch-side read of the sink.
    *
    * `minBatches` is the floor on data micro-batches (batches that read
    * a row) for replays whose evidence is state absorbing several
    * batches; a run below it throws with the measured count and the
    * floor. A failing batch propagates, and the query is stopped on
    * every exit, so no run leaves a live stream behind. */
  private[graft] def replay(s: SparkSession, mode: OutputMode, minBatches: Int = 0)(
      plan: SparkSession => DataFrame): DataFrame = {
    val local = streamSession(s)
    val sq = plan(local).writeStream.format("memory").queryName(SinkTable)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    try sq.awaitTermination() finally sq.stop()
    val dataBatches = sq.recentProgress.count(_.numInputRows > 0)
    Audit.check("streaming replay data micro-batches", dataBatches, Audit.atLeast(minBatches))
    local.table(SinkTable)
  }

  /** Streaming twin of q_time_window (hourly tumbling window ×
    * event_type), late data admitted up to 2 hours. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        sum(round(col("value") * 100, 0).cast("long")).as("sum_value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value_cents"))

  /** Streaming exact dedup by event_id within the watermark horizon —
    * the incremental form of q_dedup_exact's hash-groupBy (state:
    * one key per id seen in the last 2 hours). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id", "ts")

  /** Stream-static enrichment join: every micro-batch of the stream
    * joins the (small, broadcast) static dimension — the streaming
    * analog of the reference's naics lookup (J1) and the standard way
    * to attach slowly-changing reference data to a live stream. A
    * stream-static equi-join is stateless: no watermark needed on the
    * static side, no state store involvement, so it scales with the
    * stream alone. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Per-user running event count via mapGroupsWithState — the
    * custom-state escape hatch (KeyValueGroupedDataset) for logic the
    * built-in windowed aggregates can't express. Emits (user_id,
    * events_so_far) on every update; state is a single long per user.
    * (NoTimeout: a production variant would add an event-time timeout
    * to expire idle users — timeouts also make the query trigger
    * batches with no input, which the batch-equivalence test must
    * avoid.) */
  def runningUserCounts(events: Dataset[(Long, java.sql.Timestamp)]): Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + batch.size
          state.update(n)
          (userId, n)
      }
  }

  /** Driver-visible streaming entry (SURVEY.md §2i): [[hourlyCounts]]
    * executed as an actual StreamingQuery ([[replay]]), then compared
    * by the driver against the SAME oracle SQL as the batch
    * `q_time_window`. That promotes the streaming≡batch claim from a
    * ScalaTest assertion to a driver-hash-checked record.
    *
    * Complete output mode (see [[replay]]). On an unbounded production
    * stream the same aggregation runs in append/update mode with the
    * watermark bounding state; here the result set (hours × event
    * types) is small by construction, which is what complete mode
    * requires. */
  val streamWindow: Q = Q(
    "q_stream_window",
    (s, dir) => {
      // stage only the columns the window aggregate reads: the file
      // stream source can't column-prune across the staging boundary,
      // and writing the full events table tripled the staging cost
      val ev = Tables.load(s, dir, "events")
        .select("ts", "event_type", "value")
      val stage = land(s, "graft_stream_events", ev)
      replay(s, OutputMode.Complete)(local =>
        hourlyCounts(local.readStream.schema(ev.schema).parquet(stage)))
        .orderBy("window_start", "event_type")
    },
    Some("""
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  /** Driver-visible streaming dedup: the events table staged TWICE
    * (every event is a planted duplicate — the overlapping-lookback
    * re-ingest of the reference's daily EventBridge runs,
    * `lambda_function.py:18-21`), streamed through
    * `dropDuplicates(event_id, ts)`, then aggregated per event_type.
    * The oracle aggregates the ORIGINAL single-copy table, so the
    * result hash-matches iff the streaming state dropped exactly the
    * 100% duplicate load. Append mode: dedup emits rows as they
    * arrive; the memory sink accumulates them and the per-type counts
    * are computed batch-side on the sink table.
    *
    * At scale the dedup state is one key per event inside the
    * watermark horizon, partitioned by the state-store shuffle — the
    * standard exactly-once re-ingest guard in front of an append-only
    * landing zone. */
  val streamDedup: Q = Q(
    "q_stream_dedup",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "event_type")
      val stage = land(s, "graft_stream_dedup", ev.unionAll(ev))
      replay(s, OutputMode.Append)(local =>
        dedupEvents(local.readStream.schema(ev.schema).parquet(stage)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("event_id")).as("n_ids"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Driver-visible streaming SESSION windows: gap-based (30 min)
    * per-user sessions via `session_window` — the state store MERGES
    * adjacent windows as events arrive, which tumbling windows can't
    * express and batch needs a full gaps-and-islands window scan for.
    *
    * Gap semantics pinned by the oracle: Spark merges an event into a
    * session iff it lands strictly inside `last_event + gap`, so the
    * islands form uses `diff >= 1800 → new session` (note
    * [[graft.llm.Events.sessionize]]'s batch query deliberately uses
    * `> 1800` — the two definitions differ only at exactly-gap
    * spacing, absent from this corpus but asserted correctly here).
    * Complete mode for the same finite-backlog reason as
    * [[streamWindow]]; session_window.end = max(ts) + gap by
    * definition, which the oracle reproduces arithmetically. */
  val streamSessions: Q = Q(
    "q_stream_sessions",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events").select("ts", "user_id")
      val stage = land(s, "graft_stream_sessions", ev)
      replay(s, OutputMode.Complete)(local =>
        local.readStream.schema(ev.schema).parquet(stage)
          .withWatermark("ts", "2 hours")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("user_id"), col("n_events")))
        .orderBy("user_id", "session_start")
    },
    Some("""
      SELECT min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id
                    ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        FROM (
          SELECT user_id, ts, event_id,
                 CASE WHEN prev_ts IS NULL
                        OR date_diff('second', prev_ts, ts) >= 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM (
            SELECT user_id, ts, event_id,
                   lag(ts, 1) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS prev_ts
            FROM events)))
      GROUP BY user_id, g ORDER BY user_id, session_start"""))

  /** The click→purchase stream-stream join of [[streamJoin]] and its
    * outer variants, as join type `how`. */
  private def clickPurchaseJoin(local: SparkSession,
      schema: org.apache.spark.sql.types.StructType, stage: String, how: String): DataFrame = {
    def src() = local.readStream.schema(schema).parquet(stage)
    val clicks = src().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"),
      how)
  }

  /** Driver-visible STREAM-STREAM join: click→purchase attribution
    * within a 1-hour window — two live streams (filtered views of the
    * same staged landing zone), watermarked on both sides, joined on
    * user with an event-time range condition. This is the stateful
    * shape tumbling windows and stream-static joins can't express:
    * BOTH sides buffer in the state store, and the watermark + time
    * bound together give Spark the eviction proof (a click older than
    * watermark − 1 h can never match a future purchase, so its state
    * is dropped — bounded state on an unbounded stream).
    *
    * Append mode: inner-join rows emit once matched. The oracle is
    * the batch twin over the original events table — streaming ≡
    * batch, hash-checked by the driver. */
  val streamJoin: Q = Q(
    "q_stream_join",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val stage = land(s, "graft_stream_join", ev)
      // A stream-stream join keeps FOUR state stores per shuffle
      // partition (keyToNumValues + keyWithIndexToValue per side) —
      // the heaviest case for narrowing state partitions
      // ([[streamSession]]; ~9s of pure store-commit bookkeeping
      // measured at 32).
      replay(s, OutputMode.Append)(local =>
        clickPurchaseJoin(local, ev.schema, stage, "inner")
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            col("click_ts"), col("purchase_ts")))
        .orderBy("click_id", "purchase_id")
    },
    Some("""
      SELECT a.event_id AS click_id, b.event_id AS purchase_id,
             a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
      FROM events a JOIN events b
        ON a.user_id = b.user_id
       AND a.event_type = 'click' AND b.event_type = 'purchase'
       AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      ORDER BY click_id, purchase_id"""))

  /** LEFT OUTER stream-stream join — the semantics the inner
    * [[streamJoin]] can't show: a click with no purchase inside its
    * 1-hour window must still emit, null-extended, once the
    * watermark proves no match can arrive. The outer row is emitted
    * only when the global watermark passes the click's last possible
    * match time (click_ts + 1 h) by the 2 h watermark delay. The
    * global watermark is the MIN of the per-side watermarks (each
    * side filters BEFORE withWatermark, so each tracks its own
    * event-type's max ts — Spark's default multipleWatermarkPolicy)
    * — so at end of a drained backlog, unmatched clicks younger than
    * least(max click ts, max purchase ts) − 3 h are STILL WITHHELD
    * in state. That withholding is part of the operator's contract,
    * and the oracle states it explicitly: batch left join, keeping
    * unmatched rows only below the eviction horizon. Null ordering
    * pinned NULLS FIRST on both engines. */
  val streamJoinOuter: Q = Q(
    "q_stream_join_outer",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val stage = land(s, "graft_stream_join_outer", ev)
      replay(s, OutputMode.Append)(local =>
        clickPurchaseJoin(local, ev.schema, stage, "left_outer")
          .select(col("click_id"), col("purchase_id"), col("user_id"),
            col("click_ts"), col("purchase_ts")))
        .orderBy(col("click_id"), asc_nulls_first("purchase_id"))
    },
    Some("""
      WITH m AS (
        SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
                     max(CASE WHEN event_type = 'purchase' THEN ts END)) AS mx
        FROM events)
      SELECT a.event_id AS click_id, b.event_id AS purchase_id,
             a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
      FROM events a LEFT JOIN events b
        ON a.user_id = b.user_id AND b.event_type = 'purchase'
       AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      CROSS JOIN m
      WHERE a.event_type = 'click'
        AND (b.event_id IS NOT NULL OR a.ts < mx - INTERVAL 3 HOUR)
      ORDER BY click_id, purchase_id NULLS FIRST"""))

  /** Stream-stream FULL-outer join — closes the streaming join
    * matrix next to [[streamJoin]] (inner) and [[streamJoinOuter]]
    * (left): unmatched rows emit from BOTH sides, each when its own
    * state is provably dead, so the oracle must account for BOTH
    * state TTLs against the min-watermark horizon.
    *
    * State-TTL accounting (the both-side eviction arithmetic): the
    * global watermark is the MIN over both inputs of max(ts) − 2 h
    * (`least(max click, max purchase) − 2 h` — a source that lags
    * holds the whole join's horizon back). From the join condition
    * `purchase_ts ∈ [click_ts, click_ts + 1 h]`:
    *  - a CLICK can still match future purchases while
    *    click_ts + 1 h ≥ wm, so its unmatched row emits once
    *    click_ts < wm − 1 h = least(maxes) − 3 h;
    *  - a PURCHASE can still match future clicks while
    *    purchase_ts ≥ wm (a matching click is never newer than the
    *    purchase), so its unmatched row emits once
    *    purchase_ts < wm = least(maxes) − 2 h.
    * Rows inside their horizon at end of backlog stay withheld in
    * state, by contract — the oracle's two WHERE bounds are exactly
    * the two eviction predicates, which is what makes a FULL-outer
    * replay hash-reproducible at all. */
  val streamJoinFull: Q = Q(
    "q_stream_join_full",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
      val stage = land(s, "graft_stream_join_full", ev)
      replay(s, OutputMode.Append)(local =>
        clickPurchaseJoin(local, ev.schema, stage, "full_outer")
          .select(col("click_id"), col("purchase_id"),
            coalesce(col("user_id"), col("p_user")).as("user_id"),
            col("click_ts"), col("purchase_ts")))
        .orderBy(asc_nulls_last("click_id"), asc_nulls_first("purchase_id"))
    },
    Some("""
      WITH m AS (
        SELECT least(max(CASE WHEN event_type = 'click' THEN ts END),
                     max(CASE WHEN event_type = 'purchase' THEN ts END)) AS mx
        FROM events),
      matched AS (
        SELECT a.event_id AS click_id, b.event_id AS purchase_id,
               a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        FROM events a JOIN events b
          ON a.user_id = b.user_id AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        WHERE a.event_type = 'click'),
      click_only AS (
        SELECT a.event_id AS click_id, CAST(NULL AS BIGINT) AS purchase_id,
               a.user_id, a.ts AS click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
        FROM events a CROSS JOIN m
        WHERE a.event_type = 'click' AND a.ts < mx - INTERVAL 3 HOUR
          AND NOT EXISTS (
            SELECT 1 FROM events b
            WHERE b.user_id = a.user_id AND b.event_type = 'purchase'
              AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR)),
      purchase_only AS (
        SELECT CAST(NULL AS BIGINT) AS click_id, b.event_id AS purchase_id,
               b.user_id, CAST(NULL AS TIMESTAMP) AS click_ts, b.ts AS purchase_ts
        FROM events b CROSS JOIN m
        WHERE b.event_type = 'purchase' AND b.ts < mx - INTERVAL 2 HOUR
          AND NOT EXISTS (
            SELECT 1 FROM events a
            WHERE a.user_id = b.user_id AND a.event_type = 'click'
              AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR))
      SELECT * FROM matched
      UNION ALL SELECT * FROM click_only
      UNION ALL SELECT * FROM purchase_only
      ORDER BY click_id NULLS LAST, purchase_id NULLS FIRST"""))

  /** The reference's PAGER AS A STREAM — DSv2 MicroBatchStream over a
    * JSON-lines landing file
    * ([[graft.sources.PagedMicroBatchStream]]): offsets are byte
    * positions, each micro-batch admits ~¼ of the backlog
    * (`stream_batch_bytes`), batches split into page-sized
    * line-aligned partitions by the same single driver planning pass
    * as the batch side. The demo lands SAM-shaped records derived
    * from `orders` (noticeId ← 'N'+orderkey, naicsCode ←
    * orderstatus) and streams them through a Complete-mode grouped
    * count with a floor of 3 data micro-batches — a single-gulp run
    * (admission control broken) aborts into the driver's err rather
    * than shipping a vacuous pass. Oracled: the
    * final counts must equal DuckDB's batch GROUP BY over orders,
    * proving no record was split, dropped, or double-read across
    * batch boundaries. */
  val streamRestPager: Q = Q(
    "q_stream_rest_pager",
    (s, dir) => {
      val stageDir = graft.Staging.dir(s, "graft_stream_pager")
      val o = Tables.load(s, dir, "orders")
        .select(to_json(struct(
          concat(lit("N"), col("o_orderkey")).as("noticeId"),
          col("o_orderpriority").as("title"),
          col("o_orderstatus").as("naicsCode"))).as("value"))
      // ONE file: byte offsets address a single growing log
      o.coalesce(1).write.mode("overwrite").text(s"$stageDir/jsonl")
      val part = new java.io.File(s"$stageDir/jsonl").listFiles()
        .filter(_.getName.startsWith("part-")).head
      replay(s, OutputMode.Complete, minBatches = 3)(local =>
        // no .schema(): the source declares the explicit SAM schema
        // itself (a user-supplied one would need supportsExternalMetadata)
        local.readStream.format("graft.sources.PagedJsonSource")
          .option("path", part.toString)
          .option("page_size", 2000)
          // ~¼ of the backlog per batch at ANY corpus scale (an 8 KiB
          // floor keeps partitions sane; sf0.001's file is ~120 KiB, so
          // a larger floor would collapse the multi-batch proof there)
          .option("stream_batch_bytes", math.max(8L * 1024, part.length() / 4))
          .load()
          .groupBy(col("naicsCode").as("status"))
          .agg(count(lit(1)).as("n")))
        .orderBy("status")
    },
    Some("""
      SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY status"""))

  /** Closed session record emitted by [[timeoutSessions]]. */
  final case class ClosedSession(
      user_id: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  /** Per-user session assembly via `flatMapGroupsWithState` with an
    * EVENT-TIME TIMEOUT — the custom-state pattern the built-in
    * `session_window` can't express: state holds OPEN session
    * intervals per user (merged under the 1800 s gap, out-of-order
    * safe), a session emits exactly once when the watermark proves no
    * extending event can arrive, and idle keys are woken by the
    * timeout — no per-batch full-state sweep.
    *
    * Closure predicate, used identically on data batches and timeout
    * wakes so emission is deterministic: a session is closed iff
    * `(end_us + gap_us) div 1000 + 1 < watermark_ms` — the
    * millisecond form mirrors Spark's strict timeout firing test, so
    * "fired" and "closed" can never disagree at sub-millisecond
    * boundaries. Timeout re-arms at the earliest open session's
    * closure time (clamped one ms above the current watermark, which
    * keeps a boundary session withheld rather than double-counted). */
  def timeoutSessions(ev: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
      gapUs: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    import ev.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000L
    def ts(us: Long): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val incoming = batch.map(e => micros(e._2)).toList
          val merged = (state.getOption.getOrElse(Nil) ++
              incoming.map(t => (t, t, 1L)))
            .sortBy(_._1)
            .foldLeft(List.empty[(Long, Long, Long)]) { (acc, s) =>
              acc match {
                case h :: rest if s._1 <= h._2 + gapUs =>
                  (h._1, math.max(h._2, s._2), h._3 + s._3) :: rest
                case _ => s :: acc
              }
            }.reverse
          def closeMs(endUs: Long): Long = (endUs + gapUs) / 1000L + 1L
          val (closed, open) = merged.partition(s => closeMs(s._2) < wmMs)
          if (open.isEmpty) state.remove()
          else {
            state.update(open)
            state.setTimeoutTimestamp(math.max(
              open.map(s => closeMs(s._2)).min, wmMs + 1L))
          }
          closed.iterator.map { case (a, b, n) => ClosedSession(user, n, ts(a), ts(b)) }
      }
  }

  /** Driver-visible flatMapGroupsWithState-with-timeout sessions: the
    * staged events stream sessionized by [[timeoutSessions]]. Like
    * [[streamJoinOuter]], the oracle encodes the watermark contract
    * explicitly: batch gaps-and-islands sessions (same 1800 s gap as
    * q_sessionize), kept only when closed under the final watermark
    * `max(ts)_ms − 2 h` by the same millisecond-form predicate the
    * operator uses — sessions still inside the horizon at end of
    * backlog remain withheld in state, by contract. */
  val streamTimeoutSessions: Q = Q(
    "q_stream_timeout_sessions",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events").select("user_id", "ts")
      val stage = land(s, "graft_stream_tmo_sessions", ev)
      replay(s, OutputMode.Append) { local =>
        val stream = local.readStream.schema(ev.schema).parquet(stage)
          .withWatermark("ts", "2 hours")
          .as[(Long, java.sql.Timestamp)]
        timeoutSessions(stream, gapUs = 1800L * 1000000L).toDF()
      }.orderBy("user_id", "session_start")
    },
    Some("""
      WITH m AS (
        SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events),
      sess AS (
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
                          OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                        THEN 1 ELSE 0 END AS new_session
            FROM (
              SELECT user_id, ts, event_id,
                     lag(ts, 1) OVER (PARTITION BY user_id
                          ORDER BY ts ASC, event_id ASC) AS prev_ts
              FROM events)))
        GROUP BY user_id, session_seq)
      SELECT user_id, n_events, session_start, session_end
      FROM sess, m
      WHERE (epoch_us(session_end) + 1800000000) // 1000 + 1 < wm_ms
      ORDER BY user_id, session_start"""))

  /** Driver-visible custom state: [[runningUserCounts]]
    * (mapGroupsWithState) over the live stream, Update mode into the
    * memory sink. Each micro-batch emits every touched user's count
    * SO FAR; counts are monotone, so the per-user MAX across emitted
    * updates equals the final total — which is exactly the batch
    * `GROUP BY user_id` the oracle runs. This promotes the last
    * spec-only streaming primitive (arbitrary keyed state) into the
    * driver's hash-checked record: every §2i surface — tumbling
    * window, dedup, session window, stream-stream join, custom
    * state — now has a batch-equivalent oracle row. */
  val streamState: Q = Q(
    "q_stream_state",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events").select("user_id", "ts")
      val stage = land(s, "graft_stream_state", ev)
      replay(s, OutputMode.Update)(local =>
        runningUserCounts(local.readStream.schema(ev.schema).parquet(stage)
          .as[(Long, java.sql.Timestamp)])
          .toDF("user_id", "events_so_far"))
        .groupBy("user_id")
        .agg(max(col("events_so_far")).as("n_events"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id ORDER BY user_id"""))

  /** Per-user funnel state for [[funnelStates]]: the min view time,
    * the candidate click/purchase times still inside the funnel
    * horizon, and a monotone events-seen counter that versions each
    * emission. Times are epoch MICROS (exact — never Timestamp
    * millis, which drop the sub-milli precision the strict `>`
    * comparisons depend on). */
  final case class FunnelState(minView: Option[Long], clicks: List[Long],
    purchases: List[Long], nSeen: Long)

  private val H = 86400000000L // funnel stage horizon: 24 h in micros

  /** Streaming funnel (view → click ≤24 h → purchase ≤24 h): a keyed
    * state machine that stays EXACT under arbitrary arrival order —
    * micro-batches split the file list however they like, and an
    * earlier view arriving late can both admit previously-ineligible
    * clicks and retract a previously-valid purchase. Stage membership
    * is therefore NOT monotone, so each batch re-evaluates the funnel
    * from retained candidates and emits a snapshot versioned by the
    * strictly-increasing events-seen counter; the reader keeps each
    * user's highest-version row (`max_by`), which is the evaluation
    * over the user's complete history.
    *
    * State is bounded without losing exactness: the min view only
    * DECREASES, so the click window (v, v+24h] and purchase reach
    * (v, v+48h] only move left — any candidate beyond the current
    * bound is dead forever and is pruned each batch. A production
    * deployment adds the watermark-driven lower bound (views older
    * than the watermark cannot arrive) to expire idle users via an
    * event-time timeout. */
  def funnelStates(events: Dataset[(Long, String, Long)]): Dataset[(Long, Long, Boolean, Boolean, Boolean, Long)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[(Long, String, Long)], gs: GroupState[FunnelState]) =>
          var st = gs.getOption.getOrElse(FunnelState(None, Nil, Nil, 0L))
          batch.foreach { case (_, typ, t) =>
            st = typ match {
              case "view" =>
                val v = Some(st.minView.fold(t)(math.min(_, t)))
                st.copy(minView = v, nSeen = st.nSeen + 1)
              case "click" => st.copy(clicks = t :: st.clicks, nSeen = st.nSeen + 1)
              case "purchase" => st.copy(purchases = t :: st.purchases, nSeen = st.nSeen + 1)
              case _ => st.copy(nSeen = st.nSeen + 1)
            }
          }
          // prune candidates past the (left-moving) horizon bounds
          st = st.minView.fold(st) { v =>
            st.copy(clicks = st.clicks.filter(_ <= v + H),
              purchases = st.purchases.filter(_ <= v + 2 * H))
          }
          gs.update(st)
          val cOpt = st.minView.flatMap { v =>
            st.clicks.filter(t => t > v && t <= v + H).minOption
          }
          val pOpt = cOpt.flatMap { c =>
            st.purchases.filter(t => t > c && t <= c + H).minOption
          }
          val secs = (for { v <- st.minView; p <- pOpt }
            yield Math.floorDiv(p, 1000000L) - Math.floorDiv(v, 1000000L)).getOrElse(0L)
          (userId, st.nSeen, st.minView.isDefined, cOpt.isDefined, pOpt.isDefined, secs)
      }
  }

  /** Driver-visible streaming funnel: [[funnelStates]] over the live
    * stream (Update mode), highest-version snapshot per user taken
    * with `max_by`, stage totals hash-compared against the SAME
    * oracle as the batch `q_funnel` — the strongest equivalence claim
    * on this surface: a multi-stage, non-monotone state machine whose
    * streamed result must equal the batch join chain bit-for-bit. */
  val streamFunnel: Q = Q(
    "q_stream_funnel",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      val stage = land(s, "graft_stream_funnel", ev)
      replay(s, OutputMode.Update)(local =>
        funnelStates(local.readStream.schema(ev.schema).parquet(stage)
          .as[(Long, String, Long)])
          .toDF("user_id", "n_seen", "has_v", "has_c", "has_p", "secs"))
        .groupBy("user_id")
        .agg(max_by(struct(col("has_v"), col("has_c"), col("has_p"), col("secs")),
          col("n_seen")).as("last"))
        // coalesce: on a corpus with no funnel events at all the sink
        // has zero users and ungrouped sums go NULL — the oracle's
        // counts read 0, so emit 0 here too (matches the batch
        // q_funnel coalesce on total_convert_secs)
        .agg(coalesce(sum(when(col("last.has_v"), 1L).otherwise(0L)), lit(0L)).as("n_view"),
          coalesce(sum(when(col("last.has_c"), 1L).otherwise(0L)), lit(0L)).as("n_click_after_view"),
          coalesce(sum(when(col("last.has_p"), 1L).otherwise(0L)), lit(0L)).as("n_full_funnel"),
          coalesce(sum(when(col("last.has_p"), col("last.secs")).otherwise(0L)), lit(0L))
            .as("total_convert_secs"))
    },
    graft.llm.Events.funnel.oracle)

  /** Driver-visible EXACTLY-ONCE sink: foreachBatch writing each
    * micro-batch to its own `batch=<id>` partition in overwrite mode —
    * the idempotent-sink pattern (a replayed batch id overwrites its
    * own partition, never appends a duplicate) that, combined with
    * the checkpointed source offsets, gives end-to-end exactly-once
    * on a file sink. The query demonstrates BOTH halves: the staged
    * source is split into multiple micro-batches (`maxFilesPerTrigger`),
    * and after the first AvailableNow run terminates the stream is
    * STARTED AGAIN from the same checkpoint — the restart replays
    * nothing, so the merged table still holds every event exactly
    * once. The output pins that: per-user event counts (any
    * double-processing doubles them) plus the keep-latest row per
    * user (the CDC-merge view), hash-checked against the batch twin.
    *
    * The source is staged once ([[graft.Staging.once]]: a half-written
    * stage is rebuilt, a complete one kept), so a re-invocation in the
    * same app is a genuine no-op restart (new staged files would look
    * like new data — correct streaming behavior, but then the run
    * would not be testing recovery). */
  val streamMerge: Q = Q(
    "q_stream_merge",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      val stage = graft.Staging.dir(s, "graft_stream_merge_src")
      val target = graft.Staging.dir(s, "graft_stream_merge_tgt")
      val ckpt = graft.Staging.dir(s, "graft_stream_merge_ckpt")
      graft.Staging.once(s, stage)(
        ev.repartition(8).write.mode("overwrite").parquet(stage))
      // the one run outside [[replay]]: a foreachBatch sink with a
      // checkpoint, started twice
      val local = streamSession(s)
      val writeBatch: (DataFrame, Long) => Unit =
        (batch, id) => batch.write.mode("overwrite").parquet(s"$target/batch=$id")
      def run(): Unit = {
        val sq = local.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "3").parquet(stage)
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch(writeBatch)
          .trigger(Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
      }
      run() // first run: N micro-batches, one partition each
      run() // restart from the same checkpoint: replays NOTHING
      local.read.parquet(target)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max_by(struct(col("event_type"), col("cents"), col("ts")),
            struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("n_events"),
          col("last.event_type").as("last_type"),
          col("last.cents").as("last_cents"), col("last.ts").as("last_ts"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT *, CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      last AS (
        SELECT user_id, event_type AS last_type, cents AS last_cents, ts AS last_ts
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn FROM e)
        WHERE rn = 1),
      cnt AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        FROM e GROUP BY user_id)
      SELECT c.user_id AS user_id, n_events, last_type, last_cents, last_ts
      FROM cnt c JOIN last l ON c.user_id = l.user_id
      ORDER BY c.user_id"""))

  /** Streaming corrupt-record quarantine — the streaming twin of the
    * batch PERMISSIVE ingest (`q_bad_records`): the landing zone mixes
    * valid JSON-lines with 25 planted garbage lines, the file STREAM
    * parses under the same explicit schema + corrupt-record column,
    * and the rolling per-segment aggregate pins that every valid row
    * survives and exactly the planted 25 land in quarantine — no row
    * silently dropped mid-stream, which is the property a production
    * ingest stream must prove before anyone trusts its output. */
  val streamQuarantine: Q = Q(
    "q_stream_quarantine",
    (s, dir) => {
      val stage = graft.Staging.dir(s, "graft_stream_quarantine")
      Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite").json(stage)
      s.range(25)
        .select(concat(lit("{corrupt json line #"), col("id")).as("value"))
        .write.mode("append").text(stage)
      replay(s, OutputMode.Complete)(local =>
        local.readStream
          .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(stage)
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("_corrupt_record")).as("n_corrupt")))
        .orderBy(asc_nulls_first("segment"))
    },
    graft.ops.Ingest.badRecords.oracle)

  /** NTZ event-time parity: the SAME hourly window aggregate as
    * [[streamWindow]], but the staged source deliberately stores `ts`
    * as TIMESTAMP_NTZ (the encoding the corpus generator switched to
    * in round 10) and the stream normalizes it back to TIMESTAMP
    * in-stream — the exact cast `Tables.load` applies at the batch
    * boundary, here proven through the streaming path: watermark +
    * windowed state + AvailableNow drain. Shares [[streamWindow]]'s
    * oracle, so the driver hash-checks that BOTH physical encodings
    * produce identical results end-to-end (the UTC session makes the
    * NTZ wall clock the UTC instant; a timezone regression or a lossy
    * cast would hash-mismatch here before it could hide in the
    * loader). The cast is a stateless projection ahead of the
    * watermark, so it adds nothing to state size at scale. */
  val streamNtz: Q = Q(
    "q_stream_ntz_window",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("ts").cast("timestamp_ntz").as("ts"),
          col("event_type"), col("value"))
      val stage = land(s, "graft_stream_ntz", ev)
      replay(s, OutputMode.Complete)(local =>
        hourlyCounts(local.readStream.schema(ev.schema).parquet(stage)
          .withColumn("ts", col("ts").cast("timestamp"))))
        .orderBy("window_start", "event_type")
    },
    streamWindow.oracle)

  /** Driver-visible stream-static enrichment: the events stream joins
    * a static dimension ([[enrichWithDim]] — broadcast left join, the
    * streaming analog of the reference's naics lookup J1) inside an
    * actual StreamingQuery, then the sink table aggregates per
    * dimension attribute batch-side. The dimension is derived
    * deterministically from the corpus (event_type → its length as a
    * weight), so the oracle reproduces the whole enrich+rollup in
    * SQL: a hash match proves every micro-batch saw the complete
    * broadcast dimension.
    *
    * The join is STATELESS — no watermark, no state store; at scale
    * it costs one broadcast per micro-batch re-plan and nothing per
    * row beyond the probe, which is why stream-static is the
    * preferred enrichment shape wherever the dim fits an executor. */
  val streamEnrich: Q = Q(
    "q_stream_enrich",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select("ts", "event_type", "value")
      val stage = land(s, "graft_stream_enrich_ev", ev)
      replay(s, OutputMode.Append) { local =>
        val dim = local.createDataFrame(
          ev.select(col("event_type")).distinct()
            .collect().map(r => r.getString(0))
            .sorted.map(t => (t, t.length.toLong)).toSeq)
          .toDF("event_type", "weight")
        enrichWithDim(local.readStream.schema(ev.schema).parquet(stage), dim, "event_type")
      }.groupBy("event_type")
        .agg(max(col("weight")).as("weight"), count(lit(1)).as("cnt"),
          sum(round(col("value") * 100, 0).cast("long") * col("weight"))
            .as("weighted_cents"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type,
             CAST(length(event_type) AS BIGINT) AS weight,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(value * 100) AS BIGINT) * length(event_type))
               AS BIGINT) AS weighted_cents
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** EXPLICIT late-data admission policy + lateness accounting under
    * a multi-batch replay — the production pattern for "how much data
    * arrives too late, and what did the dashboard actually count?".
    *
    * The landing zone replays as THREE single-file micro-batches in
    * pinned modification-time order: (1) every on-time event — this
    * advances the committed watermark to the corpus frontier max(ts);
    * (2) a straggler batch (a deterministic 1/5 id-slice, every row
    * ≥ 2 h older than the frontier — all of it late by the time it
    * arrives); (3) one far-future horizon row proving the policy
    * admits post-watermark data. A typed stateful operator keyed by
    * event_type checks every row against the watermark the stream has
    * already COMMITTED (`GroupState.getCurrentWatermarkMs`; batch N's
    * value is batch N−1's max event time minus the delay) and
    * accumulates admitted counts/cents and a QUARANTINE count of
    * late-dropped rows — lateness is never silently swallowed.
    *
    * Why not `withWatermark` + windowed agg alone: measured on this
    * Spark (4.1.2, minimal two-file repro), the built-in streaming
    * aggregation ADMITS late input rows — a row 3 h below the
    * committed watermark creates a fresh window and re-emits
    * (`numRowsDroppedByWatermark` = 0 in every mode), so "the
    * watermark drops stragglers" cannot be relied on for correctness
    * accounting. Owning the admission check in the state function
    * makes the policy explicit, deterministic, and auditable — and
    * the oracle hash-proves it: the DuckDB twin computes on-time and
    * late partitions from the same arithmetic definition of the
    * replay, so the driver's compare certifies both the drop AND the
    * accounting, batch-for-batch.
    *
    * At scale: state is one tiny struct per event_type (bounded by
    * key cardinality, not volume); the update-mode memory sink's
    * snapshot-per-batch rows collapse with a monotone `max_by` on the
    * total-rows counter, the same trick as [[streamFunnel]]. */
  val streamLate: Q = Q(
    "q_stream_late",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      // bounded 1-row agg: the corpus frontier batch 1 commits
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val lateCut = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
      val isLate = col("event_id") % 5 === 0 && col("ts") < lit(lateCut)
      val stage = graft.Staging.dir(s, "graft_stream_late")
      val horizon = ev.sparkSession.range(1).select(
        lit(-1L).as("event_id"),
        lit(new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000)).as("ts"),
        lit("zz_horizon").as("event_type"), lit(0L).as("cents"))
      // pinned arrival order IS the semantics
      landOne(stage, ev.filter(!isLate).select("ts", "event_type", "cents"), "b1_ontime", 1000000L)
      landOne(stage, ev.filter(isLate).select("ts", "event_type", "cents"), "b2_straggler", 2000000L)
      landOne(stage, horizon.select("ts", "event_type", "cents"), "b3_horizon", 3000000L)
      replay(s, OutputMode.Update)(local =>
        local.readStream.schema("ts TIMESTAMP, event_type STRING, cents BIGINT")
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .withWatermark("ts", "0 seconds")
          .as[(java.sql.Timestamp, String, Long)]
          .groupByKey(_._2)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (typ: String, batch: Iterator[(java.sql.Timestamp, String, Long)],
             gs: GroupState[(Long, Long, Long)]) =>
              val wm = gs.getCurrentWatermarkMs()
              var (onTime, late, cents) = gs.getOption.getOrElse((0L, 0L, 0L))
              batch.foreach { case (ts, _, c) =>
                if (ts.getTime < wm) late += 1 // quarantined, never counted
                else { onTime += 1; cents += c }
              }
              gs.update((onTime, late, cents))
              (typ, onTime, late, cents)
          }
          .toDF("event_type", "n_ontime", "n_late_dropped", "cents_ontime"))
        // per-batch snapshots collapse to the latest: total row counter
        // is strictly monotone per key
        .filter(col("event_type") =!= "zz_horizon")
        .groupBy("event_type")
        .agg(max_by(
          struct(col("n_ontime"), col("n_late_dropped"), col("cents_ontime")),
          col("n_ontime") + col("n_late_dropped")).as("z"))
        .select(col("event_type"), col("z.n_ontime").as("n_ontime"),
          col("z.n_late_dropped").as("n_late_dropped"),
          col("z.cents_ontime").as("cents_ontime"))
        .orderBy("event_type")
    },
    Some("""
      WITH mx AS (SELECT max(ts) AS m FROM events)
      SELECT event_type,
             CAST(sum(CASE WHEN NOT (event_id % 5 = 0 AND ts < m - INTERVAL 2 HOUR)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime,
             CAST(sum(CASE WHEN event_id % 5 = 0 AND ts < m - INTERVAL 2 HOUR
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_late_dropped,
             CAST(sum(CASE WHEN NOT (event_id % 5 = 0 AND ts < m - INTERVAL 2 HOUR)
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cents_ontime
      FROM events, mx
      GROUP BY event_type ORDER BY event_type"""))

  /** One Misra–Gries update: exact-increment when tracked, admit
    * while below capacity, otherwise the classic decrement-all step.
    * Pure function — unit-tested directly; the estimate for any key
    * is within [true − n/(k+1), true]. */
  def mgAdd(m: Map[Long, Long], x: Long, k: Int): Map[Long, Long] =
    if (m.contains(x)) m.updated(x, m(x) + 1L)
    else if (m.size < k) m.updated(x, 1L)
    else m.flatMap { case (u, c) => if (c > 1L) Some(u -> (c - 1L)) else None }

  /** Streaming HEAVY HITTERS under bounded state — Misra–Gries(64)
    * per shard (user_id mod 32), merged by summing per-shard
    * estimates: the frequent-items shape that holds on an unbounded
    * stream where exact per-user counting cannot (state is ≤ 64
    * entries per shard FOREVER, vs one entry per user ever seen). A
    * planted hot user carrying ~5% of corpus volume is appended to
    * the landing zone; the merged sketch must surface it at rank 1
    * with its estimate inside the MG envelope
    * [true − Σ_shards n_shard/(k+1), true] — asserted IN-QUERY, so a
    * broken decrement path throws into the driver's err field rather
    * than shipping a wrong sketch. Rows-only per contract (MG is
    * order-dependent within the envelope, so no cross-engine hash);
    * near-uniform background users correctly do NOT qualify — the
    * sketch's job is to separate the heavy tail, not to count.
    *
    * Each micro-batch's group input is sorted (ts, event_id) before
    * folding so the demo is run-to-run deterministic; production MG
    * needs no order — ANY arrival order satisfies the envelope. The
    * sort buffers one batch-shard, the STATE stays capped at k. */
  val streamHeavyHitters: Q = Q(
    "q_stream_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
      // bounded 1-row action: plant sizing + collision-free hot id —
      // max(user_id)+1 can never pre-exist in the data, so the MG
      // envelope assertion (est ≤ hotN) cannot be tripped by a real
      // user sharing the planted id
      val sizing = ev.agg(count(lit(1)).as("n"), max(col("user_id")).as("mx")).head()
      val nBase = sizing.getLong(0)
      val hotN = math.max(200L, nBase / 20)
      val hotUser = sizing.getLong(1) + 1L
      val hot = s.range(hotN).select(
        (col("id") + 5000000L).as("event_id"),
        lit(java.sql.Timestamp.valueOf("2024-01-15 12:00:00")).as("ts"),
        lit(hotUser).as("user_id"))
      val stage = land(s, "graft_stream_hh", ev.unionByName(hot))
      val k = 64
      val latest = replay(s, OutputMode.Update)(local =>
        local.readStream.schema(ev.schema).parquet(stage)
          .as[(Long, java.sql.Timestamp, Long)]
          .groupByKey(r => java.lang.Math.floorMod(r._3, 32L))
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (shard: Long, batch: Iterator[(Long, java.sql.Timestamp, Long)],
             gs: GroupState[(Map[Long, Long], Long)]) =>
              var (m, np) = gs.getOption.getOrElse((Map.empty[Long, Long], 0L))
              batch.toSeq.sortBy(r => (r._2.getTime, r._1)).foreach { r =>
                m = mgAdd(m, r._3, k); np += 1L
              }
              gs.update((m, np))
              val users = m.keys.toSeq.sorted
              (shard, np, users, users.map(m))
          }
          .toDF("shard", "n_proc", "users", "ests"))
        .groupBy("shard")
        .agg(max_by(struct(col("n_proc"), col("users"), col("ests")), col("n_proc"))
          .as("z"))
        .select(col("shard"), col("z.n_proc").as("n_proc"),
          col("z.users").as("users"), col("z.ests").as("ests"))
      val errBound = latest.agg(sum(expr(s"n_proc div ${k + 1}"))).head().getLong(0)
      val top = latest
        .select(explode(arrays_zip(col("users"), col("ests"))).as("e"))
        .select(col("e.users").as("user_id"), col("e.ests").as("est"))
        .groupBy("user_id").agg(sum(col("est")).as("est"))
        .withColumn("err_bound", lit(errBound))
        .orderBy(col("est").desc, col("user_id").asc)
        .limit(5)
      // MG envelope floor on the planted hot user: rank 1, estimate
      // within [true − bound, true]
      val head = top.head()
      Audit.check("rank-1 heavy hitter user (bound: the planted one)", head.getLong(0),
        Audit.equal(hotUser))
      Audit.check("planted heavy hitter MG estimate (bound: true count - MG error, true count)",
        head.getLong(1), Audit.within(hotN - errBound, hotN))
      top
    },
    None)

  /** STREAMING QUANTILES: the q-digest sketch
    * ([[graft.functions.QDigestAgg]]) as the state of a streaming
    * per-type aggregation — live latency/value percentiles, the
    * dashboard query a 100 TB event firehose actually needs. The
    * typed imperative aggregate rides the normal streaming-agg state
    * store (its buffer serializes like any partial aggregate), so the
    * running digest absorbs each micro-batch without reprocessing
    * history — the streaming expression of the sketch's mergeability.
    *
    * Evidence follows the sketch contract: the digest's deterministic
    * bound |rank(est) − target| ≤ n·L/k is checked BATCH-side against
    * exact per-type quantiles from the staged table, and only exact
    * values + bound booleans reach the driver hash (sketch bytes are
    * merge-order-dependent; the bound is not). Complete output mode:
    * the result is |types| rows of sketch state. Floor: 3 data
    * micro-batches. */
  val streamQuantile: Q = Q(
    "q_stream_quantile",
    (s, dir) => {
      val bits = 17; val k = 512
      val phis = Seq(500, 900)
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
      // 4 files + maxFilesPerTrigger(1): the digest state MUST absorb
      // several micro-batches, not swallow the backlog in one
      val stage = land(s, "graft_stream_quant", ev.repartition(4))
      val digests = replay(s, OutputMode.Complete, minBatches = 3)(local =>
        local.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .groupBy("event_type")
          .agg(graft.functions.QDigestAgg.build(col("cents"), bits, k).as("d"),
            count(lit(1)).as("n")))
      // |types| sketch rows leave the stream; everything below is
      // driver math on sketch bytes + one exact batch pass
      val sketches = digests.collect().map { r =>
        val entries = r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => (e.getLong(0), e.getLong(1)))
        (r.getString(0), entries, r.getLong(2))
      }.sortBy(_._1)
      val est = for {
        (ty, entries, n) <- sketches; p <- phis
      } yield {
        val target = (p * n + 999) / 1000
        (ty, p, target, n,
          graft.functions.QDigestAgg.quantile(entries, bits, target))
      }
      // exact per-type quantiles from the distinct-value cum frame
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("cents")
      val cum = ev.groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
      val tgt = s.createDataFrame(
          est.map { case (ty, p, target, _, _) => (ty, p, target) }.toSeq)
        .toDF("event_type", "phi_permille", "target")
      val exact = cum.join(broadcast(tgt), Seq("event_type"))
        .filter(col("cum") >= col("target"))
        .groupBy("event_type", "phi_permille")
        .agg(min(col("cents")).as("exact_cents"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      // true rank of every estimate in ONE scan of the staged table
      val rankCols = est.zipWithIndex.map { case ((ty, _, _, _, e), i) =>
        sum(when(col("event_type") === ty && col("cents") <= e, 1L)
          .otherwise(0L)).as(s"r$i")
      }
      val ranks = ev.agg(rankCols.head, rankCols.tail: _*).head()
      val out = est.zipWithIndex.map { case ((ty, p, target, n, _), i) =>
        val ok = math.abs(ranks.getLong(i) - target) * k <= n * bits
        (ty, p, exact((ty, p)), ok)
      }
      s.createDataFrame(out.toSeq)
        .toDF("event_type", "phi_permille", "exact_cents", "ok")
        .orderBy("event_type", "phi_permille")
    },
    Some("""
      WITH v AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM v GROUP BY event_type),
      cum AS (
        SELECT event_type, cents,
               CAST(sum(count(*)) OVER (PARTITION BY event_type
                 ORDER BY cents) AS BIGINT) AS cum
        FROM v GROUP BY event_type, cents),
      phi AS (SELECT * FROM (VALUES (500), (900)) t(p)),
      tgt AS (SELECT event_type, p, (p * n + 999) // 1000 AS target
              FROM n CROSS JOIN phi)
      SELECT t.event_type, t.p AS phi_permille,
             (SELECT min(cents) FROM cum c
              WHERE c.event_type = t.event_type AND c.cum >= t.target)
               AS exact_cents,
             TRUE AS ok
      FROM tgt t ORDER BY event_type, phi_permille"""))

  case class AsofEmit(purchase_id: Long, user_id: Long,
      last_click_value: Option[Double])

  /** STREAM-STREAM AS-OF JOIN — the custom batch exec's semantics
    * ([[graft.plans.AsofJoinExec]]: latest click at-or-before each
    * purchase, per user) made INCREMENTAL with bounded state: a
    * flatMapGroupsWithState sweep that buffers per-user clicks and
    * pending purchases, emits a purchase only once the watermark
    * passes its event time (no earlier click can still arrive — the
    * watermark contract), and evicts clicks down to "latest at-or-
    * below the watermark plus everything newer" (exactly what any
    * future purchase can still reference). An event-time timeout
    * re-awakens users whose pending purchases mature in a batch that
    * brings them no new rows. Purchases newer than the final
    * watermark stay withheld in state, by contract — the oracle's
    * horizon predicate, as in the other watermarked replays. */
  def asofStream(ev: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, String, Long, Double)])
      : org.apache.spark.sql.Dataset[AsofEmit] = {
    import ev.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000L
    // state: (clicks (tsUs, value) ascending, pending purchases (id, tsUs))
    ev.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[(Long, java.sql.Timestamp, String, Long, Double)],
         state: GroupState[(List[(Long, Double)], List[(Long, Long)])]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val rows = batch.toList
          val (clicks0, pending0) = state.getOption.getOrElse((Nil, Nil))
          val clicks = (clicks0 ++ rows.collect {
            case (_, t, "click", _, v) => (us(t), v) }).sortBy(c => (c._1, c._2))
          val pending = pending0 ++ rows.collect {
            case (_, t, "purchase", id, _) => (id, us(t)) }
          val (ripe, keep) = pending.partition(_._2 / 1000L <= wmMs)
          val out = ripe.sortBy(_._1).map { case (id, t) =>
            val prior = clicks.filter(_._1 <= t)
            AsofEmit(id, user, prior.lastOption.map(_._2))
          }
          // evict: latest click at-or-below the watermark + all newer
          val below = clicks.filter(_._1 / 1000L <= wmMs)
          val keptClicks = (if (below.nonEmpty) List(below.last) else Nil) ++
            clicks.filter(_._1 / 1000L > wmMs)
          if (keep.isEmpty && keptClicks.isEmpty) state.remove()
          else {
            state.update((keptClicks, keep))
            if (keep.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(keep.map(_._2 / 1000L).min, wmMs + 1L))
          }
          out.iterator
      }
  }

  /** Driver-visible stream-stream as-of: the events table staged in
    * RANGE-ORDERED time slices (repartitionByRange on ts → file k is
    * a contiguous time band, discovered in band order), so the
    * replay's watermark advances monotonically and every purchase's
    * prior clicks land on or before its own slice — the arrival
    * discipline a production landing zone provides. Two far-future
    * SENTINEL click files (a user id no real event carries) then
    * push the watermark past all real data and guarantee the flush
    * batches in which the remaining timeouts fire — emission depends
    * on pinned file order, never on whether the runtime happens to
    * schedule a trailing empty batch. With the horizon forced past
    * everything, the oracle is simply the FULL DuckDB ASOF LEFT
    * JOIN — the identical twin of `q_asof_exec`'s, completing the
    * as-of triangle: window composition ≡ custom physical operator ≡
    * streaming state sweep, all three against one oracle. Floor: 4
    * data micro-batches. */
  val streamAsof: Q = Q(
    "q_stream_asof",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val stage = graft.Staging.dir(s, "graft_stream_asof")
      val fs = new org.apache.hadoop.fs.Path(stage)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(stage), true)
      ev.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(stage)
      // PIN each slice's modification time in range order: the file
      // source orders ties arbitrarily, and a later-time slice
      // arriving early would advance the watermark past the middle
      // slices — whose rows the stateful operator then drops as late
      val t0 = System.currentTimeMillis()
      fs.globStatus(new org.apache.hadoop.fs.Path(stage, "part-*"))
        .sortBy(_.getPath.getName)
        .zipWithIndex.foreach { case (f, i) =>
          fs.setTimes(f.getPath, t0 + 60000L * i, -1) }
      // two flush waves, each touching EVERY user's group: wave 1
      // advances the watermark past all real data (computed at batch
      // end), wave 2 re-invokes every group under that watermark so
      // all pending purchases emit on the plain data path — no
      // reliance on the runtime's timeout scheduling. The waves are
      // far-future clicks on real users; no purchase follows them, so
      // they can never become an as-of answer. Both are pinned to
      // arrive AFTER the slices.
      def sentinel(name: String, hoursAhead: Long, mtime: Long): Unit =
        landOne(stage, ev.select(col("user_id")).distinct().select(
          col("user_id"),
          lit(new java.sql.Timestamp(maxTs.getTime + hoursAhead * 3600 * 1000))
            .as("ts"),
          lit("click").as("event_type"), lit(-1L).as("event_id"),
          lit(0.0).as("value")), name, mtime)
      sentinel("z1_flush", 4, System.currentTimeMillis() + 3600000L)
      sentinel("z2_flush", 5, System.currentTimeMillis() + 7200000L)
      replay(s, OutputMode.Append, minBatches = 4) { local =>
        val stream = local.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .withWatermark("ts", "2 hours")
          .as[(Long, java.sql.Timestamp, String, Long, Double)]
        asofStream(stream).toDF()
      }.orderBy("purchase_id")
    },
    Some("""
      SELECT p.event_id AS purchase_id, p.user_id, c.value AS last_click_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY purchase_id"""))

  /** STREAMING DEGREE MAINTENANCE for the k-core pipeline — the
    * [[graft.ops.Graph.kcore]] peel's input degree table maintained
    * incrementally over an edge stream: per-vertex keyed state
    * (mapGroupsWithState) accumulates the co-purchase degree across
    * micro-batches (`maxFilesPerTrigger = 1` over a 3-file stage pins
    * a 3-batch replay), so the peel's starting table is already
    * materialized the moment the stream drains — the production shape
    * where edges land continuously and core extraction runs on demand
    * from maintained state, never rescanning the edge history. Counts
    * are monotone, so the per-vertex MAX over emitted updates is the
    * final state (the [[streamState]] argument).
    *
    * Replay checks, both in-query: (1) the maintained state must
    * EXACTLY equal the batch degree aggregate over the same staged
    * edges (full-outer mismatch count = 0 — the streaming≡batch claim
    * as an abort, not a log line); (2) the quartile-k peel
    * ([[graft.ops.Graph.kCore]]) seeded from the MAINTAINED table's k
    * must satisfy the core property (min within-core degree ≥ k) with
    * every core vertex's maintained degree bounding its within-core
    * degree from above. Output = the maintained degree table, fully
    * DuckDB-oracled.
    *
    * At scale the state is one long per vertex, partitioned by the
    * state-store shuffle; the half-year window bounds the demo graph
    * the way the betweenness query's does. */
  val streamKcoreDeg: Q = Q(
    "q_stream_kcore_deg",
    (s, dir) => {
      val op = Tables.load(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-07-01").cast("timestamp"))
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
        .transform(graft.ops.Graph.checkedBasket)
      val edges = op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      val stage = land(s, "graft_stream_kcore", edges.repartition(3))
      val sink = replay(s, OutputMode.Update) { local =>
        import local.implicits._
        local.readStream.schema(edges.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .select(explode(array(col("u"), col("v"))).as("vertex")).as[Long]
          .groupByKey(identity)
          .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
            (v: Long, batch: Iterator[Long], st: GroupState[Long]) =>
              val d = st.getOption.getOrElse(0L) + batch.size
              st.update(d)
              (v, d)
          }
          .toDF("vertex", "deg_so_far")
      }
      val degs = keep(sink.groupBy("vertex")
        .agg(max(col("deg_so_far")).as("degree")))
      val staged = sink.sparkSession.read.parquet(stage)
      val batchDeg = staged
        .select(explode(array(col("u"), col("v"))).as("vertex"))
        .groupBy("vertex").agg(count(lit(1)).as("bd"))
      val mismatches = degs.join(batchDeg, Seq("vertex"), "full")
        .filter(!(col("degree") <=> col("bd"))).count()
      Audit.check("maintained degree vertices diverging from the batch recount", mismatches,
        Audit.equal(0))
      val nV = degs.count()
      val k = degs.orderBy(col("degree"), col("vertex"))
        .limit((nV / 4 + 1).toInt).agg(max(col("degree"))).head().getLong(0).toInt
      val core = graft.ops.Graph.kCore(staged, k)
      val coreDeg = core.select(explode(array(col("u"), col("v"))).as("vertex"))
        .groupBy("vertex").agg(count(lit(1)).as("core_deg"))
      val bad = coreDeg.join(degs, "vertex")
        .filter(col("core_deg") < k || col("core_deg") > col("degree")).count()
      Audit.check("vertices violating the core property after a peel from maintained state",
        bad, Audit.equal(0))
      degs.orderBy("vertex")
    },
    Some("""
      WITH op AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1995-07-01'),
      e AS (
        SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      touch AS (SELECT u AS vertex FROM e UNION ALL SELECT v AS vertex FROM e)
      SELECT vertex, CAST(count(*) AS BIGINT) AS degree
      FROM touch GROUP BY vertex ORDER BY vertex"""))

  /** STREAMING count-min — [[graft.functions.CountMinAgg]] as
    * streaming-aggregation state with a floor of 3 data micro-batches
    * (the [[streamQuantile]] replay). Unlike the q-digest,
    * the CMS has NO merge-order freedom: additive counters make the
    * streamed sketch BYTE-IDENTICAL to the batch build, so this query
    * carries `q_count_min`'s FULL hash oracle — every one of the
    * 1024 streamed counters is pinned through the derandomized-hash
    * GROUP BY recomputation, plus the never-undercount invariant as
    * the in-query abort. The sketch that leaves the stream is 8 KB of
    * state per trigger regardless of corpus size — the streaming
    * frequency-monitoring shape. */
  val streamCountMin: Q = Q(
    "q_stream_count_min",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull).select(col("user_id"))
      val stage = land(s, "graft_stream_cms", ev.repartition(4))
      val cells = replay(s, OutputMode.Complete, minBatches = 3)(local =>
        local.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .agg(graft.functions.CountMinAgg.build(col("user_id")).as("sk")))
        .head().getSeq[Long](0).toIndexedSeq
      val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("user_id"))
        .limit(10).collect()
      val rows = top.map { r =>
        val key = r.getLong(0); val exact = r.getLong(1)
        val est = graft.functions.CountMinAgg.estimate(cells, key)
        Audit.check(s"streamed count-min estimate of key $key (bound: its exact count)",
          est, Audit.atLeast(exact))
        (key, exact, est, est - exact)
      }
      s.createDataFrame(rows.toSeq)
        .toDF("user_id", "exact_cnt", "est_cnt", "overshoot")
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
      cells AS (
        SELECT i.range AS i,
               ((16807 * ((16807 * ((user_id % 127773) * (31 + i.range * 2)
                   + i.range * 7 + 3)) % 2147483647)) % 2147483647) % 256 AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM e, range(4) i GROUP BY 1, 2),
      ex AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM e GROUP BY user_id
        ORDER BY exact_cnt DESC, user_id LIMIT 10),
      probe AS (
        SELECT ex.user_id, i.range AS i,
               ((16807 * ((16807 * ((ex.user_id % 127773) * (31 + i.range * 2)
                   + i.range * 7 + 3)) % 2147483647)) % 2147483647) % 256 AS b
        FROM ex, range(4) i),
      est AS (
        SELECT p.user_id, CAST(min(cl.c) AS BIGINT) AS est_cnt
        FROM probe p JOIN cells cl ON cl.i = p.i AND cl.b = p.b
        GROUP BY p.user_id)
      SELECT ex.user_id, ex.exact_cnt, est.est_cnt,
             CAST(est.est_cnt - ex.exact_cnt AS BIGINT) AS overshoot
      FROM ex JOIN est USING (user_id) ORDER BY user_id"""))

  /** Latest-wins CDC state: the winning (seq, value, delete) per key
    * plus a monotone batches-seen version for the reader's max_by. */
  final case class CdcState(seq: Long, vc: Long, del: Boolean, nSeen: Long)

  /** STREAMING CDC MATERIALIZATION — apply an upsert/delete change
    * log to a keyed table, latest sequence number wins, EXACT under
    * arbitrary arrival order (micro-batches split the log however
    * they like; an old change arriving after a newer one must lose,
    * and a tombstone must erase the key even if its row arrived
    * first). The keyed state is one (seq, value, deleted) triple per
    * key — a max-fold, so batch order can't change the fixpoint; each
    * batch emits the current winner versioned by a strictly-monotone
    * counter and the reader keeps the highest version. This is the
    * streaming twin of [[graft.ops.Merge]]'s batch upsert apply: the
    * oracle materializes the same log in one batch window.
    *
    * Scale shape: state is one row per LIVE key in the state store
    * (key-partitioned); emissions are Update-mode winner snapshots.
    * A production deployment expires idle keys with an event-time
    * timeout once a retention watermark passes; tombstoned keys keep
    * only the tombstone row. */
  def cdcStates(log: Dataset[(Long, Long, Long, Boolean)]): Dataset[(Long, Long, Long, Boolean, Long)] = {
    import log.sparkSession.implicits._
    log.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long, batch: Iterator[(Long, Long, Long, Boolean)], st: GroupState[CdcState]) =>
          val prev = st.getOption.getOrElse(CdcState(Long.MinValue, 0L, del = true, 0L))
          val best = batch.foldLeft((prev.seq, prev.vc, prev.del)) {
            case ((bs, bv, bd), (_, seq, vc, del)) =>
              if (seq > bs) (seq, vc, del) else (bs, bv, bd)
          }
          val next = CdcState(best._1, best._2, best._3, prev.nSeen + 1)
          st.update(next)
          (k, next.seq, next.vc, next.del, next.nSeen)
      }
  }

  /** Driver query: the orders CDC log (key = orderkey mod 1000, seq =
    * orderkey, every 7th change a tombstone) replayed over three
    * arbitrary micro-batches; output = the materialized live table. */
  val streamCdc: Q = Q(
    "q_stream_cdc",
    (s, dir) => {
      import s.implicits._
      val log = Tables.load(s, dir, "orders").select(
        (col("o_orderkey") % 1000).as("k"),
        col("o_orderkey").as("seq"),
        round(col("o_totalprice") * 100, 0).cast("long").as("vc"),
        (col("o_orderkey") % 7 === 0).as("del"))
      val stage = land(s, "graft_stream_cdc", log.repartition(3))
      replay(s, OutputMode.Update)(local =>
        cdcStates(local.readStream.schema(log.schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
          .as[(Long, Long, Long, Boolean)])
          .toDF("key", "last_seq", "value_cents", "del", "n_seen"))
        // the winning seq only grows across emissions, so the final
        // materialization is each key's max_by(·, n_seen) snapshot
        .groupBy("key")
        .agg(expr("max_by(last_seq, n_seen)").as("last_seq"),
          expr("max_by(value_cents, n_seen)").as("value_cents"),
          expr("max_by(del, n_seen)").as("del"))
        .filter(!col("del"))
        .select("key", "last_seq", "value_cents")
        .orderBy("key")
    },
    Some("""
      WITH cdc AS (
        SELECT o_orderkey % 1000 AS key, o_orderkey AS seq,
               CAST(round(o_totalprice * 100) AS BIGINT) AS vc,
               o_orderkey % 7 = 0 AS del
        FROM orders),
      last AS (SELECT key, max(seq) AS last_seq FROM cdc GROUP BY key)
      SELECT c.key, CAST(c.seq AS BIGINT) AS last_seq, c.vc AS value_cents
      FROM cdc c JOIN last l ON c.key = l.key AND c.seq = l.last_seq
      WHERE NOT c.del
      ORDER BY c.key"""))

  val all: Seq[Q] = Seq(streamWindow, streamDedup, streamSessions, streamJoin,
    streamJoinOuter, streamJoinFull, streamState, streamTimeoutSessions, streamFunnel,
    streamMerge, streamQuarantine, streamNtz, streamEnrich, streamLate,
    streamHeavyHitters, streamRestPager, streamQuantile, streamAsof, streamKcoreDeg,
    streamCountMin, streamCdc)
}
