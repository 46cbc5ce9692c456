package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Incremental snapshot maintenance — the upsert/merge the reference
  * sidesteps by full-snapshot-replace (SURVEY.md §2i: its daily run
  * overwrites one S3 key). At 100 TB you cannot rewrite the world
  * per day; you merge a small delta into the standing snapshot.
  */
object Merge {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Keep-latest-version upsert: union base ∪ delta, keep the highest
    * `version` row per key. One hash shuffle on the key (window +
    * row_number), no driver involvement.
    *
    * Scale shape: shuffle volume is base+delta for this generic form.
    * Production pins the base bucketed/sorted by key (ops/Sinks
    * bucketedTable) so the merge co-locates: only the delta (≪ base)
    * shuffles, and compaction rewrites just the touched buckets —
    * same plan, layout-assisted. The deterministic tiebreaker demands
    * of the driver oracle (unique (key, version) pairs) mirror what a
    * real CDC stream guarantees via log offsets. */
  def upsertLatest(base: DataFrame, delta: DataFrame,
      keys: Seq[String], version: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(version).desc)
    base.unionByName(delta)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Driver query: orders as the day-0 snapshot (version 0), a
    * deterministic 1-in-7 "price correction" delta (version 1, +10%
    * in exact integer cents), merged keep-latest. The output carries
    * every key with its surviving version + price, so the hash fails
    * if merge drops, duplicates, or mis-versions any row. */
  val incrementalMerge: Q = Q(
    "q_incremental_merge",
    (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), lit(0L).as("version"),
          round(col("o_totalprice") * 100, 0).cast("long").as("total_cents"),
          col("o_orderstatus"))
      val delta = base.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), lit(1L).as("version"),
          (col("total_cents") + expr("total_cents div 10")).as("total_cents"),
          col("o_orderstatus"))
      upsertLatest(base, delta, Seq("o_orderkey"), "version")
        .orderBy("o_orderkey")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, CAST(0 AS BIGINT) AS version,
               CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
               o_orderstatus
        FROM orders),
      delta AS (
        SELECT o_orderkey, CAST(1 AS BIGINT) AS version,
               total_cents + total_cents // 10 AS total_cents, o_orderstatus
        FROM base WHERE o_orderkey % 7 = 0),
      merged AS (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta))
      SELECT o_orderkey, version, total_cents, o_orderstatus
      FROM merged WHERE rn = 1 ORDER BY o_orderkey"""))

  /** Snapshot diff — the change-data-capture COMPLEMENT of the merge:
    * given yesterday's and today's snapshots, emit what was added,
    * removed, and changed (with before/after values). One full outer
    * join on the key — the single keyed shuffle both sides pay; with
    * both snapshots bucketed by key (ops/Sinks layout) the diff is
    * shuffle-free. Unchanged rows are filtered OUT so the output is
    * the delta, not the world — at 100 TB the diff is what ships.
    *
    * Driver query derives both snapshots deterministically from
    * orders: new adds keys ≡0 (mod 11) that old lacks, drops keys ≡0
    * (mod 5), and reprices keys ≡0 (mod 7) +10% exact cents. */
  val snapshotDiff: Q = Q(
    "q_snapshot_diff",
    (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("total_cents"))
      val old = base.filter(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("old_key"), col("total_cents").as("old_cents"))
      val neu = base.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey").as("new_key"),
          when(col("o_orderkey") % 7 === 0,
            col("total_cents") + expr("total_cents div 10"))
            .otherwise(col("total_cents")).as("new_cents"))
      old.join(neu, col("old_key") === col("new_key"), "full_outer")
        .select(coalesce(col("old_key"), col("new_key")).as("key"),
          when(col("old_key").isNull, "added")
            .when(col("new_key").isNull, "removed")
            .when(col("old_cents") =!= col("new_cents"), "changed")
            .otherwise("unchanged").as("change"),
          col("old_cents"), col("new_cents"))
        .filter(col("change") =!= "unchanged")
        .orderBy("key")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
        FROM orders),
      old AS (
        SELECT o_orderkey AS old_key, total_cents AS old_cents
        FROM base WHERE o_orderkey % 11 <> 0),
      neu AS (
        SELECT o_orderkey AS new_key,
               CASE WHEN o_orderkey % 7 = 0 THEN total_cents + total_cents // 10
                    ELSE total_cents END AS new_cents
        FROM base WHERE o_orderkey % 5 <> 0)
      SELECT coalesce(old_key, new_key) AS key,
             CASE WHEN old_key IS NULL THEN 'added'
                  WHEN new_key IS NULL THEN 'removed'
                  WHEN old_cents <> new_cents THEN 'changed'
                  ELSE 'unchanged' END AS change,
             old_cents, new_cents
      FROM old FULL OUTER JOIN neu ON old_key = new_key
      WHERE CASE WHEN old_key IS NULL THEN 'added'
                 WHEN new_key IS NULL THEN 'removed'
                 WHEN old_cents <> new_cents THEN 'changed'
                 ELSE 'unchanged' END <> 'unchanged'
      ORDER BY key"""))

  /** Incremental aggregate rollup — the other half of snapshot
    * maintenance ([[upsertLatest]] maintains ROWS; this maintains an
    * AGGREGATE): a standing per-group summary absorbs a delta batch
    * without rescanning history. Works for any algebraic aggregate —
    * keep the (sum, count, min, max) parts, merge part-wise, derive
    * the final metric (avg = sum/count) only at read time. At 100 TB
    * this is the difference between a daily full-table rollup scan
    * and touching yesterday's summary (group-cardinality-sized) plus
    * one day of delta.
    *
    * The declared query materializes the "historical" summary to
    * per-app staging parquet (a genuine persisted-state round trip,
    * not a cached frame), aggregates the delta batch, merges, and
    * derives. Oracle = the full recompute over all events — the hash
    * proves merged-incremental ≡ recompute exactly (integer cents,
    * BIGINT parts). */
  val incrementalRollup: Q = Q(
    "q_incremental_rollup",
    (s, dir) => {
      val cents = round(col("value") * 100, 0).cast("long")
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("event_id"), cents.as("cents"))
      // deterministic batch boundary: last ~1/8 of events by id is
      // "today's delta", the rest is settled history
      val cut = graft.Staging.historyCut(ev, "event_id")
      def parts(df: DataFrame): DataFrame =
        df.groupBy("event_type").agg(
          count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
      val stateDir = graft.Staging.dir(s, "graft_rollup_state")
      parts(ev.filter(col("event_id") <= cut))
        .write.mode("overwrite").parquet(stateDir)
      val history = s.read.parquet(stateDir)
      val delta = parts(ev.filter(col("event_id") > cut))
      history.unionByName(delta)
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
          min(col("min_cents")).as("min_cents"), max(col("max_cents")).as("max_cents"))
        .select(col("event_type"), col("n"), col("sum_cents"),
          col("min_cents"), col("max_cents"),
          expr("sum_cents div n").as("avg_cents_floor"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents,
             CAST(min(cents) AS BIGINT) AS min_cents,
             CAST(max(cents) AS BIGINT) AS max_cents,
             CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents_floor
      FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events)
      GROUP BY event_type ORDER BY event_type"""))

  val all: Seq[Q] = Seq(incrementalMerge, snapshotDiff, incrementalRollup)
}
