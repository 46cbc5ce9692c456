package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.functions.ZOrderValue
import graft.CacheHandles.keep

/** Multi-dimensional data layout: Z-order clustering of a write so
  * 2-D box predicates prune row groups / files on either predicate
  * column. Complements [[Sinks.partitionedParquet]] (1-D directory
  * pruning) and [[Sinks.bucketedTable]] (join co-location) as the
  * third layout tool of the 100 TB kit.
  */
object Layout {

  /** Write `df` clustered by the Z-order of two key columns:
    * range-partition on the Morton value (each output file owns a
    * contiguous Z-range ≈ a tile in key space), sort within
    * partitions so row groups inside each file are tiles too. The
    * layout changes WHERE rows land, never WHAT they are — readers
    * need no knowledge of it; they just observe tighter min/max
    * stats. */
  def zorderWrite(df: DataFrame, colA: org.apache.spark.sql.Column,
      colB: org.apache.spark.sql.Column, path: String, numFiles: Int): Unit = {
    val z = ZOrderValue(colA.cast("long"), colB.cast("long"))
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Driver query: lineitem Z-ordered on (l_partkey, l_suppkey), read
    * back through a 2-D box predicate and aggregated. The result is
    * layout-INVARIANT — the oracle runs the same box aggregate on the
    * original table — so the hash proves the clustered write is
    * lossless; the layout's pruning effect (per-file key ranges
    * tighten vs a linear sort) is pinned separately in LayoutSpec,
    * and the box filter itself still pushes to the scan
    * (PushedFilters on both columns) where the Z-layout turns it
    * into row-group skips. */
  val zorderLayout: Q = Q(
    "q_zorder_layout",
    (s: SparkSession, dir: String) => {
      val out = graft.Staging.dir(s, "graft_lineitem_zorder")
      // suppkey's domain is ~20× narrower than partkey's — scale it up
      // so both dimensions contribute comparable bit positions to the
      // Morton value (raw widths would let partkey's high bits dominate
      // and degenerate the tiling toward a linear partkey sort)
      zorderWrite(Tables.load(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"),
        col("l_partkey"), col("l_suppkey") * 20, out, 8)
      s.read.parquet(out)
        .filter(col("l_partkey") >= 100 && col("l_partkey") < 400 &&
          col("l_suppkey") >= 10 && col("l_suppkey") < 60)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("price_cents"),
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_cents"))
        .orderBy("l_suppkey")
    },
    Some("""
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem
      WHERE l_partkey >= 100 AND l_partkey < 400
        AND l_suppkey >= 10 AND l_suppkey < 60
      GROUP BY l_suppkey ORDER BY l_suppkey"""))

  /** Small-file compaction: rewrite a fragmented directory into
    * size-targeted files. The silent killer of 100 TB pipelines is a
    * producer that emits per-task files (here simulated with a
    * 64-way write of one sf-table): every downstream scan pays file
    * listing, footer reads, and scheduler overhead per fragment.
    * Compaction = read → repartition(⌈bytes/target⌉) → rewrite; the
    * target count derives from actual input bytes, so the same code
    * yields one file here and thousands at scale. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val src = spark.read.parquet(inPath)
    // size via the Hadoop FileSystem API, not java.io.File — the
    // input may live on any scheme (s3a://, hdfs://, file:), and the
    // FS object is resolved per URI (Hadoop caches instances)
    val hconf = spark.sessionState.newHadoopConf()
    val bytes = src.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(hconf).getFileStatus(p).getLen
    }.sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    src.repartition(nOut).write.mode("overwrite").parquet(outPath)
    nOut
  }

  /** Driver query: fragment events 64 ways, compact, aggregate the
    * compacted copy against the oracle over the original table —
    * layout-invariant, so the hash proves compaction is lossless
    * (the file-count collapse itself is pinned in LayoutSpec). */
  val compactFiles: Q = Q(
    "q_compact_files",
    (s: SparkSession, dir: String) => {
      val fragged = graft.Staging.dir(s, "graft_events_fragmented")
      val compacted = graft.Staging.dir(s, "graft_events_compacted")
      Tables.load(s, dir, "events")
        .select("event_id", "event_type", "value")
        .repartition(64)
        .write.mode("overwrite").parquet(fragged)
      compact(s, fragged, compacted)
      s.read.parquet(compacted)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100, 0).cast("long")).as("value_cents"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
             CAST(min(event_id) AS BIGINT) AS min_id,
             CAST(max(event_id) AS BIGINT) AS max_id
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** CONSISTENT-HASHING RESHARD audit — the fourth layout tool: when
    * a keyed store grows from 7 to 8 shards, hash-mod reassigns
    * ~7/8 of all keys (every mod changes) while a consistent-hash
    * RING moves only the keys the new shard steals — the property
    * that makes online resharding affordable at 100 TB. The ring is
    * 7×8 (+8 new) virtual nodes at 48-bit md5 positions of
    * "shard:s:v"; a key at md5("key:"+id) lands on the first vnode
    * clockwise (wrap to the ring minimum). Fully derandomized, so
    * both assignments — before and after adding shard 7 — are pure
    * functions of the input and the whole census rides the driver
    * hash.
    *
    * THE consistent-hashing theorem is the in-query abort: a key that
    * moved must have moved TO the new shard (adding a node steals
    * keys, never shuffles them between old nodes); a single
    * old→old move means the ring arithmetic is broken. Emits per
    * shard: keys before, keys after, and gained-by-move.
    *
    * Scale shape: the ring is a ≤64-row broadcast literal frame (the
    * cross-join sweep's provable bound); assignment is one broadcast
    * cross join + a key-keyed min aggregate — one scan per epoch, no
    * shuffle beyond the key-domain group. */
  val consistentHash: Q = Q(
    "q_consistent_hash",
    (s, dir) => {
      val keys = Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .withColumn("kpos", conv(substring(md5(
          concat(lit("key:"), col("user_id").cast("string")).cast("binary")),
          1, 12), 16, 10).cast("long"))
      def ring(shards: Int, vnodes: Int) = {
        val s0 = keys.sparkSession
        import s0.implicits._
        (0 until shards).flatMap(sh => (0 until vnodes).map(v => (sh.toLong, v.toLong)))
          .toDF("shard", "vnode")
          .withColumn("pos", conv(substring(md5(
            concat(lit("shard:"), col("shard").cast("string"), lit(":"),
              col("vnode").cast("string")).cast("binary")), 1, 12), 16, 10)
            .cast("long"))
          .limit(64)
      }
      def assign(r: DataFrame, name: String) = {
        val globalMin = r.agg(min(col("pos")).as("minpos")).limit(1)
        keys.crossJoin(broadcast(r.select(col("pos"))))
          .groupBy("user_id", "kpos")
          .agg(min(when(col("pos") >= col("kpos"), col("pos"))).as("apos"))
          .crossJoin(broadcast(globalMin))
          .select(col("user_id"),
            coalesce(col("apos"), col("minpos")).as("apos"))
          .join(broadcast(r.select(col("pos").as("apos"), col("shard"))), "apos")
          .select(col("user_id"), col("shard").as(name))
      }
      val before = assign(ring(7, 8), "shard_before")
      val after = assign(ring(7, 8).unionByName(
        // the NEW shard's 8 vnodes: shard id 7
        ring(8, 8).filter(col("shard") === 7L)).limit(64), "shard_after")
      val both = keep(before.join(after, "user_id"))
      val badMoves = both.filter(col("shard_before") =!= col("shard_after") &&
        col("shard_after") =!= 7L).count()
      Audit.check("consistent hashing keys moved between OLD shards", badMoves, Audit.equal(0))
      val out = both.groupBy(col("shard_after").as("shard"))
        .agg(count(lit(1)).as("n_after"),
          sum(when(col("shard_before") =!= col("shard_after"), 1L)
            .otherwise(0L)).as("gained_by_move"))
        .join(both.groupBy(col("shard_before").as("shard"))
          .agg(count(lit(1)).as("n_before")), Seq("shard"), "full_outer")
        .select(col("shard"), coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("gained_by_move"), lit(0L)).as("gained_by_move"))
        .orderBy("shard")
      val rows = out.collect()
      both.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
        out.schema).orderBy("shard")
    },
    Some("""
      WITH keys AS MATERIALIZED (
        SELECT user_id,
               CAST('0x' || substr(md5('key:' || CAST(user_id AS VARCHAR)), 1, 12)
                 AS BIGINT) AS kpos
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)),
      ring7 AS (
        SELECT s.range AS shard, v.range AS vnode,
               CAST('0x' || substr(md5('shard:' || CAST(s.range AS VARCHAR) ||
                 ':' || CAST(v.range AS VARCHAR)), 1, 12) AS BIGINT) AS pos
        FROM range(7) s, range(8) v),
      ring8 AS (
        SELECT s.range AS shard, v.range AS vnode,
               CAST('0x' || substr(md5('shard:' || CAST(s.range AS VARCHAR) ||
                 ':' || CAST(v.range AS VARCHAR)), 1, 12) AS BIGINT) AS pos
        FROM range(8) s, range(8) v),
      b AS MATERIALIZED (
        SELECT k.user_id, r2.shard AS shard_before
        FROM (SELECT k.user_id, k.kpos,
                     coalesce(min(CASE WHEN r.pos >= k.kpos THEN r.pos END),
                              (SELECT min(pos) FROM ring7)) AS apos
              FROM keys k CROSS JOIN ring7 r GROUP BY k.user_id, k.kpos) k
        JOIN ring7 r2 ON r2.pos = k.apos),
      a AS MATERIALIZED (
        SELECT k.user_id, r2.shard AS shard_after
        FROM (SELECT k.user_id, k.kpos,
                     coalesce(min(CASE WHEN r.pos >= k.kpos THEN r.pos END),
                              (SELECT min(pos) FROM ring8)) AS apos
              FROM keys k CROSS JOIN ring8 r GROUP BY k.user_id, k.kpos) k
        JOIN ring8 r2 ON r2.pos = k.apos),
      both_ AS MATERIALIZED (
        SELECT b.user_id, b.shard_before, a.shard_after
        FROM b JOIN a USING (user_id)),
      na AS (SELECT shard_after AS shard, CAST(count(*) AS BIGINT) AS n_after,
                    CAST(sum(CASE WHEN shard_before <> shard_after
                             THEN 1 ELSE 0 END) AS BIGINT) AS gained_by_move
             FROM both_ GROUP BY 1),
      nb AS (SELECT shard_before AS shard, CAST(count(*) AS BIGINT) AS n_before
             FROM both_ GROUP BY 1)
      SELECT CAST(coalesce(na.shard, nb.shard) AS BIGINT) AS shard,
             CAST(coalesce(nb.n_before, 0) AS BIGINT) AS n_before,
             CAST(coalesce(na.n_after, 0) AS BIGINT) AS n_after,
             CAST(coalesce(na.gained_by_move, 0) AS BIGINT) AS gained_by_move
      FROM na FULL OUTER JOIN nb ON nb.shard = na.shard
      ORDER BY shard"""))

  /** WEIGHTED consistent hashing — heterogeneous shards: vnode
    * counts proportional to capacity (caps 1,1,1,2,2,3,4 × 4 vnodes
    * per unit = 56; the new shard arrives with capacity 2 → 8 more
    * vnodes, total 64 = the provable ring bound). Expected load per
    * shard tracks its vnode share, so a box twice as big serves
    * twice the keys from the SAME ring construction — no rebalancer.
    * The steal-only theorem still holds verbatim and stays the
    * in-query abort; the census gains a capacity column so the
    * load-proportionality is inspectable in the hashed output. */
  val WchCaps: Seq[(Long, Long)] =
    Seq(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L, 6L -> 4L)
  val WchNewShard: (Long, Long) = 7L -> 2L
  val WchVnodesPerCap = 4

  val weightedConsistentHash: Q = Q(
    "q_weighted_consistent_hash",
    (s, dir) => {
      import s.implicits._
      val keys = Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(col("user_id")).distinct()
        .withColumn("kpos", conv(substring(md5(
          concat(lit("key:"), col("user_id").cast("string")).cast("binary")),
          1, 12), 16, 10).cast("long"))
      def ring(caps: Seq[(Long, Long)]) =
        caps.flatMap { case (sh, cap) =>
          (0L until cap * WchVnodesPerCap).map(v => (sh, cap, v))
        }.toDF("shard", "capacity", "vnode")
          .withColumn("pos", conv(substring(md5(
            concat(lit("wshard:"), col("shard").cast("string"), lit(":"),
              col("vnode").cast("string")).cast("binary")), 1, 12), 16, 10)
            .cast("long"))
          .limit(64)
      def assign(r: DataFrame, name: String) = {
        val globalMin = r.agg(min(col("pos")).as("minpos")).limit(1)
        keys.crossJoin(broadcast(r.select(col("pos"))))
          .groupBy("user_id", "kpos")
          .agg(min(when(col("pos") >= col("kpos"), col("pos"))).as("apos"))
          .crossJoin(broadcast(globalMin))
          .select(col("user_id"),
            coalesce(col("apos"), col("minpos")).as("apos"))
          .join(broadcast(r.select(col("pos").as("apos"), col("shard"))), "apos")
          .select(col("user_id"), col("shard").as(name))
      }
      val before = assign(ring(WchCaps), "shard_before")
      val after = assign(ring(WchCaps :+ WchNewShard), "shard_after")
      val both = keep(before.join(after, "user_id"))
      val badMoves = both.filter(col("shard_before") =!= col("shard_after") &&
        col("shard_after") =!= WchNewShard._1).count()
      Audit.check("weighted consistent hashing keys moved between OLD shards", badMoves,
        Audit.equal(0))
      val caps = (WchCaps :+ WchNewShard).toDF("shard", "capacity")
      val out = both.groupBy(col("shard_after").as("shard"))
        .agg(count(lit(1)).as("n_after"),
          sum(when(col("shard_before") =!= col("shard_after"), 1L)
            .otherwise(0L)).as("gained_by_move"))
        .join(both.groupBy(col("shard_before").as("shard"))
          .agg(count(lit(1)).as("n_before")), Seq("shard"), "full_outer")
        .join(broadcast(caps), "shard")
        .select(col("shard"), col("capacity"),
          coalesce(col("n_before"), lit(0L)).as("n_before"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          coalesce(col("gained_by_move"), lit(0L)).as("gained_by_move"))
        .orderBy("shard")
      val rows = out.collect()
      both.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq, 1),
        out.schema).orderBy("shard")
    },
    Some(s"""
      WITH keys AS MATERIALIZED (
        SELECT user_id,
               CAST('0x' || substr(md5('key:' || CAST(user_id AS VARCHAR)), 1, 12)
                 AS BIGINT) AS kpos
        FROM (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL)),
      caps AS (SELECT * FROM (VALUES ${(WchCaps :+ WchNewShard)
        .map { case (sh, c) => s"(CAST($sh AS BIGINT), CAST($c AS BIGINT))" }
        .mkString(", ")}) t(shard, capacity)),
      ringall AS (
        SELECT c.shard, c.capacity, v.range AS vnode,
               CAST('0x' || substr(md5('wshard:' || CAST(c.shard AS VARCHAR) ||
                 ':' || CAST(v.range AS VARCHAR)), 1, 12) AS BIGINT) AS pos
        FROM caps c, range(64) v
        WHERE v.range < c.capacity * $WchVnodesPerCap),
      ring7 AS (SELECT * FROM ringall WHERE shard <> ${WchNewShard._1}),
      b AS MATERIALIZED (
        SELECT k.user_id, r2.shard AS shard_before
        FROM (SELECT k.user_id, k.kpos,
                     coalesce(min(CASE WHEN r.pos >= k.kpos THEN r.pos END),
                              (SELECT min(pos) FROM ring7)) AS apos
              FROM keys k CROSS JOIN ring7 r GROUP BY k.user_id, k.kpos) k
        JOIN ring7 r2 ON r2.pos = k.apos),
      a AS MATERIALIZED (
        SELECT k.user_id, r2.shard AS shard_after
        FROM (SELECT k.user_id, k.kpos,
                     coalesce(min(CASE WHEN r.pos >= k.kpos THEN r.pos END),
                              (SELECT min(pos) FROM ringall)) AS apos
              FROM keys k CROSS JOIN ringall r GROUP BY k.user_id, k.kpos) k
        JOIN ringall r2 ON r2.pos = k.apos),
      both_ AS MATERIALIZED (
        SELECT b.user_id, b.shard_before, a.shard_after
        FROM b JOIN a USING (user_id)),
      na AS (SELECT shard_after AS shard, CAST(count(*) AS BIGINT) AS n_after,
                    CAST(sum(CASE WHEN shard_before <> shard_after
                             THEN 1 ELSE 0 END) AS BIGINT) AS gained_by_move
             FROM both_ GROUP BY 1),
      nb AS (SELECT shard_before AS shard, CAST(count(*) AS BIGINT) AS n_before
             FROM both_ GROUP BY 1)
      SELECT c.shard, c.capacity,
             CAST(coalesce(nb.n_before, 0) AS BIGINT) AS n_before,
             CAST(coalesce(na.n_after, 0) AS BIGINT) AS n_after,
             CAST(coalesce(na.gained_by_move, 0) AS BIGINT) AS gained_by_move
      FROM caps c
      LEFT JOIN na ON na.shard = c.shard
      LEFT JOIN nb ON nb.shard = c.shard
      WHERE coalesce(nb.n_before, 0) > 0 OR coalesce(na.n_after, 0) > 0
      ORDER BY c.shard"""))

  val all: Seq[Q] = Seq(zorderLayout, compactFiles, consistentHash,
    weightedConsistentHash)
}
