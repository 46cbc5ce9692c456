package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Mergeable-sketch operators — the pre-aggregation pattern that makes
  * interactive analytics on 100 TB affordable: build small sketches
  * per shard once (map-side combinable aggregates), store/ship the
  * sketch bytes, and answer later queries by merging sketches instead
  * of rescanning rows.
  *
  * Both queries follow the repo's approximate-op evidence rule: the
  * sketch estimate is checked against the exactly-computed truth
  * inside the query, and the oracle recomputes the exact side plus a
  * literal-TRUE bound column — so the driver hash FAILS if the sketch
  * ever drifts out of its error budget.
  */
object Sketches {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Per-shard HLL sketch table → merged global estimate
    * (`hll_sketch_agg` / `hll_union_agg`, Apache DataSketches). The
    * grouped sketch frame is what a 100 TB deployment materializes
    * per day/partition: distinct-customer counts for any shard
    * combination then cost a sketch merge (bytes per shard), not a
    * rescan. Checked per shard AND for the cross-shard union —
    * distinct counts don't add across shards, which is exactly what
    * the union sketch gets right. */
  val hllMerge: Q = Q(
    "q_sketch_merge",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val sketches = o.groupBy("o_orderpriority")
        .agg(expr("hll_sketch_agg(o_custkey)").as("sk"),
          countDistinct(col("o_custkey")).as("exact_cust"))
      val per = sketches.select(
        col("o_orderpriority"),
        col("exact_cust"),
        (abs(expr("hll_sketch_estimate(sk)") - col("exact_cust"))
          .cast("double") / col("exact_cust") <= 0.05).as("within_5pct"))
      val global = sketches.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        .crossJoin(broadcast(o.agg(countDistinct(col("o_custkey")).as("exact_cust"))))
        .select(lit("__ALL__").as("o_orderpriority"), col("exact_cust"),
          (abs(col("est") - col("exact_cust")).cast("double") /
            col("exact_cust") <= 0.05).as("within_5pct"))
      per.unionByName(global).orderBy("o_orderpriority")
    },
    Some("""
      SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
             TRUE AS within_5pct
      FROM orders GROUP BY o_orderpriority
      UNION ALL
      SELECT '__ALL__' AS o_orderpriority,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
             TRUE AS within_5pct
      FROM orders
      ORDER BY o_orderpriority"""))

  /** Heavy hitters audited by a Count-Min sketch: the exact top-10
    * part keys (the oracle side) are re-estimated from a CMS built in
    * one distributed aggregate; the CMS guarantee — estimate never
    * undercounts, overcounts by at most ε·N with probability 1−δ —
    * becomes the hash-checked `within_bound` column.
    *
    * The collect here is the POINT of the sketch: 20 KB of sketch
    * bytes leave the cluster, not the 100 TB keyspace; estimating a
    * candidate's frequency is then a driver/broadcast-side array
    * lookup. (`df.stat.countMinSketch` wraps the same aggregate; the
    * SQL form keeps the build inside the declarative plan.) */
  val cmsHeavyHitters: Q = Q(
    "q_heavy_hitters",
    (s, dir) => {
      val eps = 0.001
      val li = t(s, dir, "lineitem")
      val total = li.count()
      val skBytes = li.select(
        expr(s"count_min_sketch(l_partkey, ${eps}d, 0.99d, 42) AS sk"))
        .head().getAs[Array[Byte]]("sk")
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes))
      val top = li.groupBy("l_partkey").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("l_partkey"))
        .limit(10)
      val rows = top.collect().map { r =>
        val key = r.getLong(0); val exact = r.getLong(1)
        val est = cms.estimateCount(key)
        (key, exact, est >= exact && est <= exact + (eps * total).toLong)
      }
      s.createDataFrame(rows.toSeq)
        .toDF("l_partkey", "exact_cnt", "within_bound")
        .orderBy(desc("exact_cnt"), col("l_partkey"))
    },
    Some("""
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt, TRUE AS within_bound
      FROM lineitem GROUP BY l_partkey
      ORDER BY exact_cnt DESC, l_partkey LIMIT 10"""))

  /** Bloom-sketch join pre-pruning — the third sketch family next to
    * HLL and CMS, and the one that changes JOIN cost: the dim side's
    * key set collapses to a few-KB Bloom filter
    * ([[graft.functions.BloomAgg]], the same expression pair behind
    * AQE's runtime row filters), which broadcasts onto the fact scan
    * and drops non-joining rows BEFORE any shuffle. False positives
    * survive the probe but die in the exact confirming join, so the
    * result is IDENTICAL to the plain join — which is exactly what
    * the oracle asserts (the plain join, no bloom anywhere). At
    * 100 TB this is the difference between shuffling the whole fact
    * table and shuffling the ~selectivity fraction that can match. */
  val bloomPrune: Q = Q(
    "q_bloom_prune",
    (s, dir) => {
      val dim = t(s, dir, "supplier")
        .filter(col("s_nationkey") === 3).select(col("s_suppkey"))
      // the built filter is a few-KB binary; `might_contain` requires
      // a CONSTANT filter (or scalar subquery), so it ships to the
      // driver once and re-enters the plan as a literal — the same
      // bounded sketch-collect the CMS heavy-hitter query uses, and
      // size-independent of the fact table by construction
      val bfBytes = dim.agg(
        graft.functions.BloomAgg.build(xxhash64(col("s_suppkey")), 1000L, 16384L).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      // an EMPTY dim aggregates to a null filter — prune everything,
      // which is exactly what the plain join would return
      val probe = if (bfBytes == null) lit(false)
        else graft.functions.BloomAgg.mightContain(lit(bfBytes), xxhash64(col("l_suppkey")))
      t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
        .filter(probe)
        .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("sum_cents"))
        .orderBy("l_suppkey")
    },
    Some("""
      SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey = 3
      GROUP BY l_suppkey ORDER BY l_suppkey"""))

  /** Repo-owned HLL register sketch ([[graft.functions.HllAgg]], a
    * TypedImperativeAggregate over 2^p byte registers) — same
    * pre-aggregation economics as [[hllMerge]] but with the sketch as
    * a transparent `array<int>` column the engine fully controls:
    * per-shard register arrays build in one map-side-combinable pass,
    * the cross-shard union is an element-wise-max aggregate over those
    * arrays (bytes per shard, no rescan — the incremental pattern
    * applied to cardinality), and the estimator is a declarative
    * `functions._` chain (α_m·m²/Σ2^(−reg) with linear-counting
    * small-range correction) over the shard-count-row sketch frame.
    *
    * Two cardinality regimes are exercised on purpose: user_id
    * (1.5k distinct — linear counting) and event_id (row-unique —
    * the raw bias-corrected branch at sf0.1). In-query floor: every
    * per-shard AND union estimate must sit within 3σ of exact, σ =
    * 1.04/√m the published standard error — the envelope columns ride
    * into the driver hash, so estimator drift fails the round. The
    * raw estimator's known bias band (E ∈ [2.5m, ~4m], the region
    * HLL++ patches with empirical tables) is avoided by sizing p=10
    * (m=1024): every tested cardinality at sf0.001/0.01/0.1 lands
    * either below 2.5m (linear counting) or beyond 4m (clean raw). */
  val hllRegisters: Q = Q(
    "q_hll_registers",
    (s, dir) => {
      val p = 10
      val env = 3 * graft.functions.HllAgg.stdError(p)
      val ev = t(s, dir, "events")
      // ONE map-side-combinable distinct over a (type, side, key)
      // union replaces the planner's 3× Expand for the two DISTINCT
      // aggregates (every event row used to ride the aggregate three
      // times); the sketches build over the distinct pairs with
      // IDENTICAL registers (register max is idempotent — duplicates
      // never move it) and COUNT(key) over distinct pairs IS
      // COUNT(DISTINCT key). Both key columns are BIGINT in the
      // corpus contract, so the union coerces nothing and xxhash64
      // sees the same physical longs. Null keys → null hash → skipped
      // by the aggregate, matching COUNT(DISTINCT).
      // kept: read for the per-shard aggregate AND the global exact row
      val dd = keep(ev.select(col("event_type"), lit(0).as("side"),
          col("user_id").as("k"))
        .unionAll(ev.select(col("event_type"), lit(1).as("side"),
          col("event_id").as("k")))
        .distinct())
      def h(side: Int) =
        when(col("side") === side && col("k").isNotNull, xxhash64(col("k")))
      // the materialized sketch table: read for per-shard rows AND the union row
      val shards = keep(dd.groupBy("event_type")
        .agg(
          graft.functions.HllAgg.build(h(0), p).as("u_regs"),
          graft.functions.HllAgg.build(h(1), p).as("e_regs"),
          count(when(col("side") === 0, col("k"))).as("exact_users"),
          count(when(col("side") === 1, col("k"))).as("exact_events")))
      def ok(regs: org.apache.spark.sql.Column,
             exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val est = graft.functions.HllAgg.estimate(regs, p)
        when(exact === 0, est === 0.0)
          .otherwise(abs(est - exact.cast("double")) / exact.cast("double") <= env)
      }
      val per = shards.select(col("event_type"),
        col("exact_users"), ok(col("u_regs"), col("exact_users")).as("users_ok"),
        col("exact_events"), ok(col("e_regs"), col("exact_events")).as("events_ok"))
      val global = shards.agg(
          graft.functions.HllAgg.union(col("u_regs"), p).as("u_regs"),
          graft.functions.HllAgg.union(col("e_regs"), p).as("e_regs"))
        .crossJoin(broadcast(dd.agg(
          countDistinct(when(col("side") === 0, col("k"))).as("exact_users"),
          countDistinct(when(col("side") === 1, col("k"))).as("exact_events"))))
        .select(lit("__ALL__").as("event_type"),
          col("exact_users"), ok(col("u_regs"), col("exact_users")).as("users_ok"),
          col("exact_events"), ok(col("e_regs"), col("exact_events")).as("events_ok"))
      per.unionByName(global).orderBy("event_type")
    },
    Some("""
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             TRUE AS users_ok,
             CAST(count(DISTINCT event_id) AS BIGINT) AS exact_events,
             TRUE AS events_ok
      FROM events GROUP BY event_type
      UNION ALL
      SELECT '__ALL__' AS event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
             TRUE AS users_ok,
             CAST(count(DISTINCT event_id) AS BIGINT) AS exact_events,
             TRUE AS events_ok
      FROM events
      ORDER BY event_type"""))

  /** Rank/quantile sketch — the fourth sketch family (HLL = distinct,
    * CMS/MG = frequency, Bloom = membership, q-digest = rank), via
    * [[graft.functions.QDigestAgg]]: a mergeable dyadic-tree digest
    * over integer cents with a DETERMINISTIC worst-case guarantee
    * |rank(estimate) − target| ≤ n·L/k — not KLL's probabilistic one,
    * which is what lets the bound ride into a driver-hashed boolean
    * that can never legitimately flip.
    *
    * Shape: ONE sketch aggregate over the fact scan (50 KB state,
    * map-side combinable), a bounded collect of ≤3k digest entries
    * (the CMS pattern — sketch bytes leave the cluster, not the
    * keyspace), then one more scan computing every estimate's TRUE
    * rank as conditional sums. The exact quantiles (the oracle side)
    * come from a cumulative window over the DISTINCT-CENTS aggregate —
    * value-domain-sized, not corpus-sized; a deployment whose value
    * domain outgrows one task swaps in `Ranks.globalOrder` unchanged.
    * Rank arithmetic is integer-exact: target = ⌈φ·n/1000⌉ via
    * (φ·n+999) div 1000, bound check |rank−target|·k ≤ n·L — no
    * doubles anywhere. */
  val quantileSketch: Q = Q(
    "q_quantile_sketch",
    (s, dir) => {
      val bits = 24; val k = 1024
      val phis = Seq(250, 500, 750, 900, 990)
      // sketch pass + exact-cum pass + rank-audit pass
      val li = keep(t(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100, 0).cast("long").as("cents")))
      val head = li.agg(
        graft.functions.QDigestAgg.build(col("cents"), bits, k).as("d"),
        count(lit(1)).as("n")).head()
      val entries = head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getLong(1)))
      val n = head.getLong(1)
      val targets = phis.map(p => (p * n + 999) / 1000)
      val ests = targets.map(tr =>
        graft.functions.QDigestAgg.quantile(entries, bits, tr))
      // exact quantiles from the distinct-value cumulative frame —
      // all φ resolved in ONE action (a per-target head() would replay
      // the cum window once per φ)
      val w = org.apache.spark.sql.expressions.Window.orderBy("cents")
      val cum = li.groupBy("cents").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
      val tgtDf = s.createDataFrame(phis.zip(targets)).toDF("phi", "target")
      val exactMap = cum.join(broadcast(tgtDf), col("cum") >= col("target"))
        .groupBy("phi").agg(min(col("cents")).as("q"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exact = phis.map(exactMap)
      // true rank of each estimate, all in one scan
      val rankRow = li.agg(
        sum(when(col("cents") <= ests.head, 1L).otherwise(0L)).as("r0"),
        ests.tail.zipWithIndex.map { case (e, i) =>
          sum(when(col("cents") <= e, 1L).otherwise(0L)).as(s"r${i + 1}") }: _*)
        .head()
      val out = phis.indices.map { i =>
        val trueRank = rankRow.getLong(i)
        val ok = math.abs(trueRank - targets(i)) * k <= n * bits
        (phis(i), exact(i), ok)
      }
      li.unpersist()
      s.createDataFrame(out).toDF("phi_permille", "exact_cents", "ok")
        .orderBy("phi_permille")
    },
    Some("""
      WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      cum AS (
        SELECT cents,
               CAST(sum(count(*)) OVER (ORDER BY cents) AS BIGINT) AS cum
        FROM v GROUP BY cents),
      phi AS (SELECT * FROM (VALUES (250), (500), (750), (900), (990)) t(p)),
      tgt AS (SELECT p, (p * n + 999) // 1000 AS target FROM phi, n)
      SELECT p AS phi_permille,
             (SELECT min(cents) FROM cum WHERE cum >= target) AS exact_cents,
             TRUE AS ok
      FROM tgt ORDER BY p"""))

  /** HLL SET ALGEBRA over the repo-owned register sketches: pairwise
    * audience overlap (intersection + Jaccard) between event-type
    * user cohorts by inclusion–exclusion — |A∩B| ≈ E(A) + E(B) −
    * E(A∪B), where the pairwise union is the DECLARATIVE register
    * merge `zip_with(a, b, greatest)` (element-wise max needs no
    * custom code at the row level; [[graft.functions.HllUnionAgg]]
    * covers the aggregate direction). This is the question overlap
    * dashboards actually ask — "how many users did both X and Y" for
    * every cohort pair — answered from 5 sketch rows instead of
    * re-shuffling the corpus per pair.
    *
    * Error composition is the honest part: three estimates each carry
    * the published σ = 1.04/√m, so the in-query floor bounds the
    * intersection error by 3σ·(|A| + |B| + |A∪B|) — exact sides used
    * for the bound scale to keep the boolean deterministic. Exact
    * intersection/Jaccard (the oracle side) come from one
    * distinct-(type,user) self-join; jaccard_permille is integer
    * division on BIGINT counts, hash-identical by construction. */
  val hllIntersect: Q = Q(
    "q_hll_intersect",
    (s, dir) => {
      val p = 10
      val env3 = 3 * graft.functions.HllAgg.stdError(p)
      val ev = t(s, dir, "events")
      // read for per-cohort sketches AND the exact overlap join
      val du = keep(ev.filter(col("user_id").isNotNull)
        .select(col("event_type"), col("user_id")).distinct())
      val sk = du.groupBy("event_type")
        .agg(graft.functions.HllAgg.build(xxhash64(col("user_id")), p).as("regs"),
          count(lit(1)).as("exact"))
      val pairs = sk.select(col("event_type").as("t1"), col("regs").as("ra"),
          col("exact").as("exact_a"))
        .join(sk.select(col("event_type").as("t2"), col("regs").as("rb"),
          col("exact").as("exact_b")), col("t1") < col("t2"))
      val common = du.select(col("event_type").as("t1"), col("user_id"))
        .join(du.select(col("event_type").as("t2"), col("user_id")),
          Seq("user_id"))
        .filter(col("t1") < col("t2"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("exact_common"))
      def est(c: org.apache.spark.sql.Column) =
        graft.functions.HllAgg.estimate(c, p)
      pairs.join(broadcast(common), Seq("t1", "t2"))
        .select(col("t1"), col("t2"), col("exact_a"), col("exact_b"),
          col("exact_common"),
          (abs(est(col("ra")) + est(col("rb")) -
            est(zip_with(col("ra"), col("rb"), (x, y) => greatest(x, y))) -
            col("exact_common").cast("double")) <=
            lit(env3) * (col("exact_a") + col("exact_b") +
              (col("exact_a") + col("exact_b") - col("exact_common"))).cast("double"))
            .as("ok"))
        .withColumn("jaccard_permille",
          expr("1000 * exact_common div (exact_a + exact_b - exact_common)"))
        .orderBy("t1", "t2")
    },
    Some("""
      WITH du AS (
        SELECT DISTINCT event_type, user_id FROM events
        WHERE user_id IS NOT NULL),
      s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
            FROM du GROUP BY event_type),
      c AS (SELECT x.event_type AS t1, y.event_type AS t2,
                   CAST(count(*) AS BIGINT) AS exact_common
            FROM du x JOIN du y
              ON x.user_id = y.user_id AND x.event_type < y.event_type
            GROUP BY 1, 2)
      SELECT c.t1, c.t2, sa.n AS exact_a, sb.n AS exact_b, c.exact_common,
             TRUE AS ok,
             CAST(1000 * c.exact_common // (sa.n + sb.n - c.exact_common) AS BIGINT)
               AS jaccard_permille
      FROM c
      JOIN s sa ON sa.event_type = c.t1
      JOIN s sb ON sb.event_type = c.t2
      ORDER BY c.t1, c.t2"""))

  /** HAND-ROLLED count-min sketch ([[graft.functions.CountMinAgg]]) —
    * unlike `q_heavy_hitters` (Spark's built-in `count_min_sketch`,
    * whose byte layout only supports a bound boolean), every one of
    * the 4×256 counters here is a derandomized-hash GROUP BY the
    * oracle recomputes, so the sketch itself is in the driver's hash:
    * point estimates for the top-10 users are exact integers both
    * engines derive independently.
    *
    * In-query floor: est ≥ exact for every probed key — the CMS
    * never-undercount invariant, which NO hash or data change may
    * break (an undercount means the aggregate or the hash diverged).
    *
    * Scale shape: ONE corpus pass through the map-side-combinable
    * typed aggregate (8 KB buffer per task, element-wise-add merge);
    * the exact side is a key-domain aggregate + TakeOrdered-10; the
    * probe evaluates the collected 1024-long sketch driver-side
    * (k-bounded). */
  val countMin: Q = Q(
    "q_count_min",
    (s, dir) => {
      val e = t(s, dir, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"))
      val cells = e.agg(graft.functions.CountMinAgg.build(col("user_id"))
        .as("sk")).head().getSeq[Long](0).toIndexedSeq
      val top = e.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("user_id"))
        .limit(10).collect()
      val rows = top.map { r =>
        val key = r.getLong(0); val exact = r.getLong(1)
        val est = graft.functions.CountMinAgg.estimate(cells, key)
        Audit.check(s"count-min estimate of key $key (bound: its exact count)", est,
          Audit.atLeast(exact))
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

  /** Q-DIGEST SKETCH STORE — the two-level quantile workflow
    * [[quantileSketch]] builds in one pass, done the way a sketch
    * store runs it: per-supplier-shard digests built ONCE (the persisted
    * per-shard artifacts), then combined by
    * [[graft.functions.QDigestUnionAgg]] WITHOUT touching raw data.
    * Mirrors `q_sketch_merge`'s HLL discipline for rank queries:
    * digest bytes are merge-order-dependent, so only EXACT quantiles
    * and the audited bound booleans reach the hash; the union path's
    * estimates are checked against the composed envelope 2·n·L/k
    * (per-shard compression ≤ nᵢL/k summed + the union's own
    * recompression).
    *
    * Scale shape: one corpus pass to 8 shard digests (map-side
    * combinable), one 7-row union aggregate, exact side = the same
    * distinct-value cum frame as [[quantileSketch]]. At 100 TB the
    * shard digests would be yesterday's persisted parquet and ONLY
    * the union aggregate runs per query. */
  val qdigestUnion: Q = Q(
    "q_qdigest_union",
    (s, dir) => {
      val bits = 24; val k = 1024
      val phis = Seq(250, 500, 750, 900, 990)
      val li = keep(t(s, dir, "lineitem")
        .select((col("l_suppkey") % 8).as("src"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("cents")))
      val perSrc = li.groupBy("src")
        .agg(graft.functions.QDigestAgg.build(col("cents"), bits, k).as("d"),
          count(lit(1)).as("n"))
      val head = perSrc.agg(
        graft.functions.QDigestAgg.union(col("d"), bits, k).as("d"),
        sum(col("n")).as("n"), count(lit(1)).as("n_shards")).head()
      val entries = head.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getLong(1)))
      val n = head.getLong(1)
      val nShards = head.getLong(2)
      val targets = phis.map(p => (p * n + 999) / 1000)
      val ests = targets.map(tr =>
        graft.functions.QDigestAgg.quantile(entries, bits, tr))
      val w = org.apache.spark.sql.expressions.Window.orderBy("cents")
      val cum = li.groupBy("cents").agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
      val tgtDf = s.createDataFrame(phis.zip(targets)).toDF("phi", "target")
      val exactMap = cum.join(broadcast(tgtDf), col("cum") >= col("target"))
        .groupBy("phi").agg(min(col("cents")).as("q"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val exact = phis.map(exactMap)
      val rankRow = li.agg(
        sum(when(col("cents") <= ests.head, 1L).otherwise(0L)).as("r0"),
        ests.tail.zipWithIndex.map { case (e, i) =>
          sum(when(col("cents") <= e, 1L).otherwise(0L)).as(s"r${i + 1}") }: _*)
        .head()
      val out = phis.indices.map { i =>
        val trueRank = rankRow.getLong(i)
        val ok = math.abs(trueRank - targets(i)) * k <= 2L * n * bits
        (phis(i), nShards, exact(i), ok)
      }
      li.unpersist()
      s.createDataFrame(out)
        .toDF("phi_permille", "n_shards", "exact_cents", "ok")
        .orderBy("phi_permille")
    },
    Some("""
      WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_suppkey % 8 AS src
        FROM lineitem),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
      shards AS (SELECT CAST(count(DISTINCT src) AS BIGINT) AS n_shards FROM v),
      cum AS (
        SELECT cents,
               CAST(sum(count(*)) OVER (ORDER BY cents) AS BIGINT) AS cum
        FROM v GROUP BY cents),
      phis AS (SELECT p AS phi
               FROM (VALUES (250), (500), (750), (900), (990)) t(p)),
      tgt AS (SELECT phi, (phi * n.n + 999) // 1000 AS target
              FROM phis CROSS JOIN n)
      SELECT t.phi AS phi_permille,
             (SELECT n_shards FROM shards) AS n_shards,
             CAST(min(c.cents) AS BIGINT) AS exact_cents,
             TRUE AS ok
      FROM tgt t JOIN cum c ON c.cum >= t.target
      GROUP BY t.phi
      ORDER BY phi_permille"""))

  /** SKETCH-BASED JOIN-SIZE ESTIMATION — the cost-based-optimizer
    * primitive: |A ⋈ B on k| = Σ_k cntA(k)·cntB(k), estimated WITHOUT
    * touching the join by taking the INNER PRODUCT of the two sides'
    * count-min sketches row by row and keeping the minimum (the
    * AMS/CMS join-size estimator — same hash rows line up bucket by
    * bucket, and hash collisions only ever ADD mass, so every row's
    * dot product over-estimates and the min is the tightest). Sides:
    * click events vs purchase events keyed by user — the "how big is
    * this fan-out join" question a planner asks before choosing a
    * strategy.
    *
    * Emits one row per sketch row i: (i, row_dot, exact, est,
    * overshoot) — est = min over rows, exact = the true Σ c_u·p_u —
    * plus the never-undercount invariant as an in-query abort on
    * EVERY row (row_dot ≥ exact must hold unconditionally; a single
    * undercount means the hash functions diverged between sides).
    * All BIGINT: counters are exact counts, dots are Σ 256-term
    * products (≤ n_A·n_B ≈ 10⁹ at sf0.1).
    *
    * Scale shape: two map-side-combinable sketch aggregates over one
    * scan each (the sketches are 8 KB regardless of corpus), the dot
    * products are driver work over 1024 cells (k-bounded by
    * construction), and the exact side is one user-keyed count join —
    * present only as the audit, which a production estimator would
    * skip. */
  val joinSizeEst: Q = Q(
    "q_join_size_est",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      def side(tpe: String) = ev.filter(col("event_type") === tpe)
        .select(col("user_id"))
      val a = side("click"); val b = side("purchase")
      val ca = a.agg(graft.functions.CountMinAgg.build(col("user_id")).as("sk"))
        .head().getSeq[Long](0)
      val cb = b.agg(graft.functions.CountMinAgg.build(col("user_id")).as("sk"))
        .head().getSeq[Long](0)
      val w = graft.functions.CountMinAgg.Width
      val dots = (0 until graft.functions.CountMinAgg.Depth).map { i =>
        i.toLong -> (0 until w).map(j => ca(i * w + j) * cb(i * w + j)).sum
      }
      val est = dots.map(_._2).min
      val exact = a.groupBy("user_id").agg(count(lit(1)).as("c"))
        .join(b.groupBy("user_id").agg(count(lit(1)).as("p")), "user_id")
        .agg(coalesce(sum(col("c") * col("p")), lit(0L))).head().getLong(0)
      dots.foreach { case (i, d) =>
        Audit.check(s"CMS join estimate on row $i (bound: the exact join size)", d,
          Audit.atLeast(exact))
      }
      import s.implicits._
      dots.map { case (i, d) => (i, d, exact, est, est - exact) }
        .toDF("i", "row_dot", "exact", "est", "overshoot")
        .coalesce(1).orderBy("i")
    },
    Some("""
      WITH a AS (SELECT user_id FROM events
                 WHERE user_id IS NOT NULL AND event_type = 'click'),
      b AS (SELECT user_id FROM events
            WHERE user_id IS NOT NULL AND event_type = 'purchase'),
      ca AS (
        SELECT i.range AS i,
               ((16807 * ((16807 * ((user_id % 127773) * (31 + i.range * 2)
                   + i.range * 7 + 3)) % 2147483647)) % 2147483647) % 256 AS bk,
               CAST(count(*) AS BIGINT) AS c
        FROM a, range(4) i GROUP BY 1, 2),
      cb AS (
        SELECT i.range AS i,
               ((16807 * ((16807 * ((user_id % 127773) * (31 + i.range * 2)
                   + i.range * 7 + 3)) % 2147483647)) % 2147483647) % 256 AS bk,
               CAST(count(*) AS BIGINT) AS c
        FROM b, range(4) i GROUP BY 1, 2),
      dots AS (
        SELECT ca.i, CAST(sum(ca.c * cb.c) AS BIGINT) AS row_dot
        FROM ca JOIN cb ON ca.i = cb.i AND ca.bk = cb.bk
        GROUP BY ca.i),
      exact_ AS (
        SELECT CAST(coalesce(sum(c * p), 0) AS BIGINT) AS exact
        FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM a GROUP BY 1) x
        JOIN (SELECT user_id, CAST(count(*) AS BIGINT) AS p FROM b GROUP BY 1) y
        USING (user_id)),
      est_ AS (SELECT CAST(min(row_dot) AS BIGINT) AS est FROM dots)
      SELECT CAST(d.i AS BIGINT) AS i, d.row_dot, e.exact, m.est,
             CAST(m.est - e.exact AS BIGINT) AS overshoot
      FROM dots d CROSS JOIN exact_ e CROSS JOIN est_ m
      ORDER BY i"""))

  /** KMV / THETA-SKETCH SET DIFFERENCE — the set-algebra gap HLL
    * cannot close: HLL unions losslessly but has no principled
    * difference (inclusion–exclusion compounds error, [[hllIntersect]]
    * documents the 3σ floor it needs). A K-MINIMUM-VALUES sketch
    * keeps the k smallest 48-bit md5 hashes WITH PROVENANCE (which
    * side(s) contributed); below the union's threshold θ = the k-th
    * smallest hash, the kept values are a uniform sample of A∪B, so
    * ANY set expression is estimable by counting sample members that
    * satisfy it and scaling by 2⁴⁸/θ — difference, intersection, and
    * both one-sided differences from ONE merged sketch.
    *
    * Fully hash-oracled with NO tolerance machinery: the sketch is a
    * pure function of the data (derandomized hashes, ORDER BY h LIMIT
    * k), so the estimates themselves are deterministic integers —
    * est = cnt·2⁴⁸ ÷ θ — and the exact sides ride along as the audit
    * columns. Emits one row per region (a_only / b_only / both) with
    * sample count, estimate, and exact truth. The sample is the k−1
    * hashes STRICTLY below θ — including the θ element itself would
    * systematically overestimate (the k/θ vs unbiased (k−1)/θ
    * distinction in the standard KMV estimator; E[(K−1)/θ]·2⁴⁸ = n).
    * Exact mode is unchanged: θ = 2⁴⁸ sits above every hash, so the
    * strict filter keeps the whole set.
    *
    * Scale shape: one scan to per-user hashes + membership flags
    * (map-side combinable), a TakeOrdered-k for the sketch (never a
    * global sort), exact counts from the same aggregate — the
    * production path drops the exact columns and touches only k
    * rows after the scan. */
  val KmvK = 64

  val kmvDifference: Q = Q(
    "q_kmv_difference",
    (s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id").isNotNull)
      val membership = keep(ev.groupBy("user_id")
        .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("in_a"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("in_b"))
        .filter(col("in_a") === 1L || col("in_b") === 1L)
        .withColumn("h", conv(substring(md5(
          col("user_id").cast("string").cast("binary")), 1, 12), 16, 10)
          .cast("long")))
      val sketch = keep(membership.orderBy("h").limit(KmvK))
      // exact mode: a union smaller than k IS the whole set, so the
      // scale factor is 1 (theta = 2^48) and est == n_sample exactly
      val skRow = sketch.agg(count(lit(1)), max(col("h"))).head()
      val theta = if (skRow.getLong(0) < KmvK) 281474976710656L
        else skRow.getLong(1)
      val exact = membership.agg(
        sum(when(col("in_a") === 1L && col("in_b") === 0L, 1L).otherwise(0L)),
        sum(when(col("in_a") === 0L && col("in_b") === 1L, 1L).otherwise(0L)),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L)))
        .head()
      // strictly below θ: the θ row is the threshold, not a sample
      // (unbiased (k−1)/θ estimator); exact mode keeps everything
      val counts = sketch.filter(col("h") < theta).agg(
        sum(when(col("in_a") === 1L && col("in_b") === 0L, 1L).otherwise(0L)),
        sum(when(col("in_a") === 0L && col("in_b") === 1L, 1L).otherwise(0L)),
        sum(when(col("in_a") === 1L && col("in_b") === 1L, 1L).otherwise(0L)))
        .head()
      membership.unpersist(); sketch.unpersist()
      def est(c: Long) = c * 281474976710656L / theta
      import s.implicits._
      Seq(("a_only", counts.getLong(0), est(counts.getLong(0)), exact.getLong(0)),
        ("b_only", counts.getLong(1), est(counts.getLong(1)), exact.getLong(1)),
        ("both", counts.getLong(2), est(counts.getLong(2)), exact.getLong(2)))
        .toDF("region", "n_sample", "est", "exact")
        .coalesce(1).orderBy("region")
    },
    Some(s"""
      WITH m AS MATERIALIZED (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b,
               CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                 AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
        HAVING max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) = 1
            OR max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1),
      sk AS MATERIALIZED (SELECT * FROM m ORDER BY h LIMIT $KmvK),
      th AS (SELECT CAST(CASE WHEN count(*) < $KmvK THEN 281474976710656
                              ELSE max(h) END AS BIGINT) AS theta FROM sk),
      sks AS (SELECT * FROM sk WHERE h < (SELECT theta FROM th)),
      cnts AS (
        SELECT 'a_only' AS region,
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_sample,
               (SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) FROM m) AS exact
        FROM sks
        UNION ALL
        SELECT 'b_only',
               CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT),
               (SELECT CAST(sum(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) FROM m)
        FROM sks
        UNION ALL
        SELECT 'both',
               CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT),
               (SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) FROM m)
        FROM sks)
      SELECT region, n_sample,
             CAST(n_sample * 281474976710656 // theta AS BIGINT) AS est,
             exact
      FROM cnts CROSS JOIN th
      ORDER BY region"""))

  val all: Seq[Q] = Seq(hllMerge, cmsHeavyHitters, bloomPrune, hllRegisters,
    quantileSketch, hllIntersect, countMin, qdigestUnion, joinSizeEst,
    kmvDifference)
}
