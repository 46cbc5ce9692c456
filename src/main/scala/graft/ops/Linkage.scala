package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.keep

/** Probabilistic record linkage — the Fellegi–Sunter model (JASA
  * 1969), the standard framework behind every production entity-
  * resolution system: candidate pairs from BLOCKING, a per-field
  * agreement pattern γ, and a log-likelihood match weight
  * W(γ) = Σ_f γ_f·ln(m_f/u_f) + (1−γ_f)·ln((1−m_f)/(1−u_f)) where
  * m_f = P(agree on f | match) and u_f = P(agree on f | non-match).
  *
  * The demo links the customer registry against a DETERMINISTICALLY
  * corrupted copy of itself (the planted-truth discipline: md5 coins
  * corrupt nation on 20 % of records, segment on 30 %, balance
  * bucket on 25 % — so ground truth is the id equijoin and every
  * estimate is auditable). Blocking is on the UNCORRUPTED name
  * suffix (last two digits — the "phonetic key" stand-in), so every
  * true match shares a block (perfect blocking recall) while in-block
  * non-matches are random w.r.t. the compared fields.
  *
  * Exactness: m and u are Laplace-smoothed integer ratios
  * ((agree+1)/(n+2) — the +1 guards ln(0) when a small corpus has no
  * in-block disagreement); each weight term is ONE IEEE ln of a ratio
  * of exact BIGINT cross-products, rounded once to micro-nats (the
  * [[graft.llm.Classifier]] naive-Bayes recipe), so the 8-row pattern
  * table — counts, true-match counts, and total weight — rides the
  * driver hash exactly.
  *
  * Scale shape: the A⋈B candidate join is BLOCKED (quadratic only
  * within a block, the classic linkage scale control; a skewed block
  * would take the [[graft.llm.Similarity.clusterNearDupPairs]]
  * deterministic thinning cap), m/u estimation and the pattern rollup
  * are aggregate-sized (2³ patterns × 4 counters), and the weight
  * table is a broadcast 1-row frame. Nothing corpus² ever
  * materializes; the per-pair weight assignment is a pattern-keyed
  * lookup, not a recompute.
  *
  * Reference: lambda_function.py has no linkage surface; extension
  * territory (training-data pipelines dedupe entities across noisy
  * source registries). */
object Linkage {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** md5 percent coin on the record id, hex chars [p, p+1] — the
    * repo's derandomized corruption coin. */
  private def coin(id: Column, p: Int): Column = {
    val hex = md5(id.cast("string").cast("binary"))
    (ascii(substring(hex, p, 1)) * 256 + ascii(substring(hex, p + 1, 1))) % 100
  }

  /** Clean registry A: (id, nation, seg, balb, blk). */
  private def regA(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(
      col("c_custkey").as("id"),
      col("c_nationkey").cast("long").as("nation"),
      col("c_mktsegment").as("seg"),
      expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("balb"),
      substring(col("c_name"), -2, 2).as("blk"))

  /** Corrupted registry B: same ids, md5-coin field noise. */
  private def regB(a: DataFrame): DataFrame =
    a.select(col("id"),
      when(coin(col("id"), 1) < 20, (col("nation") + 1) % 25)
        .otherwise(col("nation")).as("nation"),
      when(coin(col("id"), 3) < 30, lit("UNKNOWN"))
        .otherwise(col("seg")).as("seg"),
      when(coin(col("id"), 5) < 25, col("balb") + 1)
        .otherwise(col("balb")).as("balb"),
      col("blk"))

  val fellegiSunter: Q = Q(
    "q_record_linkage",
    (s, dir) => {
      val a = regA(s, dir)
      val b = regB(a)
      // ground-truth matched pairs: one per id (perfect recall by
      // construction); agreement counts for the m estimates
      val m = a.as("a").join(b.as("b"), col("a.id") === col("b.id"))
        .agg(count(lit(1)).as("n_m"),
          sum(when(col("a.nation") === col("b.nation"), 1L).otherwise(0L)).as("mn"),
          sum(when(col("a.seg") === col("b.seg"), 1L).otherwise(0L)).as("ms"),
          sum(when(col("a.balb") === col("b.balb"), 1L).otherwise(0L)).as("mb"))
      // blocked candidate pairs with their agreement pattern
      val cand = a.as("a").join(b.as("b"), col("a.blk") === col("b.blk"))
        .select(
          when(col("a.nation") === col("b.nation"), 1L).otherwise(0L).as("gn"),
          when(col("a.seg") === col("b.seg"), 1L).otherwise(0L).as("gs"),
          when(col("a.balb") === col("b.balb"), 1L).otherwise(0L).as("gb"),
          when(col("a.id") === col("b.id"), 1L).otherwise(0L).as("is_match"))
      val u = cand.filter(col("is_match") === 0L)
        .agg(count(lit(1)).as("n_u"),
          sum(col("gn")).as("un"), sum(col("gs")).as("us"),
          sum(col("gb")).as("ub"))
      // Laplace-smoothed micro-nat weights: agree w = ln(m/u),
      // disagree w = ln((1-m)/(1-u)), each ONE ln of a BIGINT
      // cross-product ratio rounded once
      def wAgree(mc: Column, uc: Column): Column =
        round(log(((mc + 1) * (col("n_u") + 2)).cast("double") /
          ((uc + 1) * (col("n_m") + 2)).cast("double")) * 1e6, 0).cast("long")
      def wDis(mc: Column, uc: Column): Column =
        round(log(((col("n_m") + 1 - mc) * (col("n_u") + 2)).cast("double") /
          ((col("n_u") + 1 - uc) * (col("n_m") + 2)).cast("double")) * 1e6, 0)
          .cast("long")
      val w = m.crossJoin(u).select(
        wAgree(col("mn"), col("un")).as("wn_a"), wDis(col("mn"), col("un")).as("wn_d"),
        wAgree(col("ms"), col("us")).as("ws_a"), wDis(col("ms"), col("us")).as("ws_d"),
        wAgree(col("mb"), col("ub")).as("wb_a"), wDis(col("mb"), col("ub")).as("wb_d"))
      cand.groupBy("gn", "gs", "gb")
        .agg(count(lit(1)).as("n_pairs"), sum(col("is_match")).as("n_match"))
        .crossJoin(broadcast(w))
        .select(col("gn"), col("gs"), col("gb"), col("n_pairs"), col("n_match"),
          (when(col("gn") === 1L, col("wn_a")).otherwise(col("wn_d")) +
            when(col("gs") === 1L, col("ws_a")).otherwise(col("ws_d")) +
            when(col("gb") === 1L, col("wb_a")).otherwise(col("wb_d")))
            .as("weight_micro"))
        .orderBy("gn", "gs", "gb")
    },
    Some("""
      WITH a AS MATERIALIZED (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nation,
               c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS balb,
               substr(c_name, length(c_name) - 1, 2) AS blk
        FROM customer),
      b AS MATERIALIZED (
        SELECT id,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 1, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 2, 1))) % 100 < 20
                    THEN (nation + 1) % 25 ELSE nation END AS nation,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 3, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 4, 1))) % 100 < 30
                    THEN 'UNKNOWN' ELSE seg END AS seg,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 5, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 6, 1))) % 100 < 25
                    THEN balb + 1 ELSE balb END AS balb,
               blk
        FROM a),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n_m,
                   CAST(sum(CASE WHEN a.nation = b.nation THEN 1 ELSE 0 END) AS BIGINT) AS mn,
                   CAST(sum(CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END) AS BIGINT) AS ms,
                   CAST(sum(CASE WHEN a.balb = b.balb THEN 1 ELSE 0 END) AS BIGINT) AS mb
            FROM a JOIN b USING (id)),
      cand AS MATERIALIZED (
        SELECT CASE WHEN a.nation = b.nation THEN 1 ELSE 0 END AS gn,
               CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS gs,
               CASE WHEN a.balb = b.balb THEN 1 ELSE 0 END AS gb,
               CASE WHEN a.id = b.id THEN 1 ELSE 0 END AS is_match
        FROM a JOIN b ON a.blk = b.blk),
      u AS (SELECT CAST(count(*) AS BIGINT) AS n_u,
                   CAST(sum(gn) AS BIGINT) AS un,
                   CAST(sum(gs) AS BIGINT) AS us,
                   CAST(sum(gb) AS BIGINT) AS ub
            FROM cand WHERE is_match = 0),
      w AS (SELECT
              CAST(round(ln(CAST((mn + 1) * (n_u + 2) AS DOUBLE) /
                            CAST((un + 1) * (n_m + 2) AS DOUBLE)) * 1e6) AS BIGINT) AS wn_a,
              CAST(round(ln(CAST((n_m + 1 - mn) * (n_u + 2) AS DOUBLE) /
                            CAST((n_u + 1 - un) * (n_m + 2) AS DOUBLE)) * 1e6) AS BIGINT) AS wn_d,
              CAST(round(ln(CAST((ms + 1) * (n_u + 2) AS DOUBLE) /
                            CAST((us + 1) * (n_m + 2) AS DOUBLE)) * 1e6) AS BIGINT) AS ws_a,
              CAST(round(ln(CAST((n_m + 1 - ms) * (n_u + 2) AS DOUBLE) /
                            CAST((n_u + 1 - us) * (n_m + 2) AS DOUBLE)) * 1e6) AS BIGINT) AS ws_d,
              CAST(round(ln(CAST((mb + 1) * (n_u + 2) AS DOUBLE) /
                            CAST((ub + 1) * (n_m + 2) AS DOUBLE)) * 1e6) AS BIGINT) AS wb_a,
              CAST(round(ln(CAST((n_m + 1 - mb) * (n_u + 2) AS DOUBLE) /
                            CAST((n_u + 1 - ub) * (n_m + 2) AS DOUBLE)) * 1e6) AS BIGINT) AS wb_d
            FROM m CROSS JOIN u)
      SELECT gn, gs, gb, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(is_match) AS BIGINT) AS n_match,
             (CASE WHEN gn = 1 THEN wn_a ELSE wn_d END +
              CASE WHEN gs = 1 THEN ws_a ELSE ws_d END +
              CASE WHEN gb = 1 THEN wb_a ELSE wb_d END) AS weight_micro
      FROM cand CROSS JOIN w
      GROUP BY gn, gs, gb, wn_a, wn_d, ws_a, ws_d, wb_a, wb_d
      ORDER BY gn, gs, gb"""))

  /** BLOCKING-QUALITY audit — the two numbers every entity-resolution
    * blocking scheme is judged by (Christen's standard evaluation):
    * REDUCTION RATIO (how much of the N² cross product the blocking
    * avoids) and PAIR COMPLETENESS (what fraction of true matches
    * still share a block — blocking recall). Two schemes side by
    * side: the [[fellegiSunter]] name-suffix blocking (uncorrupted
    * key → PC = 100%) and a tighter (suffix, nation) compound key,
    * where the 20% nation corruption knocks exactly the corrupted
    * records' matches out of their block — the classic RR↑/PC↓
    * trade made measurable. All counts exact BIGINT; the ppm ratios
    * floor-divide once.
    *
    * Scale shape: candidate counts come from per-block COUNT
    * aggregates cross-multiplied per block and summed — the pair
    * lists themselves are never materialized (the audit is
    * aggregate-sized even where the blocking would not be). */
  val blockingQuality: Q = Q(
    "q_blocking_quality",
    (s, dir) => {
      val a = regA(s, dir)
      val b = regB(a)
      val matches = keep(a.as("a").join(b.as("b"), col("a.id") === col("b.id"))
        .select(col("a.blk").as("blk_a"), col("b.blk").as("blk_b"),
          col("a.nation").as("na"), col("b.nation").as("nb")))
      val nTotal = a.count()
      def scheme(name: String, keyA: DataFrame, keyB: DataFrame,
          covered: Long): (String, Long, Long, Long) = {
        val ca = keyA.groupBy("k").agg(count(lit(1)).as("na"))
        val cb = keyB.groupBy("k").agg(count(lit(1)).as("nb"))
        val cand = ca.join(cb, "k")
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)))
          .head().getLong(0)
        (name, cand, nTotal, covered)
      }
      val coveredSuffix = matches.filter(col("blk_a") === col("blk_b")).count()
      val coveredCompound = matches.filter(col("blk_a") === col("blk_b") &&
        col("na") === col("nb")).count()
      val rows = Seq(
        scheme("suffix", a.select(col("blk").as("k")),
          b.select(col("blk").as("k")), coveredSuffix),
        scheme("suffix_nation",
          a.select(concat(col("blk"), lit(":"), col("nation")).as("k")),
          b.select(concat(col("blk"), lit(":"), col("nation")).as("k")),
          coveredCompound))
      matches.unpersist()
      import s.implicits._
      rows.toDF("scheme", "n_candidates", "n_matches", "covered")
        .select(col("scheme"), col("n_candidates"), col("n_matches"),
          col("covered"),
          expr(s"1000000 - (1000000 * n_candidates) div (${nTotal}L * ${nTotal}L)")
            .as("rr_ppm"),
          expr("(1000000 * covered) div n_matches").as("pc_ppm"))
        .coalesce(1).orderBy("scheme")
    },
    Some("""
      WITH a AS MATERIALIZED (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nation,
               substr(c_name, length(c_name) - 1, 2) AS blk
        FROM customer),
      b AS MATERIALIZED (
        SELECT id,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 1, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 2, 1))) % 100 < 20
                    THEN (nation + 1) % 25 ELSE nation END AS nation,
               blk
        FROM a),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM a),
      m AS (SELECT a.blk AS blk_a, b.blk AS blk_b, a.nation AS na, b.nation AS nb
            FROM a JOIN b USING (id)),
      s1 AS (SELECT 'suffix' AS scheme,
                    (SELECT CAST(coalesce(sum(ca.n * cb.n), 0) AS BIGINT)
                     FROM (SELECT blk AS k, CAST(count(*) AS BIGINT) AS n
                           FROM a GROUP BY 1) ca
                     JOIN (SELECT blk AS k, CAST(count(*) AS BIGINT) AS n
                           FROM b GROUP BY 1) cb USING (k)) AS n_candidates,
                    (SELECT n FROM nt) AS n_matches,
                    (SELECT CAST(count(*) AS BIGINT) FROM m
                     WHERE blk_a = blk_b) AS covered),
      s2 AS (SELECT 'suffix_nation' AS scheme,
                    (SELECT CAST(coalesce(sum(ca.n * cb.n), 0) AS BIGINT)
                     FROM (SELECT blk || ':' || CAST(nation AS VARCHAR) AS k,
                                  CAST(count(*) AS BIGINT) AS n
                           FROM a GROUP BY 1) ca
                     JOIN (SELECT blk || ':' || CAST(nation AS VARCHAR) AS k,
                                  CAST(count(*) AS BIGINT) AS n
                           FROM b GROUP BY 1) cb USING (k)) AS n_candidates,
                    (SELECT n FROM nt) AS n_matches,
                    (SELECT CAST(count(*) AS BIGINT) FROM m
                     WHERE blk_a = blk_b AND na = nb) AS covered)
      SELECT scheme, n_candidates, n_matches, covered,
             CAST(1000000 - (1000000 * n_candidates) //
               ((SELECT n FROM nt) * (SELECT n FROM nt)) AS BIGINT) AS rr_ppm,
             CAST((1000000 * covered) // n_matches AS BIGINT) AS pc_ppm
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
      ORDER BY scheme"""))

  /** One Winkler EM round over the 8-row agreement-pattern table
    * (Winkler 1988's unsupervised m/u estimation under conditional
    * independence). State is ppm BIGINTs; per pattern the posterior
    * match weight w(γ) = p·Π f_m / (p·Π f_m + (1−p)·Π f_u) is ONE
    * fixed-order IEEE chain from exact integer inputs (divide by 1e6
    * per factor, left-assoc multiply nation→seg→balb, one divide)
    * rounded ONCE to ppm — so the M-step sums Σ w·c, Σ γ_f·w·c, … are
    * exact integer arithmetic, order-independent, and the oracle
    * replays the identical chain. At sf ≥ 1 the Σ(1e6·w·c) products
    * approach BIGINT range — a cluster run normalizes c by the block
    * count first (the ratios are scale-free). */
  def winklerEmRound(pat: Seq[(Long, Long, Long, Long)],
      p: Long, m: Seq[Long], u: Seq[Long]): (Long, Seq[Long], Seq[Long]) = {
    def fac(g: Long, ppm: Long): Double =
      (if (g == 1L) ppm else 1000000L - ppm).toDouble / 1e6
    def wOf(gn: Long, gs: Long, gb: Long): Long = {
      val pm = p.toDouble / 1e6 *
        fac(gn, m(0)) * fac(gs, m(1)) * fac(gb, m(2))
      val pu = (1000000L - p).toDouble / 1e6 *
        fac(gn, u(0)) * fac(gs, u(1)) * fac(gb, u(2))
      BigDecimal(pm / (pm + pu) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val rows = pat.map { case (gn, gs, gb, c) =>
      (Seq(gn, gs, gb), c, wOf(gn, gs, gb))
    }
    val wSum = rows.map(r => r._3 * r._2).sum
    val dSum = rows.map(r => (1000000L - r._3) * r._2).sum
    val cSum = rows.map(_._2).sum
    val m2 = (0 to 2).map(i =>
      (1000000L * rows.map(r => r._1(i) * r._3 * r._2).sum) / wSum)
    val u2 = (0 to 2).map(i =>
      (1000000L * rows.map(r => r._1(i) * (1000000L - r._3) * r._2).sum) / dSum)
    (wSum / cSum, m2, u2)
  }

  /** UNSUPERVISED record linkage — the Winkler EM fixpoint replacing
    * [[fellegiSunter]]'s supervised m/u (which peeked at the id
    * equijoin): from the classic init (p=0.1, m=0.9, u=0.1), two
    * unrolled EM rounds over the blocked candidates' agreement
    * patterns estimate the match proportion and per-field m/u with NO
    * ground-truth labels. Emits per (round, field): m_ppm, u_ppm,
    * p_ppm, and the agreement weight ln(m/u) in micro-nats — so the
    * trajectory AND the final ranking ride the hash; LinkageSpec pins
    * that the EM weights recover the supervised weights' field
    * ranking on the same planted corruption.
    *
    * Scale shape: ONE aggregate off the blocked candidate join
    * collapses the corpus to 8 pattern counts (map-side combinable);
    * both EM rounds are arithmetic over that 8-row table — driver
    * work by construction (the [[graft.llm.Events]] UCB argument:
    * shipping an 8-row fold to executors would just round-trip it).
    * The blocked join is the same quadratic-only-within-block
    * candidate generation [[fellegiSunter]] documents. */
  val winklerEm: Q = Q(
    "q_linkage_em",
    (s, dir) => {
      val a = regA(s, dir)
      val b = regB(a)
      val pat = a.as("a").join(b.as("b"), col("a.blk") === col("b.blk"))
        .select(
          when(col("a.nation") === col("b.nation"), 1L).otherwise(0L).as("gn"),
          when(col("a.seg") === col("b.seg"), 1L).otherwise(0L).as("gs"),
          when(col("a.balb") === col("b.balb"), 1L).otherwise(0L).as("gb"))
        .groupBy("gn", "gs", "gb").agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val r1 = winklerEmRound(pat, 100000L,
        Seq(900000L, 900000L, 900000L), Seq(100000L, 100000L, 100000L))
      val r2 = winklerEmRound(pat, r1._1, r1._2, r1._3)
      def rows(rnd: Long, st: (Long, Seq[Long], Seq[Long])) =
        Seq("nation", "seg", "balb").zipWithIndex.map { case (f, i) =>
          val (mp, up) = (st._2(i), st._3(i))
          val wA = BigDecimal(math.log(mp.toDouble / up.toDouble) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (rnd, f, mp, up, st._1, wA)
        }
      import s.implicits._
      (rows(1L, r1) ++ rows(2L, r2))
        .toDF("rnd", "field", "m_ppm", "u_ppm", "p_ppm", "w_agree_micro")
        .coalesce(1).orderBy("rnd", "field")
    },
    Some("""
      WITH a AS MATERIALIZED (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS nation,
               c_mktsegment AS seg,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS balb,
               substr(c_name, length(c_name) - 1, 2) AS blk
        FROM customer),
      b AS MATERIALIZED (
        SELECT id,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 1, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 2, 1))) % 100 < 20
                    THEN (nation + 1) % 25 ELSE nation END AS nation,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 3, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 4, 1))) % 100 < 30
                    THEN 'UNKNOWN' ELSE seg END AS seg,
               CASE WHEN (ascii(substr(md5(CAST(id AS VARCHAR)), 5, 1)) * 256 +
                          ascii(substr(md5(CAST(id AS VARCHAR)), 6, 1))) % 100 < 25
                    THEN balb + 1 ELSE balb END AS balb,
               blk
        FROM a),
      pat AS MATERIALIZED (
        SELECT CAST(CASE WHEN a.nation = b.nation THEN 1 ELSE 0 END AS BIGINT) AS gn,
               CAST(CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS BIGINT) AS gs,
               CAST(CASE WHEN a.balb = b.balb THEN 1 ELSE 0 END AS BIGINT) AS gb,
               CAST(count(*) AS BIGINT) AS c
        FROM a JOIN b ON a.blk = b.blk
        GROUP BY 1, 2, 3),
      w1 AS (
        SELECT gn, gs, gb, c,
               CAST(round(pm / (pm + pu) * 1e6) AS BIGINT) AS w
        FROM (
          SELECT *,
            (CAST(100000 AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gn = 1 THEN 900000 ELSE 100000 END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gs = 1 THEN 900000 ELSE 100000 END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gb = 1 THEN 900000 ELSE 100000 END AS DOUBLE) / 1e6)
              AS pm,
            (CAST(900000 AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gn = 1 THEN 100000 ELSE 900000 END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gs = 1 THEN 100000 ELSE 900000 END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gb = 1 THEN 100000 ELSE 900000 END AS DOUBLE) / 1e6)
              AS pu
          FROM pat)),
      r1 AS (
        SELECT
          CAST((1000000 * sum(gn * w * c)) // sum(w * c) AS BIGINT) AS mn,
          CAST((1000000 * sum(gs * w * c)) // sum(w * c) AS BIGINT) AS ms,
          CAST((1000000 * sum(gb * w * c)) // sum(w * c) AS BIGINT) AS mb,
          CAST((1000000 * sum(gn * (1000000 - w) * c)) //
               sum((1000000 - w) * c) AS BIGINT) AS un,
          CAST((1000000 * sum(gs * (1000000 - w) * c)) //
               sum((1000000 - w) * c) AS BIGINT) AS us,
          CAST((1000000 * sum(gb * (1000000 - w) * c)) //
               sum((1000000 - w) * c) AS BIGINT) AS ub,
          CAST(sum(w * c) // sum(c) AS BIGINT) AS p
        FROM w1),
      w2 AS (
        SELECT gn, gs, gb, c,
               CAST(round(pm / (pm + pu) * 1e6) AS BIGINT) AS w
        FROM (
          SELECT pat.gn, pat.gs, pat.gb, pat.c,
            (CAST(r1.p AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gn = 1 THEN r1.mn ELSE 1000000 - r1.mn END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gs = 1 THEN r1.ms ELSE 1000000 - r1.ms END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gb = 1 THEN r1.mb ELSE 1000000 - r1.mb END AS DOUBLE) / 1e6)
              AS pm,
            (CAST(1000000 - r1.p AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gn = 1 THEN r1.un ELSE 1000000 - r1.un END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gs = 1 THEN r1.us ELSE 1000000 - r1.us END AS DOUBLE) / 1e6)
              * (CAST(CASE WHEN gb = 1 THEN r1.ub ELSE 1000000 - r1.ub END AS DOUBLE) / 1e6)
              AS pu
          FROM pat CROSS JOIN r1)),
      r2 AS (
        SELECT
          CAST((1000000 * sum(gn * w * c)) // sum(w * c) AS BIGINT) AS mn,
          CAST((1000000 * sum(gs * w * c)) // sum(w * c) AS BIGINT) AS ms,
          CAST((1000000 * sum(gb * w * c)) // sum(w * c) AS BIGINT) AS mb,
          CAST((1000000 * sum(gn * (1000000 - w) * c)) //
               sum((1000000 - w) * c) AS BIGINT) AS un,
          CAST((1000000 * sum(gs * (1000000 - w) * c)) //
               sum((1000000 - w) * c) AS BIGINT) AS us,
          CAST((1000000 * sum(gb * (1000000 - w) * c)) //
               sum((1000000 - w) * c) AS BIGINT) AS ub,
          CAST(sum(w * c) // sum(c) AS BIGINT) AS p
        FROM w2),
      stacked AS (
        SELECT CAST(1 AS BIGINT) AS rnd, 'nation' AS field,
               mn AS m_ppm, un AS u_ppm, p AS p_ppm FROM r1
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'seg', ms, us, p FROM r1
        UNION ALL
        SELECT CAST(1 AS BIGINT), 'balb', mb, ub, p FROM r1
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'nation', mn, un, p FROM r2
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'seg', ms, us, p FROM r2
        UNION ALL
        SELECT CAST(2 AS BIGINT), 'balb', mb, ub, p FROM r2)
      SELECT rnd, field, m_ppm, u_ppm, p_ppm,
             CAST(round(ln(CAST(m_ppm AS DOUBLE) / CAST(u_ppm AS DOUBLE))
               * 1e6) AS BIGINT) AS w_agree_micro
      FROM stacked
      ORDER BY rnd, field"""))

  val all: Seq[Q] = Seq(fellegiSunter, blockingQuality, winklerEm)
}
