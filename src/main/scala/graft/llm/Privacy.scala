package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Privacy-preserving release primitives — what sits between a
  * 100 TB events store and anything that leaves it: differentially
  * private noisy counts and k-anonymity suppression audits. The
  * reference publishes raw aggregates; these are the operators a
  * production release pipeline adds on top.
  */
object Privacy {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Differentially-private daily event histogram under the Laplace
    * mechanism (ε = 1, sensitivity 1 ⇒ scale b = 1), made
    * hash-oracled by DERANDOMIZING the noise draw the way the repo's
    * sampling queries derandomize coins ([[Curation]]'s md5 per-mille
    * coin): u is 16 bits of md5(cell key), the inverse-CDF transform
    * s = 2·(u+½)/2¹⁶ − 1, noise = −sign(s)·ln(1−|s|), rounded once to
    * integer micro-units. One ln per CELL (not per row), identical
    * expression text both engines — the established single-IEEE-op
    * contract. (A production deployment would swap the md5 seed for a
    * secret per-release key; the MECHANISM — per-cell inverse-CDF
    * Laplace, post-aggregation, sensitivity-calibrated — is what this
    * operator implements.)
    *
    * Scale shape: the true histogram is one hash aggregate with
    * map-side combine; the noise is a row-local expression on the
    * CELL table (days × types, vocabulary-sized). Nothing else
    * shuffles. */
  val dpCounts: Q = Q(
    "q_dp_counts",
    (s, dir) => {
      def nib(c: org.apache.spark.sql.Column, i: Int) = {
        val a = ascii(substring(c, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val cells = t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("true_n"))
      val hex = md5(concat(col("event_type"), lit("|"),
        date_format(col("day"), "yyyy-MM-dd")).cast("binary"))
      val u = ((nib(hex, 1) * 16 + nib(hex, 2)) * 16 + nib(hex, 3)) * 16 + nib(hex, 4)
      val sgn = (lit(2.0) * (u.cast("double") + 0.5) / 65536.0) - 1.0
      val noise = round(
        when(sgn < 0, log(lit(1.0) + sgn)).otherwise(-log(lit(1.0) - sgn)) * 1e6, 0)
        .cast("long")
      cells.select(col("day"), col("event_type"), col("true_n"),
          (col("true_n") * 1000000L + noise).as("noisy_micro"))
        .orderBy("day", "event_type")
    },
    Some("""
      WITH cells AS (
        SELECT date_trunc('day', ts) AS day, event_type,
               CAST(count(*) AS BIGINT) AS true_n
        FROM events GROUP BY 1, 2),
      seeded AS (
        SELECT *,
               md5(event_type || '|' || strftime(day, '%Y-%m-%d')) AS hex
        FROM cells),
      drawn AS (
        SELECT day, event_type, true_n,
               2.0 * (((
                 (ascii(substr(hex, 1, 1)) - CASE WHEN ascii(substr(hex, 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
                 (ascii(substr(hex, 2, 1)) - CASE WHEN ascii(substr(hex, 2, 1)) >= 97 THEN 87 ELSE 48 END)) * 16 +
                 (ascii(substr(hex, 3, 1)) - CASE WHEN ascii(substr(hex, 3, 1)) >= 97 THEN 87 ELSE 48 END)) * 16 +
                 (ascii(substr(hex, 4, 1)) - CASE WHEN ascii(substr(hex, 4, 1)) >= 97 THEN 87 ELSE 48 END)
                 + 0.5) / 65536.0 - 1.0 AS s
        FROM seeded)
      SELECT day, event_type, true_n,
             true_n * 1000000 +
               CAST(round(CASE WHEN s < 0 THEN ln(1.0 + s)
                               ELSE -ln(1.0 - s) END * 1e6) AS BIGINT)
               AS noisy_micro
      FROM drawn ORDER BY day, event_type"""))

  /** k-anonymity audit over the quasi-identifier (market segment,
    * nation): every equivalence class with fewer than k = 10 members
    * must be SUPPRESSED before release. Emits per-class sizes with
    * the release decision plus the suppression tally — the audit
    * artifact a release gate signs off on. One hash aggregate; the
    * class table is QI-cardinality. */
  val kAnonymity: Q = Q(
    "q_k_anonymity",
    (s, dir) => {
      val k = 10L
      val classes = t(s, dir, "customer")
        .groupBy(col("c_mktsegment").as("segment"), col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("class_n"))
      classes
        .select(col("segment"), col("nation"), col("class_n"),
          when(col("class_n") < k, 1L).otherwise(0L).as("suppressed"))
        .orderBy("segment", "nation")
    },
    Some("""
      SELECT c_mktsegment AS segment,
             CAST(c_nationkey AS BIGINT) AS nation,
             CAST(count(*) AS BIGINT) AS class_n,
             CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT) AS suppressed
      FROM customer
      GROUP BY c_mktsegment, c_nationkey
      ORDER BY segment, nation"""))

  /** Differentially-private MEDIAN per event_type under the
    * EXPONENTIAL mechanism (McSherry–Talwar), derandomized like
    * [[dpCounts]]: candidates are the group's distinct cent values,
    * utility u(c) = −|2·#below(c) + #eq(c) − n| (how far c's span
    * sits from the true middle, in ranks — integer, sensitivity 2),
    * weight ∝ exp(ε·u/4) rounded to micro-units, and the draw picks
    * the first candidate whose cumulative weight passes a 16-bit
    * md5(event_type) coin scaled onto the exact total. Everything
    * after the one libm `exp` is BIGINT arithmetic — cumulative sums,
    * the coin cross-multiplication, the argmin — so both engines walk
    * the identical selection, and the driver hash certifies the whole
    * mechanism, not just its output shape.
    *
    * Scale shape: candidates form the group's DISTINCT-VALUE table
    * (the winsorize/quantile-bin precedent — group-cardinality, not
    * corpus-cardinality); the rank prefix-sum is a window over that
    * table partitioned by group; the coin join is per-group 1-row.
    * exp's concentration does the statistical work: candidates far
    * from the median round to weight 0 and never win. */
  /** Core mechanism over any (event_type, c) value frame — factored
    * so tests can feed hand-built distributions. */
  def dpMedianOf(vals: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      def nib(c: org.apache.spark.sql.Column, i: Int) = {
        val a = ascii(substring(c, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val cand = vals.groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      val byVal = Window.partitionBy("event_type").orderBy("c")
      val scored = cand
        .withColumn("below", coalesce(sum(col("cnt")).over(
          byVal.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy("event_type")))
        .withColumn("w_micro",
          round(exp(lit(0.025) *
            -abs(lit(2) * col("below") + col("cnt") - col("n"))) * 1e6, 0)
            .cast("long"))
        .withColumn("cumw", sum(col("w_micro")).over(
          byVal.rowsBetween(Window.unboundedPreceding, 0)))
      val hex = md5(col("event_type").cast("binary"))
      val u16 = ((nib(hex, 1) * 16 + nib(hex, 2)) * 16 + nib(hex, 3)) * 16 + nib(hex, 4)
      val drawn = scored
        .withColumn("total_w", max(col("cumw")).over(
          Window.partitionBy("event_type")))
        .withColumn("coin_num", u16.cast("long") * col("total_w"))
        // integer division — Spark's `/` is double division, and the
        // numerator can exceed 2^53 where doubles drop ulps
        .withColumn("target", expr("coin_num div 65536"))
        .filter(col("cumw") > col("target"))
      drawn.groupBy("event_type")
        .agg(min(col("c")).as("dp_median_cents"),
          max(col("n")).as("n_rows"),
          max(col("total_w")).as("weight_total_micro"))
        .orderBy("event_type")
  }

  val dpMedian: Q = Q(
    "q_dp_median",
    (s, dir) =>
      dpMedianOf(t(s, dir, "events")
        .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("c"))),
    Some("""
      WITH vals AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
      cand AS (
        SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
        FROM vals GROUP BY 1, 2),
      scored AS (
        SELECT *,
               CAST(coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
               CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM cand),
      weighted AS (
        SELECT *,
               CAST(round(exp(0.025 * -abs(2 * below + cnt - n)) * 1e6) AS BIGINT)
                 AS w_micro
        FROM scored),
      cum AS (
        SELECT *,
               CAST(sum(w_micro) OVER (PARTITION BY event_type ORDER BY c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
               CAST(sum(w_micro) OVER (PARTITION BY event_type) AS BIGINT) AS total_w
        FROM weighted),
      coin AS (
        SELECT *,
               ((((ascii(substr(md5(event_type), 1, 1)) - CASE WHEN ascii(substr(md5(event_type), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
                  (ascii(substr(md5(event_type), 2, 1)) - CASE WHEN ascii(substr(md5(event_type), 2, 1)) >= 97 THEN 87 ELSE 48 END)) * 16 +
                  (ascii(substr(md5(event_type), 3, 1)) - CASE WHEN ascii(substr(md5(event_type), 3, 1)) >= 97 THEN 87 ELSE 48 END)) * 16 +
                  (ascii(substr(md5(event_type), 4, 1)) - CASE WHEN ascii(substr(md5(event_type), 4, 1)) >= 97 THEN 87 ELSE 48 END))
                 * total_w // 65536 AS target
        FROM cum)
      SELECT event_type,
             CAST(min(c) FILTER (WHERE cumw > target) AS BIGINT) AS dp_median_cents,
             CAST(max(n) AS BIGINT) AS n_rows,
             CAST(max(total_w) AS BIGINT) AS weight_total_micro
      FROM coin
      GROUP BY event_type ORDER BY event_type"""))

  /** l-DIVERSITY audit — the release gate k-anonymity alone cannot
    * provide: a class can have 10+ members (k-anonymous) while every
    * member shares ONE sensitive value, so membership still discloses
    * it (the homogeneity attack). Per QI class (segment, nation) over
    * the sensitive attribute (order priority of the customer's
    * orders), BOTH classic variants:
    *
    *  - distinct l-diversity: ≥ L well-represented sensitive values;
    *  - entropy l-diversity: −Σ pᵢ ln pᵢ ≥ ln L, evaluated in exact
    *    integer micro-nats via ln n − (Σ cᵢ·round(ln cᵢ·10⁶)) div n —
    *    the [[graft.llm.Classifier]] log recipe, so the entropy and
    *    the release decision ride the driver hash.
    *
    * L = 3; a class releases only if BOTH hold (entropy implies a
    * skew guard distinct-count misses: 98 'URGENT' + 1 each of two
    * others passes distinct-3 but fails entropy-ln 3). Classes are
    * customers WITH orders (the sensitive attribute exists only
    * there). Scale shape: one join shuffled on custkey, a
    * (QI × sensitive)-cardinality aggregate, then a QI-cardinality
    * aggregate — nothing corpus² anywhere. */
  /** Core audit over any (segment, nation, sv) frame — factored for
    * the homogeneity-attack spec. */
  def lDiversityOf(joined: DataFrame): DataFrame = {
      val svc = joined.groupBy("segment", "nation", "sv")
        .agg(count(lit(1)).as("c"))
      svc.groupBy("segment", "nation")
        .agg(sum(col("c")).as("class_n"),
          count(lit(1)).as("distinct_l"),
          sum(col("c") *
            round(log(col("c").cast("double")) * 1e6, 0).cast("long"))
            .as("sclnc"))
        .select(col("segment"), col("nation"), col("class_n"),
          col("distinct_l"),
          (round(log(col("class_n").cast("double")) * 1e6, 0).cast("long") -
            expr("sclnc div class_n")).as("entropy_micro"))
        .withColumn("released",
          col("distinct_l") >= 3 && col("entropy_micro") >= 1098612L)
        .orderBy("segment", "nation")
  }

  val lDiversity: Q = Q(
    "q_l_diversity",
    (s, dir) => lDiversityOf(
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("c_nationkey").cast("long").as("nation"),
          col("o_orderpriority").as("sv"))),
    Some("""
      WITH j AS (
        SELECT c_mktsegment AS segment,
               CAST(c_nationkey AS BIGINT) AS nation,
               o_orderpriority AS sv
        FROM customer JOIN orders ON c_custkey = o_custkey),
      svc AS (
        SELECT segment, nation, sv, CAST(count(*) AS BIGINT) AS c
        FROM j GROUP BY segment, nation, sv),
      cls AS (
        SELECT segment, nation,
               CAST(sum(c) AS BIGINT) AS class_n,
               CAST(count(*) AS BIGINT) AS distinct_l,
               CAST(sum(c * CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
                 AS BIGINT) AS sclnc
        FROM svc GROUP BY segment, nation)
      SELECT segment, nation, class_n, distinct_l,
             CAST(CAST(round(ln(CAST(class_n AS DOUBLE)) * 1e6) AS BIGINT)
               - sclnc // class_n AS BIGINT) AS entropy_micro,
             (distinct_l >= 3 AND
              CAST(round(ln(CAST(class_n AS DOUBLE)) * 1e6) AS BIGINT)
               - sclnc // class_n >= 1098612) AS released
      FROM cls
      ORDER BY segment, nation"""))

  /** t-CLOSENESS audit — the third rung of the anonymity ladder
    * (k-anonymity bounds class size, [[lDiversity]] bounds sensitive
    * variety, t-closeness bounds sensitive SKEW): per QI class
    * (segment, nation), the Earth-Mover's Distance between the
    * class-conditional distribution of the ORDERED sensitive
    * attribute (account-balance bucket) and the global distribution
    * must not exceed t — the defense against the proximity attack
    * l-diversity misses (a class whose balances are all "high"
    * leaks even with many distinct values).
    *
    * For an ordered attribute with m buckets, EMD = Σ|cumulative
    * difference| / (m−1). EXACT: the class cumulative runs over the
    * GLOBAL bucket grid (a class missing a bucket carries its prior
    * cumulative), and the per-boundary term is the BIGINT
    * cross-product |cum_c·N − cum_g·n_c|; the t = 0.2 release test
    * cross-multiplies to 5·emd_num ≤ N·n_c·(m−1) — no division
    * anywhere. Envelope: emd_num ≤ m·n_c·N ≈ 10¹⁰ at sf0.1.
    *
    * Scale shape: one (class × bucket) aggregate (domain-bounded),
    * the global distribution broadcast back onto the grid, a
    * class-partitioned cumulative window over the BUCKET-domain
    * grid (the winsorize envelope — never corpus rows), and a
    * class-keyed rollup. */
  /** Core audit over any (segment, nation, balb) frame — factored so
    * PrivacySpec can plant hand distributions. */
  def tClosenessOf(rows: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val classes = rows.groupBy("segment", "nation")
        .agg(count(lit(1)).as("class_n"))
      val buckets = rows.groupBy("balb").agg(count(lit(1)).as("g"))
      // the bucket domain is the cents-div-100000 image of the
      // acctbal range (≤ a dozen values); the count guard makes that
      // a CHECKED invariant and the limit makes the bound PROVABLE in
      // the plan (the registry cross-join sweep requires maxRows on a
      // condition-less join side) — truncation can never silently
      // engage past the throw
      val nBuckets = buckets.count()
      Audit.check("sensitive-bucket domain size (grid bound)", nBuckets, Audit.atMost(64))
      val grid = classes.select("segment", "nation", "class_n")
        .crossJoin(broadcast(buckets.limit(64)))
      val cellc = rows.groupBy("segment", "nation", "balb")
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("segment", "nation").orderBy("balb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.join(cellc, Seq("segment", "nation", "balb"), "left")
        .select(col("segment"), col("nation"), col("balb"), col("class_n"),
          sum(coalesce(col("c"), lit(0L))).over(w).as("cum_c"),
          sum(col("g")).over(w).as("cum_g"))
      val tot = buckets.agg(sum(col("g")).as("n_total"),
        (count(lit(1)) - 1).as("m1"))
      cum.crossJoin(broadcast(tot))
        // the last boundary always has cum_c*N == cum_g*n_c; summing
        // over all m rows rather than m-1 adds an exact zero
        .groupBy("segment", "nation")
        .agg(max(col("class_n")).as("class_n"),
          sum(abs(col("cum_c") * col("n_total") - col("cum_g") * col("class_n")))
            .as("emd_num"),
          max(col("n_total")).as("n_total"), max(col("m1")).as("m1"))
        .select(col("segment"), col("nation"), col("class_n"), col("emd_num"),
          (lit(5L) * col("emd_num") <=
            col("n_total") * col("class_n") * col("m1")).as("released"))
        .orderBy("segment", "nation")
  }

  val tCloseness: Q = Q(
    "q_t_closeness",
    (s, dir) => tClosenessOf(
      t(s, dir, "customer").select(
        col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("balb"))),
    Some("""
      WITH rows_ AS (
        SELECT c_mktsegment AS segment,
               CAST(c_nationkey AS BIGINT) AS nation,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS balb
        FROM customer),
      classes AS (
        SELECT segment, nation, CAST(count(*) AS BIGINT) AS class_n
        FROM rows_ GROUP BY segment, nation),
      buckets AS (
        SELECT balb, CAST(count(*) AS BIGINT) AS g
        FROM rows_ GROUP BY balb),
      cellc AS (
        SELECT segment, nation, balb, CAST(count(*) AS BIGINT) AS c
        FROM rows_ GROUP BY segment, nation, balb),
      grid AS (
        SELECT cl.segment, cl.nation, cl.class_n, b.balb, b.g,
               CAST(coalesce(cc.c, 0) AS BIGINT) AS c
        FROM classes cl CROSS JOIN buckets b
        LEFT JOIN cellc cc ON cc.segment = cl.segment
          AND cc.nation = cl.nation AND cc.balb = b.balb),
      cum AS (
        SELECT segment, nation, class_n,
               CAST(sum(c) OVER (PARTITION BY segment, nation ORDER BY balb
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_c,
               CAST(sum(g) OVER (PARTITION BY segment, nation ORDER BY balb
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g
        FROM grid),
      tot AS (SELECT CAST(sum(g) AS BIGINT) AS n_total,
                     CAST(count(*) - 1 AS BIGINT) AS m1 FROM buckets)
      SELECT segment, nation, CAST(max(class_n) AS BIGINT) AS class_n,
             CAST(sum(abs(cum_c * n_total - cum_g * class_n)) AS BIGINT) AS emd_num,
             5 * CAST(sum(abs(cum_c * n_total - cum_g * class_n)) AS BIGINT) <=
               max(n_total) * max(class_n) * max(m1) AS released
      FROM cum CROSS JOIN tot
      GROUP BY segment, nation
      ORDER BY segment, nation"""))

  /** MONDRIAN k-ANONYMIZATION (LeFevre et al., ICDE 2006) — the
    * TRANSFORM the three audits above judge: greedy top-down
    * multidimensional partitioning of the (nation, balance-bucket)
    * QI space. Each level, every live partition picks its WIDER
    * dimension (range compare, ties to nation), splits at the lower
    * median (smallest value whose cumulative count reaches half),
    * and keeps the split only if BOTH halves hold ≥ k records —
    * otherwise the partition is final and its QI box becomes the
    * generalized release value. [[MondrianDepth]] unrolled levels
    * bound the recursion (2^depth leaves ≥ any k-feasible partition
    * count); the k-invariant (every leaf ≥ k) is the in-query abort.
    *
    * Fully hash-oracled: the oracle unrolls the same levels as
    * generated CTEs — per level one stats aggregate per partition,
    * one distinct-value cumulative window PER DIMENSION (the
    * winsorize envelope: value-domain, never corpus rows), and a
    * branchless reassignment pid → 2·pid + side. Spark runs the
    * identical level loop with checkpointed lineage.
    *
    * Scale shape: each level is one map-side-combinable stats
    * aggregate + one (partition × value)-domain window + one
    * broadcast-joined reassignment over the record frame — depth is
    * a constant, so the whole anonymizer is O(depth) scans, no
    * quadratic anything, and the release table is leaf-domain. */
  val MondrianK = 25
  val MondrianDepth = 6

  /** One Mondrian level over (id, d1, d2, pid): returns the frame
    * with pid advanced (2·pid + side; unsplit partitions keep side 0
    * and are re-labeled 2·pid for uniqueness). */
  private def mondrianLevel(cur: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = cur.groupBy("pid").agg(count(lit(1)).as("n"),
      min(col("d1")).as("lo1"), max(col("d1")).as("hi1"),
      min(col("d2")).as("lo2"), max(col("d2")).as("hi2"))
      .withColumn("dim",
        when(col("hi1") - col("lo1") >= col("hi2") - col("lo2"), 1L)
          .otherwise(2L))
    def medianOf(dim: Int): DataFrame = {
      val vals = cur.groupBy("pid",  s"d$dim").agg(count(lit(1)).as("c"))
        .withColumnRenamed(s"d$dim", "v")
      val w = Window.partitionBy("pid").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vals.withColumn("cum", sum(col("c")).over(w))
        .join(stats.select("pid", "n"), "pid")
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("pid").agg(min(struct(col("v"), col("cum"))).as("mv"))
        .select(col("pid"), col("mv.v").as(s"m$dim"),
          col("mv.cum").as(s"left$dim"))
    }
    val meta = stats
      .join(medianOf(1), Seq("pid"), "left")
      .join(medianOf(2), Seq("pid"), "left")
      .select(col("pid"), col("dim"), col("n"),
        when(col("dim") === 1L, col("m1")).otherwise(col("m2")).as("m"),
        when(col("dim") === 1L, col("left1")).otherwise(col("left2"))
          .as("nleft"))
      .withColumn("valid",
        col("nleft") >= k && col("n") - col("nleft") >= k)
    cur.join(broadcast(meta), "pid")
      .select(col("id"), col("d1"), col("d2"),
        (col("pid") * 2 + when(col("valid") &&
          when(col("dim") === 1L, col("d1")).otherwise(col("d2")) > col("m"),
          1L).otherwise(0L)).as("pid"))
  }

  /** The full anonymizer over an (id, d1, d2) frame: returns the
    * leaf release (QI boxes + counts). Factored for PrivacySpec. */
  def mondrianOf(rows: DataFrame, k: Int = MondrianK,
      depth: Int = MondrianDepth): DataFrame = {
    var cur = rows.select(col("id"), col("d1"), col("d2"),
      lit(0L).as("pid"))
    for (_ <- 1 to depth)
      cur = graft.Checkpoints.cut(mondrianLevel(cur, k), eager = false)
    cur.groupBy("pid").agg(count(lit(1)).as("n"),
        min(col("d1")).as("nation_lo"), max(col("d1")).as("nation_hi"),
        min(col("d2")).as("balb_lo"), max(col("d2")).as("balb_hi"))
      .select(col("pid"), col("n"), col("nation_lo"), col("nation_hi"),
        col("balb_lo"), col("balb_hi"))
      .orderBy("pid")
  }

  val mondrian: Q = Q(
    "q_mondrian",
    (s, dir) => {
      val rows = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_nationkey").cast("long").as("d1"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("d2"))
      val out = keep(mondrianOf(rows))
      val tooSmall = out.filter(col("n") < MondrianK).count()
      Audit.check(s"Mondrian leaves below k=$MondrianK", tooSmall, Audit.equal(0))
      val rows2 = out.collect()
      out.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows2.toIndexedSeq, 1),
        out.schema).orderBy("pid")
    },
    Some(s"""
      WITH p0 AS MATERIALIZED (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS d1,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS d2,
               CAST(0 AS BIGINT) AS pid
        FROM customer),
      ${(1 to MondrianDepth).map(l => mondrianLevelCte(l, MondrianK))
        .mkString(",\n      ")}
      SELECT pid, CAST(count(*) AS BIGINT) AS n,
             CAST(min(d1) AS BIGINT) AS nation_lo,
             CAST(max(d1) AS BIGINT) AS nation_hi,
             CAST(min(d2) AS BIGINT) AS balb_lo,
             CAST(max(d2) AS BIGINT) AS balb_hi
      FROM p$MondrianDepth
      GROUP BY pid ORDER BY pid"""))

  /** One generated Mondrian level (oracle-only): stats → per-dim
    * lower medians → validity → branchless reassignment. */
  private def mondrianLevelCte(l: Int, k: Int): String = {
    val p = l - 1
    s"""st$l AS MATERIALIZED (
        SELECT pid, CAST(count(*) AS BIGINT) AS n,
               min(d1) AS lo1, max(d1) AS hi1,
               min(d2) AS lo2, max(d2) AS hi2,
               CASE WHEN max(d1) - min(d1) >= max(d2) - min(d2)
                    THEN 1 ELSE 2 END AS dim
        FROM p$p GROUP BY pid),
      md1_$l AS MATERIALIZED (
        SELECT pid, min(v) AS m1,
               min_by(cum, v) AS left1
        FROM (SELECT c.pid, c.v, c.cum, s.n
              FROM (SELECT pid, d1 AS v,
                           CAST(sum(count(*)) OVER (PARTITION BY pid ORDER BY d1
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                    FROM p$p GROUP BY pid, d1) c
              JOIN st$l s USING (pid)
              WHERE c.cum * 2 >= s.n)
        GROUP BY pid),
      md2_$l AS MATERIALIZED (
        SELECT pid, min(v) AS m2,
               min_by(cum, v) AS left2
        FROM (SELECT c.pid, c.v, c.cum, s.n
              FROM (SELECT pid, d2 AS v,
                           CAST(sum(count(*)) OVER (PARTITION BY pid ORDER BY d2
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                    FROM p$p GROUP BY pid, d2) c
              JOIN st$l s USING (pid)
              WHERE c.cum * 2 >= s.n)
        GROUP BY pid),
      meta$l AS MATERIALIZED (
        SELECT s.pid, s.dim, s.n,
               CASE WHEN s.dim = 1 THEN a.m1 ELSE b.m2 END AS m,
               CASE WHEN s.dim = 1 THEN a.left1 ELSE b.left2 END AS nleft
        FROM st$l s
        LEFT JOIN md1_$l a ON a.pid = s.pid
        LEFT JOIN md2_$l b ON b.pid = s.pid),
      p$l AS MATERIALIZED (
        SELECT p.id, p.d1, p.d2,
               p.pid * 2 + CASE WHEN m.nleft >= $k AND m.n - m.nleft >= $k
                 AND (CASE WHEN m.dim = 1 THEN p.d1 ELSE p.d2 END) > m.m
                 THEN 1 ELSE 0 END AS pid
        FROM p$p p JOIN meta$l m ON m.pid = p.pid)"""
  }

  /** MONDRIAN UTILITY readout — the two standard anonymization
    * utility metrics over [[mondrian]]'s release, making the
    * k-vs-utility trade a number instead of a feeling:
    * DISCERNIBILITY = Σ n_leaf² (each record pays the size of the
    * crowd it hides in; the all-in-one-leaf release maxes it at n²),
    * and NORMALIZED CERTAINTY PENALTY = Σ n·avg_dim(box_width /
    * global_width) — how much of each QI axis a released box smears
    * across. Exact: ncp_num = Σ n·(w1·W2 + w2·W1) over the constant
    * denominator 2·W1·W2 (emitted alongside); dm is a pure BIGINT
    * sum. One row; leaf-domain work on top of the anonymizer's own
    * scans. */
  val mondrianUtility: Q = Q(
    "q_mondrian_utility",
    (s, dir) => {
      val rows = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_nationkey").cast("long").as("d1"),
        expr("cast(round(c_acctbal * 100) as bigint) div 100000").as("d2"))
      val glob = rows.agg(
        (max(col("d1")) - min(col("d1"))).as("w1t"),
        (max(col("d2")) - min(col("d2"))).as("w2t")).limit(1)
      mondrianOf(rows)
        .crossJoin(broadcast(glob))
        .agg(count(lit(1)).as("n_leaves"),
          sum(col("n") * col("n")).as("dm"),
          sum(col("n") * ((col("nation_hi") - col("nation_lo")) * col("w2t") +
            (col("balb_hi") - col("balb_lo")) * col("w1t"))).as("ncp_num"),
          max(lit(2L) * col("w1t") * col("w2t")).as("ncp_den"))
        .select(col("n_leaves"), col("dm"), col("ncp_num"), col("ncp_den"),
          expr("(1000000 * ncp_num) div ncp_den").as("ncp_ppm_per_rec"))
    },
    Some(s"""
      WITH p0 AS MATERIALIZED (
        SELECT c_custkey AS id, CAST(c_nationkey AS BIGINT) AS d1,
               CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS d2,
               CAST(0 AS BIGINT) AS pid
        FROM customer),
      ${(1 to MondrianDepth).map(l => mondrianLevelCte(l, MondrianK))
        .mkString(",\n      ")},
      leaves AS (
        SELECT pid, CAST(count(*) AS BIGINT) AS n,
               CAST(min(d1) AS BIGINT) AS lo1, CAST(max(d1) AS BIGINT) AS hi1,
               CAST(min(d2) AS BIGINT) AS lo2, CAST(max(d2) AS BIGINT) AS hi2
        FROM p$MondrianDepth GROUP BY pid),
      gw AS (SELECT CAST(max(d1) - min(d1) AS BIGINT) AS w1t,
                     CAST(max(d2) - min(d2) AS BIGINT) AS w2t FROM p0)
      SELECT CAST(count(*) AS BIGINT) AS n_leaves,
             CAST(sum(n * n) AS BIGINT) AS dm,
             CAST(sum(n * ((hi1 - lo1) * w2t + (hi2 - lo2) * w1t)) AS BIGINT)
               AS ncp_num,
             CAST(max(2 * w1t * w2t) AS BIGINT) AS ncp_den,
             CAST((1000000 * sum(n * ((hi1 - lo1) * w2t + (hi2 - lo2) * w1t)))
               // max(2 * w1t * w2t) AS BIGINT) AS ncp_ppm_per_rec
      FROM leaves CROSS JOIN gw"""))

  val all: Seq[Q] = Seq(dpCounts, kAnonymity, dpMedian, lDiversity, tCloseness,
    mondrian, mondrianUtility)
}
