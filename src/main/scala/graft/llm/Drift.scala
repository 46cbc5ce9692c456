package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.keep

/** Embedding-distribution drift monitoring — the check a production
  * pipeline runs when a new embedding batch lands (model swap, corpus
  * shift, broken preprocessing): per-dimension Population Stability
  * Index between two shards, PSI_d = Σ_bins (p−q)·ln(p/q), with
  * equal-width bins from the global per-dimension range.
  *
  * Determinism is the repo's exact-rational recipe: with add-1 bin
  * smoothing, p−q over common denominator (nA+B)(nB+B) has the exact
  * BIGINT numerator (cA+1)(nB+B) − (cB+1)(nA+B), and ln(p/q) =
  * ln((cA+1)(nB+B) / ((cB+1)(nA+B))) is one IEEE ln of a ratio of
  * exact BIGINT cross products, rounded once to micro-nats — so each
  * bin term is a product of two engine-identical integers and the
  * hash pins every per-dimension PSI numerator exactly. The shard
  * coin is an md5 per-bit on vec_id hex chars 5–6 (disjoint from
  * [[Ivf.trainingSample]]'s 1–4); bin edges derive from exact
  * per-dimension float min/max via one double multiply/divide — the
  * same single-IEEE-op contract both engines honor.
  *
  * Scale shape: narrow posexplode passes (scan-shaped, like the token
  * explode every text query does), map-side-combinable counts keyed
  * by (dim, bin, shard) — the shuffle carries at most dims×bins×2
  * rows — then per-dimension totals join back onto the persisted
  * counts table. Nothing corpus-sized shuffles; a 100 TB embedding
  * lake pays TWO scans — one to discover per-dimension ranges, one to
  * bin (a production monitor that pins bin edges from a reference
  * snapshot collapses it to one). Overflow: bin
  * counts ≤ corpus rows n, numerators are O(n²·ln_micro) ≤ ~10¹⁸ at
  * n ≈ 3·10⁵ per shard pair — beyond that, pre-divide the cross
  * products (documented envelope, ANSI raises rather than corrupts). */
object Drift {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** md5 parity coin on vec_id hex chars 5–6 — shard A membership. */
  private[graft] def shardA: org.apache.spark.sql.Column = {
    val hex = md5(col("vec_id").cast("string").cast("binary"))
    (ascii(substring(hex, 5, 1)) * 256 + ascii(substring(hex, 6, 1))) % 2 === 0
  }

  /** Per-dimension PSI between two embedding shards of `emb`
    * (columns: vec_id, embedding). Factored so DriftSpec can plant a
    * genuinely shifted dimension and watch only that PSI move. */
  private[graft] def psi(emb: DataFrame, bins: Int = 10): DataFrame = {
      val cells = emb
        .select(shardA.as("in_a"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      val ranges = cells.groupBy("dim")
        .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      val binned = cells.join(broadcast(ranges), "dim")
        .select(col("dim"), col("in_a"),
          least(lit(bins - 1), floor((col("x") - col("lo")) * bins /
            nullif(col("hi") - col("lo"), lit(0.0))).cast("int")).as("bin"))
      // kept: the totals aggregate AND the final join both read this
      // dims×bins table — without the (tiny) cache each would re-run
      // the full explode+count pipeline
      val counts = keep(binned.groupBy("dim", "bin")
        .agg(count(when(col("in_a"), 1)).as("ca"),
          count(when(!col("in_a"), 1)).as("cb")))
      // per-dimension shard totals (each vector lands in exactly one
      // bin per dimension, so these equal the shard vector counts)
      val tot = counts.groupBy("dim")
        .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
      counts.join(broadcast(tot), "dim")
        .select(col("dim"), col("ca"), col("cb"), col("na"), col("nb"),
          (((col("ca") + 1) * (col("nb") + bins) -
            (col("cb") + 1) * (col("na") + bins)) *
            round(log(((col("ca") + 1) * (col("nb") + bins)).cast("double") /
              ((col("cb") + 1) * (col("na") + bins)).cast("double")) * 1e6, 0)
              .cast("long")).as("term_num"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n_bins"),
          sum(col("term_num")).as("psi_num"),
          max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
        .select(col("dim").cast("long").as("dim"), col("n_bins"),
          col("psi_num"),
          (col("psi_num").cast("double") /
            ((col("n_a") + bins) * (col("n_b") + bins)).cast("double") / 1e6)
            .as("psi"))
        .orderBy("dim")
  }

  /** Per-dimension PSI between two deterministic embedding shards. */
  val embeddingDrift: Q = Q(
    "q_embedding_drift",
    (s, dir) => psi(t(s, dir, "embeddings")),
    Some("""
      WITH cells AS (
        SELECT (ascii(substr(md5(CAST(vec_id AS VARCHAR)), 5, 1)) * 256 +
                ascii(substr(md5(CAST(vec_id AS VARCHAR)), 6, 1))) % 2 = 0 AS in_a,
               generate_subscripts(v, 1) - 1 AS dim,
               unnest(v) AS x
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
      ranges AS (
        SELECT dim, min(x) AS lo, max(x) AS hi FROM cells GROUP BY dim),
      binned AS (
        SELECT c.dim, c.in_a,
               least(9, CAST(floor((c.x - r.lo) * 10 /
                 nullif(r.hi - r.lo, 0.0)) AS INTEGER)) AS bin
        FROM cells c JOIN ranges r ON c.dim = r.dim),
      counts AS (
        SELECT dim, bin,
               CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS ca,
               CAST(count(CASE WHEN NOT in_a THEN 1 END) AS BIGINT) AS cb
        FROM binned GROUP BY dim, bin),
      tot AS (
        SELECT dim, CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb
        FROM counts GROUP BY dim),
      terms AS (
        SELECT c.dim, ca, cb, na, nb,
               ((ca + 1) * (nb + 10) - (cb + 1) * (na + 10)) *
               CAST(round(ln(CAST((ca + 1) * (nb + 10) AS DOUBLE) /
                             CAST((cb + 1) * (na + 10) AS DOUBLE)) * 1e6)
                 AS BIGINT) AS term_num
        FROM counts c JOIN tot USING (dim))
      SELECT CAST(dim AS BIGINT) AS dim,
             CAST(count(*) AS BIGINT) AS n_bins,
             CAST(sum(term_num) AS BIGINT) AS psi_num,
             CAST(sum(term_num) AS DOUBLE) /
               CAST((max(na) + 10) * (max(nb) + 10) AS DOUBLE) / 1e6 AS psi
      FROM terms GROUP BY dim ORDER BY dim"""))

  /** Two-sample Kolmogorov–Smirnov drift test on a SCALAR pipeline
    * signal (the companion to [[embeddingDrift]]'s per-dimension PSI):
    * did the per-user spend distribution shift between two cohorts?
    * KS is the right monitor when the signal is one number per entity
    * and no binning choice should be able to hide the drift — D =
    * sup_x |F₁(x) − F₂(x)| sees every quantile at once.
    *
    * EXACT: spend is summed in cents (BIGINT); the empirical CDFs are
    * cumulative counts over the DISTINCT-spend table, so D's numerator
    * is max |c₁(x)·n₂ − c₂(x)·n₁| — pure BIGINT cross-multiplication,
    * no division until the final surfaced ppm. The α=0.05 decision
    * D > 1.358·√((n₁+n₂)/(n₁n₂)) squares to the integer predicate
    * 250000·D_num² > 461041·(n₁+n₂)·n₁·n₂ (1.358² = 461041/250000) —
    * engine-exact like [[Events.abTest]]'s z². Fits BIGINT through
    * ~2.4·10³ users per cohort; past that the exact flag stops
    * mattering and the double form is fine — documented trade.
    *
    * Scale shape: one users-sized aggregate (map-side combinable),
    * one distinct-value aggregate, then the only unpartitioned window
    * runs over the distinct-spend table an Aggregate already
    * collapsed (the winsorize envelope); totals are a broadcast 1-row
    * frame. Nothing corpus-sized sorts in one task. */
  /** Exact KS over a (spend BIGINT, in_a boolean) entity frame —
    * factored so KsSpec can plant a shifted cohort. */
  private[graft] def ks(users: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = users.groupBy("spend")
      .agg(count(when(col("in_a"), 1)).as("c1"),
        count(when(!col("in_a"), 1)).as("c2"))
    val w = Window.orderBy("spend")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals
      .withColumn("f1", sum(col("c1")).over(w))
      .withColumn("f2", sum(col("c2")).over(w))
    val tot = vals.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")).limit(1)
    cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("f1") * col("n2") - col("f2") * col("n1"))).as("d_num"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("n1"), col("n2"), col("d_num"),
        expr("d_num * 1000000 div (n1 * n2)").as("ks_ppm"),
        (lit(250000L) * col("d_num") * col("d_num") >
          lit(461041L) * (col("n1") + col("n2")) * col("n1") * col("n2"))
          .as("drifted_95"))
  }

  val ksDrift: Q = Q(
    "q_ks_drift",
    (s, dir) => ks(
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("spend"))
        .withColumn("in_a", col("user_id") % 2 === 0)),
    Some("""
      WITH users AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend,
               user_id % 2 = 0 AS in_a
        FROM events GROUP BY user_id),
      vals AS (
        SELECT spend,
               CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS c1,
               CAST(count(CASE WHEN NOT in_a THEN 1 END) AS BIGINT) AS c2
        FROM users GROUP BY spend),
      cum AS (
        SELECT spend,
               sum(c1) OVER (ORDER BY spend ROWS UNBOUNDED PRECEDING) AS f1,
               sum(c2) OVER (ORDER BY spend ROWS UNBOUNDED PRECEDING) AS f2
        FROM vals),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM vals),
      d AS (
        SELECT max(abs(f1 * n2 - f2 * n1)) AS d_num,
               max(n1) AS n1, max(n2) AS n2
        FROM cum CROSS JOIN tot)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(d_num AS BIGINT) AS d_num,
             CAST(d_num * 1000000 // (n1 * n2) AS BIGINT) AS ks_ppm,
             250000 * d_num * d_num > 461041 * (n1 + n2) * n1 * n2 AS drifted_95
      FROM d"""))

  /** Jensen–Shannon divergence on the EVENT-TYPE MIX between two user
    * cohorts — the categorical companion that completes the drift
    * triptych: [[ksDrift]] watches a scalar signal, [[embeddingDrift]]
    * watches embedding dimensions, and this watches class composition
    * (the "did the traffic mix shift?" monitor a labeler/router runs
    * per batch). JSD(P,Q) = ½·Σ_t [p·ln(p/m) + q·ln(q/m)] with
    * m = (p+q)/2 — symmetric and bounded by ln 2, unlike raw KL which
    * blows up on any class one cohort lacks.
    *
    * Exactness is the PSI recipe one step further: with add-1
    * smoothing over the joint type domain D, p = (ca+1)/(na+D) and
    * q = (cb+1)/(nb+D); writing x = (ca+1)(nb+D), y = (cb+1)(na+D),
    * both log ratios collapse to cross products — p/m = 2x/(x+y),
    * q/m = 2y/(x+y) — so each per-type numerator
    * term = x·⌊1e6·ln(2x/(x+y))⌉ + y·⌊1e6·ln(2y/(x+y))⌉ is BIGINT
    * products of engine-identical integers around one rounded IEEE ln
    * each, and JSD = Σterm / (2·(na+D)(nb+D)·1e6). The hash pins every
    * per-type numerator. Overflow envelope: x ≤ (na+1)(nb+D), so
    * terms stay under 2⁶³ through ~10⁶ events per cohort ×
    * ln-bound 0.694e6 × D ≈ 10 — beyond that pre-scale the counts
    * (ANSI raises rather than corrupts, same contract as [[psi]]).
    *
    * Scale shape: one map-side-combinable count keyed by event_type
    * (domain-bounded, D rows survive), a broadcast 1-row totals frame,
    * and the only window runs over the D-row aggregate. Nothing
    * corpus-sized shuffles; a 100 TB event lake pays one scan. */
  private[graft] def jsd(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = ev
      .select(col("event_type"), (col("user_id") % 2 === 0).as("in_a"))
      .groupBy("event_type")
      .agg(count(when(col("in_a"), 1)).as("ca"),
        count(when(!col("in_a"), 1)).as("cb"))
    val tot = counts
      .agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("d"))
      .limit(1)
    val x = (col("ca") + 1) * (col("nb") + col("d"))
    val y = (col("cb") + 1) * (col("na") + col("d"))
    val lnOf = (num: org.apache.spark.sql.Column) =>
      round(log(lit(2.0) * num.cast("double") /
        (x + y).cast("double")) * 1e6, 0).cast("long")
    val w = Window.partitionBy()
    counts.crossJoin(broadcast(tot))
      .select(col("event_type"), col("ca"), col("cb"),
        col("na"), col("nb"), col("d"),
        (x * lnOf(x) + y * lnOf(y)).as("term_num"))
      .withColumn("jsd_num", sum(col("term_num")).over(w))
      .withColumn("jsd", col("jsd_num").cast("double") /
        (lit(2L) * (col("na") + col("d")) * (col("nb") + col("d")))
          .cast("double") / 1e6)
      .select(col("event_type"), col("ca"), col("cb"), col("na"), col("nb"),
        col("term_num"), col("jsd_num"), col("jsd"))
      .orderBy("event_type")
  }

  val jsDivergence: Q = Q(
    "q_js_divergence",
    (s, dir) => jsd(t(s, dir, "events")),
    Some("""
      WITH cells AS (
        SELECT event_type, user_id % 2 = 0 AS in_a FROM events),
      counts AS (
        SELECT event_type,
               CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS ca,
               CAST(count(CASE WHEN NOT in_a THEN 1 END) AS BIGINT) AS cb
        FROM cells GROUP BY event_type),
      tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
               CAST(count(*) AS BIGINT) AS d
        FROM counts),
      terms AS (
        SELECT event_type, ca, cb, na, nb, d,
               (ca + 1) * (nb + d) AS x, (cb + 1) * (na + d) AS y
        FROM counts CROSS JOIN tot),
      nums AS (
        SELECT event_type, ca, cb, na, nb, d,
               x * CAST(round(ln(2.0 * CAST(x AS DOUBLE) /
                     CAST(x + y AS DOUBLE)) * 1e6) AS BIGINT) +
               y * CAST(round(ln(2.0 * CAST(y AS DOUBLE) /
                     CAST(x + y AS DOUBLE)) * 1e6) AS BIGINT) AS term_num
        FROM terms)
      SELECT event_type, ca, cb, na, nb,
             CAST(term_num AS BIGINT) AS term_num,
             CAST(sum(term_num) OVER () AS BIGINT) AS jsd_num,
             CAST(sum(term_num) OVER () AS DOUBLE) /
               CAST(2 * (na + d) * (nb + d) AS DOUBLE) / 1e6 AS jsd
      FROM nums ORDER BY event_type"""))

  /** 1-D WASSERSTEIN (earth-mover) distance between the same two
    * spend cohorts [[ksDrift]] compares — the L1 companion to KS's
    * sup-norm: W₁ = ∫|F₁−F₂| dx integrates EVERY gap between the
    * CDFs, so a broad small shift that KS underweights (it only sees
    * the single widest gap) moves W₁ in proportion to the shifted
    * mass × distance, in interpretable CENTS of spend. The drift
    * quartet: KS (scalar, sup), W₁ (scalar, L1), PSI (embedding
    * dims), JSD (categorical mix).
    *
    * Exact: over the distinct-spend grid, each step contributes
    * |c₁(x)·n₂ − c₂(x)·n₁| · (next(x) − x) — pure BIGINT cross
    * products (the [[ks]] recipe) times the exact grid gap; the
    * single division to milli-cents happens once at the end
    * (nonnegative, `div`/`//` identical). Overflow envelope:
    * Σ ≤ n₁·n₂·range(spend), ×1000 stays under 2⁶³ through ~25k
    * users per cohort at TPC-H spend ranges; past that surface cents
    * instead of milli (documented trade, ANSI raises not corrupts).
    *
    * Scale shape: identical to [[ks]] — one users-sized aggregate,
    * one distinct-value aggregate, windows only over the collapsed
    * grid, broadcast 1-row totals. */
  private[graft] def w1(users: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = users.groupBy("spend")
      .agg(count(when(col("in_a"), 1)).as("c1"),
        count(when(!col("in_a"), 1)).as("c2"))
    val wCum = Window.orderBy("spend")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLead = Window.orderBy("spend")
    val cum = vals
      .withColumn("f1", sum(col("c1")).over(wCum))
      .withColumn("f2", sum(col("c2")).over(wCum))
      .withColumn("dx", coalesce(lead(col("spend"), 1).over(wLead) - col("spend"), lit(0L)))
    val tot = vals.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2")).limit(1)
    cum.crossJoin(broadcast(tot))
      .agg(sum(abs(col("f1") * col("n2") - col("f2") * col("n1")) * col("dx")).as("w1_num"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(col("n1"), col("n2"), col("w1_num"),
        expr("(1000 * w1_num) div (n1 * n2)").as("w1_millicents"))
  }

  val wassersteinDrift: Q = Q(
    "q_wasserstein",
    (s, dir) => w1(
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("spend"))
        .withColumn("in_a", col("user_id") % 2 === 0)),
    Some("""
      WITH users AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS spend,
               user_id % 2 = 0 AS in_a
        FROM events GROUP BY user_id),
      vals AS (
        SELECT spend,
               CAST(count(CASE WHEN in_a THEN 1 END) AS BIGINT) AS c1,
               CAST(count(CASE WHEN NOT in_a THEN 1 END) AS BIGINT) AS c2
        FROM users GROUP BY spend),
      cum AS (
        SELECT spend,
               sum(c1) OVER (ORDER BY spend ROWS UNBOUNDED PRECEDING) AS f1,
               sum(c2) OVER (ORDER BY spend ROWS UNBOUNDED PRECEDING) AS f2,
               coalesce(lead(spend, 1) OVER (ORDER BY spend) - spend, 0) AS dx
        FROM vals),
      tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM vals),
      d AS (
        SELECT sum(abs(f1 * n2 - f2 * n1) * dx) AS w1_num,
               max(n1) AS n1, max(n2) AS n2
        FROM cum CROSS JOIN tot)
      SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             CAST(w1_num AS BIGINT) AS w1_num,
             CAST((1000 * w1_num) // (n1 * n2) AS BIGINT) AS w1_millicents
      FROM d"""))

  val all: Seq[Q] = Seq(embeddingDrift, ksDrift, jsDivergence, wassersteinDrift)
}
