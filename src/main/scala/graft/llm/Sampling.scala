package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Dataset-splitting and sampling operators for a training-data
  * pipeline: deterministic hash-based train/valid/test assignment and
  * exact stratified sampling.
  *
  * Both are scan-shaped and fully oracled — the properties that matter
  * at 100 TB are (a) the split is a pure function of the row key, so
  * re-runs, backfills, and incremental batches land every document in
  * the same split without coordination (no rand(), no persisted
  * assignment table), and (b) the stratified sample is one window
  * shuffle keyed by stratum, not a per-stratum driver loop.
  */
object Sampling {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Deterministic 0–99 bucket from the md5 hex of the key: the first
    * two hex chars feed an ascii-weighted mod — every engine with md5,
    * substr, and ascii computes the identical bucket, making the split
    * portable across Spark, DuckDB, and any backfill script. */
  def hashBucket(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val hex = md5(key.cast("string").cast("binary"))
    (ascii(substring(hex, 1, 1)) * 256 + ascii(substring(hex, 2, 1))) % 100
  }

  /** 80/10/10 train/valid/test assignment, summarized per split so the
    * oracle hash-checks the full assignment function (counts + id
    * extremes shift if ANY document changes split). */
  val trainTestSplit: Q = Q(
    "q_train_test_split",
    (s, dir) => {
      val b = hashBucket(col("doc_id"))
      val split = when(b < 80, "train").when(b < 90, "valid").otherwise("test")
      t(s, dir, "documents")
        .select(col("doc_id"), split.as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("split")
    },
    Some("""
      SELECT split, CAST(count(*) AS BIGINT) AS cnt,
             CAST(min(doc_id) AS BIGINT) AS min_id,
             CAST(max(doc_id) AS BIGINT) AS max_id
      FROM (
        SELECT doc_id,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
                  ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS b
          FROM documents
        )
      ) GROUP BY split ORDER BY split"""))

  /** Exact stratified sample: first `perStratum` events of each
    * event_type in (event-time, id) order — one window shuffle keyed
    * by the stratum column; no driver-side loop over strata, so a
    * thousand strata cost the same plan as five. */
  def stratifiedSample(df: DataFrame, stratum: String, perStratum: Int): DataFrame = {
    val w = Window.partitionBy(stratum).orderBy(col("ts").asc, col("event_id").asc)
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= perStratum)
  }

  val stratified: Q = Q(
    "q_stratified_sample",
    (s, dir) =>
      stratifiedSample(t(s, dir, "events"), "event_type", 50)
        .select("event_type", "rn", "event_id")
        .orderBy("event_type", "rn"),
    Some("""
      SELECT event_type, rn, event_id FROM (
        SELECT event_type, event_id,
               CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY ts ASC, event_id ASC) AS BIGINT) AS rn
        FROM events
      ) WHERE rn <= 50
      ORDER BY event_type, rn"""))

  /** Quality-weighted (importance) sampling: each document is kept
    * with probability `min(n_chars, 1000)/1000` — longer docs are
    * likelier to survive, the standard quality-proportional
    * downsampling for training mixes. The coin is a deterministic
    * md5-derived value in [0,1000) (hex chars 3–4, independent of
    * [[hashBucket]]'s chars 1–2), so the sample is a pure function of
    * the key: reproducible across runs, engines, and backfills — no
    * rand(), no seed coordination. Output aggregates per source so
    * the oracle hash pins the COMPLETE keep/drop assignment (any
    * flipped doc shifts counts or id extremes). */
  val weighted: Q = Q(
    "q_weighted_sample",
    (s, dir) => {
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val coin = (ascii(substring(hex, 3, 1)) * 256 + ascii(substring(hex, 4, 1))) % 1000
      val keep = coin < least(col("n_chars"), lit(1000L))
      t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("total"),
          sum(when(keep, 1L).otherwise(0L)).as("kept"),
          min(when(keep, col("doc_id"))).as("min_kept_id"),
          max(when(keep, col("doc_id"))).as("max_kept_id"))
        .orderBy("source")
    },
    Some("""
      SELECT source, CAST(count(*) AS BIGINT) AS total,
             CAST(sum(CASE WHEN coin < least(n_chars, 1000) THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(min(CASE WHEN coin < least(n_chars, 1000) THEN doc_id END) AS BIGINT) AS min_kept_id,
             CAST(max(CASE WHEN coin < least(n_chars, 1000) THEN doc_id END) AS BIGINT) AS max_kept_id
      FROM (
        SELECT *, (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) * 256 +
                   ascii(substr(md5(CAST(doc_id AS VARCHAR)), 4, 1))) % 1000 AS coin
        FROM documents
      ) GROUP BY source ORDER BY source"""))

  /** Balanced mixture sampling — downsample every source to the size
    * of the smallest so the training mix is uniform across sources
    * (the "source rebalancing" step of corpus assembly; any target
    * share vector works by swapping the per-mil formula). Per-source
    * keep rates derive from two tiny aggregates (per-source counts,
    * global min) broadcast back onto the corpus — the full scan is
    * touched exactly once and nothing ever collects to the driver.
    * The keep decision is a deterministic UNIFORM md5 coin — hex
    * chars 5–8 decoded to their nibble values, so all 1000 outcomes
    * are reachable (the ascii-weighted coin of the other samplers is
    * fine against coarse thresholds but too sparse for a 58‰ rate) —
    * independent of the split and weighted-sample coins,
    * so membership is a pure function of doc_id: reproducible across
    * runs, engines, and backfills. The output pins exact membership
    * (sum of kept ids), not just counts. The driver query rebalances
    * a skewed source-tier labeling (the raw harness sources are
    * uniform, which would make every keep rate 1000‰). */
  val mixture: Q = Q(
    "q_mixture_sample",
    (s, dir) => {
      // the harness corpus is uniform across sources, so a skewed
      // "tier" label (3 singleton sources vs one 17-source pool)
      // makes the rebalance genuinely differential
      val d = t(s, dir, "documents")
        .withColumn("tier",
          when(col("source").isin("src0", "src1", "src2"), col("source"))
            .otherwise("rest"))
      val counts = d.groupBy(col("tier").as("c_src"))
        .agg(count(lit(1)).as("src_total"))
      val minTot = counts.agg(min(col("src_total")).as("min_total"))
      val rates = counts.crossJoin(broadcast(minTot))
        .select(col("c_src"),
          expr("1000 * min_total div src_total").as("permil"))
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      def nib(i: Int) = {
        val a = ascii(substring(hex, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val coin = (nib(5) * 4096 + nib(6) * 256 + nib(7) * 16 + nib(8)) % 1000
      d.join(broadcast(rates), col("tier") === col("c_src"))
        .groupBy("tier")
        .agg(count(lit(1)).as("total"),
          min(col("permil")).as("permil"),
          sum(when(coin < col("permil"), 1L).otherwise(0L)).as("kept"),
          sum(when(coin < col("permil"), col("doc_id"))).as("sum_kept_ids"))
        .orderBy("tier")
    },
    Some("""
      WITH tiered AS (
        SELECT *, CASE WHEN source IN ('src0','src1','src2') THEN source
                       ELSE 'rest' END AS tier
        FROM documents),
      counts AS (
        SELECT tier AS c_src, CAST(count(*) AS BIGINT) AS src_total
        FROM tiered GROUP BY tier),
      rates AS (
        SELECT c_src, CAST(1000 * (SELECT min(src_total) FROM counts) // src_total AS BIGINT) AS permil
        FROM counts),
      coined AS (
        SELECT *, ((a5 - CASE WHEN a5 >= 97 THEN 87 ELSE 48 END) * 4096 +
                   (a6 - CASE WHEN a6 >= 97 THEN 87 ELSE 48 END) * 256 +
                   (a7 - CASE WHEN a7 >= 97 THEN 87 ELSE 48 END) * 16 +
                   (a8 - CASE WHEN a8 >= 97 THEN 87 ELSE 48 END)) % 1000 AS coin
        FROM (
          SELECT *, ascii(substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) AS a5,
                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) AS a6,
                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) AS a7,
                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) AS a8
          FROM tiered))
      SELECT tier, CAST(count(*) AS BIGINT) AS total,
             CAST(min(permil) AS BIGINT) AS permil,
             CAST(sum(CASE WHEN coin < permil THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(sum(CASE WHEN coin < permil THEN doc_id END) AS BIGINT) AS sum_kept_ids
      FROM coined JOIN rates ON tier = c_src
      GROUP BY tier ORDER BY tier"""))

  /** Deterministic mergeable reservoir: the per-group k-sample is the
    * k documents with the SMALLEST md5-derived priority — a bottom-k
    * sketch, so it composes the way a random reservoir cannot:
    * sample(A ∪ B) = merge(sample(A), sample(B)), shards sample
    * independently and union exactly (the merge is
    * `functions/TopKAgg`'s buffer merge, ≤k rows per task on the
    * wire), and a backfill reproduces the identical sample because
    * priority is a pure function of the key. The priority is the
    * first 48 bits of md5 as a BIGINT (conv/hex-cast — identical in
    * both engines); the oracle is the window row_number formulation
    * the aggregate exists to avoid. */
  val reservoir: Q = Q(
    "q_reservoir_sample",
    (s, dir) => {
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val pri = conv(substring(hex, 1, 12), 16, 10).cast("long")
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), pri.as("priority"))
        .groupBy("source")
        .agg(graft.functions.TopKAgg(-col("priority"), col("doc_id"), 5).as("sample"))
        .select(col("source"), posexplode(col("sample")))
        .select(col("source"), col("pos").cast("long").as("rn"),
          (-col("col.sort_key")).as("priority"), col("col.id").as("doc_id"))
        .orderBy("source", "rn")
    },
    Some("""
      SELECT source, rn, priority, doc_id FROM (
        SELECT source, doc_id, priority,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY priority ASC, doc_id ASC) AS BIGINT) - 1 AS rn
        FROM (
          SELECT source, doc_id,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS priority
          FROM documents))
      WHERE rn < 5
      ORDER BY source, rn"""))

  /** WEIGHTED reservoir sampling without replacement (Efraimidis–
    * Spirakis A-ES) — k docs per source with inclusion probability
    * proportional to document length: each doc draws a deterministic
    * uniform u (md5 48-bit, the [[reservoir]] coin) and races with
    * key = ln(u)/w — the exponential-race form of u^(1/w), monotone-
    * identical and numerically saner; the per-source top-k by key IS
    * a weight-proportional sample without replacement (the A-ES
    * theorem), computed as one partitioned window pass. Derandomized
    * end to end: u is a pure function of doc_id and ln is evaluated
    * identically by both engines (the established same-host libm
    * envelope of the LM suite), so the sample replays exactly across
    * runs, engines, and backfills — the property production corpus
    * assembly needs from its sampler. */
  val weightedReservoir: Q = Q(
    "q_weighted_reservoir",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val pri = conv(substring(hex, 1, 12), 16, 10).cast("long")
      val w = greatest(col("n_chars"), lit(1L)).cast("double")
      val key = log((pri + lit(1.0)) / lit(281474976710656.0)) / w
      val rn = row_number().over(Window.partitionBy("source")
        .orderBy(col("key").desc, col("doc_id").asc))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          greatest(col("n_chars"), lit(1L)).as("weight"), key.as("key"))
        .withColumn("rn", rn.cast("long") - 1)
        .filter(col("rn") < 5)
        .select(col("source"), col("rn"), col("doc_id"), col("weight"),
          round(col("key") * 1e6, 0).cast("long").as("key_micro"))
        .orderBy("source", "rn")
    },
    Some("""
      WITH k AS (
        SELECT source, doc_id, greatest(n_chars, 1) AS weight,
               ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                   + 1.0) / 281474976710656.0)
                 / CAST(greatest(n_chars, 1) AS DOUBLE) AS key
        FROM documents),
      r AS (SELECT source, doc_id, weight, key,
                   row_number() OVER (PARTITION BY source
                     ORDER BY key DESC, doc_id ASC) AS rn
            FROM k)
      SELECT source, CAST(rn AS BIGINT) - 1 AS rn, doc_id,
             CAST(weight AS BIGINT) AS weight,
             CAST(round(key * 1e6) AS BIGINT) AS key_micro
      FROM r WHERE rn <= 5 ORDER BY source, rn"""))

  /** Inverse-frequency class weights over the labeled embedding set:
    * weight(c) = total / (k·n_c), the standard balanced-loss
    * reweighting, emitted as exact integer micro units. Two tiny
    * aggregates (per-label counts, then a 1-row total broadcast) —
    * nothing here scales with the corpus beyond the first groupBy. */
  val classWeights: Q = Q(
    "q_class_weights",
    (s, dir) => {
      val lab = t(s, dir, "embeddings")
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      val tot = lab.agg(sum(col("n")).as("total"), count(lit(1)).as("k"))
      lab.crossJoin(broadcast(tot))
        .withColumn("weight_micro",
          round(col("total") * lit(1000000.0) / (col("k") * col("n")), 0).cast("long"))
        .select(col("label").cast("long").as("label"), col("n"), col("weight_micro"))
        .orderBy("label")
    },
    Some("""
      WITH lab AS (SELECT label, CAST(count(*) AS BIGINT) AS n
                   FROM embeddings GROUP BY label),
      tot AS (SELECT CAST(sum(n) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS k FROM lab)
      SELECT CAST(label AS BIGINT) AS label, n,
             CAST(round(total * 1000000.0 / (k * n)) AS BIGINT) AS weight_micro
      FROM lab CROSS JOIN tot ORDER BY label"""))

  /** Leakage-free train/valid/test split: hash-bucket on the doc's
    * near-dup COMPONENT label (from the general iterative CC over
    * word-Jaccard edges), not the doc id — so a near-duplicate pair
    * can never straddle train and test, the classic eval-contamination
    * channel a per-doc split leaves open. Emits the full per-doc
    * assignment, so the oracle hash-checks every component label the
    * iterative algorithm produced. */
  val clusterSplit: Q = Q(
    "q_cluster_split",
    (s, dir) => {
      val docs = Dedup.wordSets(t(s, dir, "documents"))
      val labels = Dedup.connectedComponents(
        Dedup.consecutiveJaccardEdges(docs), docs.select(col("doc_id").as("id")))
      val b = hashBucket(col("label"))
      val split = when(b < 80, "train").when(b < 90, "valid").otherwise("test")
      labels.select(col("id").as("doc_id"), col("label").as("component"),
          split.as("split"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS w
                 FROM documents),
      e AS (SELECT a.doc_id AS src, b.doc_id AS dst
            FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
            WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) /
                  nullif(len(a.w) + len(b.w) - len(list_intersect(a.w, b.w)), 0) >= 0.7),
      marks AS (SELECT doc_id,
                       CASE WHEN doc_id IN (SELECT dst FROM e) THEN 0 ELSE 1 END AS ng
                FROM d),
      grp AS (SELECT doc_id,
                     sum(ng) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS g
              FROM marks),
      comp AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS component FROM grp)
      SELECT doc_id, CAST(component AS BIGINT) AS component,
             CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid' ELSE 'test' END AS split
      FROM (SELECT doc_id, component,
                   (ascii(substr(md5(CAST(component AS VARCHAR)), 1, 1)) * 256 +
                    ascii(substr(md5(CAST(component AS VARCHAR)), 2, 1))) % 100 AS b
            FROM comp)
      ORDER BY doc_id"""))

  /** Temperature-scaled language rebalancing — the multilingual
    * sampling rule (sample language l with probability ∝ n_l^α,
    * α = 0.5): low-resource languages are upweighted RELATIVE to
    * their share, high-resource ones downweighted, without ever
    * flattening to uniform the way [[mixture]]'s equal-share
    * rebalance does. Keep rates derive from one per-language count
    * aggregate: the α-scaled share is `floor(sqrt(n_l)·1e6)` — sqrt
    * is IEEE-correctly-rounded, so the micro-unit integer is
    * bit-identical in every engine — and all downstream arithmetic
    * (share sum, per-language target, permille rate) is exact BIGINT,
    * so the sample is a pure function of (doc_id, corpus counts):
    * reproducible across runs, engines, and backfills. The coin is
    * the nibble-decoded md5 chars 9–12, independent of the split
    * (1–2), weighted (3–4), and mixture (5–8) coins. Targets half the
    * corpus; per-language keep permille is capped at 1000. */
  val temperature: Q = Q(
    "q_temperature_sample",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val counts = d.groupBy(col("lang").as("c_lang")).agg(count(lit(1)).as("n_l"))
      val scaled = counts.withColumn("s_l",
        floor(sqrt(col("n_l").cast("double")) * 1000000.0).cast("long"))
      val totals = scaled.agg(sum(col("s_l")).as("s_tot"), sum(col("n_l")).as("n_tot"))
      val rates = scaled.crossJoin(broadcast(totals))
        .select(col("c_lang"),
          least(lit(1000L),
            expr("1000 * ((n_tot div 2) * s_l div s_tot) div n_l")).as("permil"))
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      def nib(i: Int) = {
        val a = ascii(substring(hex, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val coin = (nib(9) * 4096 + nib(10) * 256 + nib(11) * 16 + nib(12)) % 1000
      d.join(broadcast(rates), col("lang") === col("c_lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"),
          min(col("permil")).as("permil"),
          sum(when(coin < col("permil"), 1L).otherwise(0L)).as("kept"),
          sum(when(coin < col("permil"), col("doc_id"))).as("sum_kept_ids"))
        .orderBy("lang")
    },
    Some("""
      WITH counts AS (
        SELECT lang AS c_lang, CAST(count(*) AS BIGINT) AS n_l
        FROM documents GROUP BY lang),
      scaled AS (
        SELECT c_lang, n_l,
               CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_l
        FROM counts),
      totals AS (
        SELECT CAST(sum(s_l) AS BIGINT) AS s_tot, CAST(sum(n_l) AS BIGINT) AS n_tot
        FROM scaled),
      rates AS (
        SELECT c_lang,
               least(1000, 1000 * ((n_tot // 2) * s_l // s_tot) // n_l) AS permil
        FROM scaled CROSS JOIN totals),
      coined AS (
        SELECT *, ((a9 - CASE WHEN a9 >= 97 THEN 87 ELSE 48 END) * 4096 +
                   (a10 - CASE WHEN a10 >= 97 THEN 87 ELSE 48 END) * 256 +
                   (a11 - CASE WHEN a11 >= 97 THEN 87 ELSE 48 END) * 16 +
                   (a12 - CASE WHEN a12 >= 97 THEN 87 ELSE 48 END)) % 1000 AS coin
        FROM (
          SELECT *, ascii(substr(md5(CAST(doc_id AS VARCHAR)), 9, 1)) AS a9,
                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 10, 1)) AS a10,
                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 11, 1)) AS a11,
                    ascii(substr(md5(CAST(doc_id AS VARCHAR)), 12, 1)) AS a12
          FROM documents))
      SELECT lang, CAST(count(*) AS BIGINT) AS total,
             CAST(min(permil) AS BIGINT) AS permil,
             CAST(sum(CASE WHEN coin < permil THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             CAST(sum(CASE WHEN coin < permil THEN doc_id END) AS BIGINT) AS sum_kept_ids
      FROM coined JOIN rates ON lang = c_lang
      GROUP BY lang ORDER BY lang"""))

  /** UniMax-style budget water-filling over languages (Chung et al.
    * 2023): given a total document budget B, every language keeps all
    * its documents up to a common cap level t, chosen so the
    * allocations exactly exhaust B — small languages are taken whole,
    * the head language(s) absorb the cut. The standard alternative to
    * temperature sampling ([[temperature]]) when over-epoching small
    * languages must be bounded.
    *
    * Closed form instead of the iterative description: sort languages
    * by count ascending; k* is the largest k where granting every
    * remaining language at least c₍ₖ₎ still fits the budget
    * (c₍ₖ₎·(L−k+1) + S₍ₖ₋₁₎ ≤ B); languages ranked ≤ k* are taken
    * whole; the rest get t = (B − S₍ₖ＊₎) div (L − k*), with the
    * division remainder granted one extra document each to the first
    * r capped languages in rank order, so Σ alloc ≡ B exactly.
    *
    * All integer arithmetic over the language-cardinality aggregate:
    * the windows and the two 1-row broadcasts run over L rows, the
    * corpus contributes one map-side-combinable count scan.
    * B = (3·total) div 4 — deep enough that the four tail languages
    * fit whole and the head language takes the entire cut. */
  val unimaxAlloc: Q = Q(
    "q_unimax_alloc",
    (s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val stats = counts.agg(
        sum(col("c")).as("total"), count(lit(1)).as("nlangs"))
        .select(col("total"), col("nlangs"),
          expr("(3 * total) div 4").as("budget"))
      val w = Window.orderBy(col("c").asc, col("lang").asc)
      val ranked = counts
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("s_before",
          coalesce(sum(col("c")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(stats))
        .withColumn("affordable",
          col("c") * (col("nlangs") - col("rk") + 1) + col("s_before") <= col("budget"))
      val kstar = ranked.agg(
        coalesce(max(when(col("affordable"), col("rk"))), lit(0L)).as("kstar"),
        // s_before + c is increasing in rk, so this max IS the prefix
        // sum at k* (0 when nothing is affordable)
        coalesce(max(when(col("affordable"), col("s_before") + col("c"))), lit(0L))
          .as("s_star"))
      ranked.crossJoin(broadcast(kstar))
        .withColumn("t", expr("(budget - s_star) div (nlangs - kstar)"))
        .withColumn("r", col("budget") - col("s_star") - col("t") * (col("nlangs") - col("kstar")))
        .select(col("lang"), col("c").as("n_docs"),
          when(col("rk") <= col("kstar"), col("c"))
            .otherwise(col("t") +
              when(col("rk") - col("kstar") <= col("r"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy("lang")
    },
    Some("""
      WITH counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY lang),
      stats AS (
        SELECT CAST(sum(c) AS BIGINT) AS total,
               CAST(count(*) AS BIGINT) AS nlangs,
               CAST((3 * sum(c)) // 4 AS BIGINT) AS budget
        FROM counts),
      ranked AS (
        SELECT lang, c,
               CAST(row_number() OVER (ORDER BY c, lang) AS BIGINT) AS rk,
               CAST(coalesce(sum(c) OVER (ORDER BY c, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s_before,
               total, nlangs, budget
        FROM counts, stats),
      flagged AS (
        SELECT *, c * (nlangs - rk + 1) + s_before <= budget AS affordable
        FROM ranked),
      kstar AS (
        SELECT CAST(coalesce(max(CASE WHEN affordable THEN rk END), 0) AS BIGINT) AS kstar,
               CAST(coalesce(max(CASE WHEN affordable THEN s_before + c END), 0) AS BIGINT) AS s_star
        FROM flagged)
      SELECT lang, c AS n_docs,
             CAST(CASE WHEN rk <= kstar THEN c
                  ELSE (budget - s_star) // (nlangs - kstar) +
                       (CASE WHEN rk - kstar <=
                          budget - s_star -
                          ((budget - s_star) // (nlangs - kstar)) * (nlangs - kstar)
                        THEN 1 ELSE 0 END)
                  END AS BIGINT) AS alloc
      FROM flagged, kstar
      ORDER BY lang"""))

  /** Greedy k-center CORESET selection over the embedding corpus —
    * diverse-subset selection (Gonzalez' 2-approximation): seed with
    * the lowest vec_id, then k−1 times pick the point FARTHEST from
    * every chosen center (ties to the lowest id) and record the
    * coverage radius after each pick. The audit row per round is what
    * a curation pipeline signs off on: radius must be non-increasing,
    * and the final radius bounds how well k exemplars cover the
    * corpus (facility-location-style data pruning, cluster seeding,
    * eval-set diversification).
    *
    * Distributed shape: distances live in exact micro-unit BIGINT
    * (d² = Σ(Δmicro)², overflow-safe at 64 dims), each round is ONE
    * narrow scan — the new center ships as a literal array into a
    * zip_with fold, `least` folds it into the running min-distance —
    * and the argmax is a 1-row TakeOrdered action. k driver rows and
    * k bounded collects; the corpus never shuffles at all. At 100 TB
    * the k scans are the cost — the standard trade for exact greedy
    * k-center (sampling the argmax would break the 2-approximation).
    *
    * Fully oracled: the DuckDB twin unrolls the same k rounds as
    * chained CTEs on the identical integer arithmetic (the labelProp/
    * pageRank precedent for iterative algorithms), so the driver hash
    * certifies every pick and every radius, not just the shape. */
  /** Core greedy pass over any (vec_id, embedding: array<float>)
    * frame — factored so tests can feed hand-built geometries. */
  def kcenterOf(vecs: DataFrame, k: Int): DataFrame = {
      val s = vecs.sparkSession
      val xm = transform(col("embedding"),
        x => round(x.cast("double") * 1e6, 0).cast("long"))
      val base = keep(vecs
        .select(col("vec_id"), xm.as("xm")))
      try {
        val first = base.orderBy("vec_id").limit(1)
          .select("vec_id", "xm").head()
        var centerId = first.getLong(0)
        var centerXm = first.getSeq[Long](1).toIndexedSeq
        var cur = base.withColumn("mind", lit(Long.MaxValue))
        val rows = (1 to k).map { r =>
          val c = typedLit(centerXm)
          cur = cur.withColumn("mind", least(col("mind"),
            aggregate(zip_with(col("xm"), c, (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, v) => acc + v)))
          // one bounded action: the farthest point IS next round's
          // center and its distance IS this round's coverage radius
          val top = cur.orderBy(col("mind").desc, col("vec_id").asc)
            .select("vec_id", "mind", "xm").limit(1).head()
          val row = (r.toLong, centerId, top.getLong(1))
          centerId = top.getLong(0)
          centerXm = top.getSeq[Long](2).toIndexedSeq
          row
        }
        import s.implicits._
        rows.toDF("k_round", "center_id", "radius_micro2")
          .orderBy("k_round")
      } finally base.unpersist()
  }

  val coresetKCenter: Q = Q(
    "q_coreset_kcenter",
    (s, dir) => kcenterOf(t(s, dir, "embeddings"), 8),
    Some("""
      WITH el AS MATERIALIZED (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xm
        FROM embeddings),
      c1 AS MATERIALIZED (SELECT min(vec_id) AS c FROM el),
      m1 AS MATERIALIZED (SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
             FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c1)
             GROUP BY a.vec_id),
      c2 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m1 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m2 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m1 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c2)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c3 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m2 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m3 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m2 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c3)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c4 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m3 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m4 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m3 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c4)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c5 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m4 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m5 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m4 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c5)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c6 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m5 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m6 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m5 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c6)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c7 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m6 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m7 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m6 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c7)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c8 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m7 ORDER BY d2 DESC, vec_id ASC LIMIT 1),
      m8 AS MATERIALIZED (SELECT m.vec_id, least(m.d2, x.d2) AS d2 FROM m7 m JOIN (
               SELECT a.vec_id, CAST(sum((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
               FROM el a JOIN el b ON a.i = b.i AND b.vec_id = (SELECT c FROM c8)
               GROUP BY a.vec_id) x ON m.vec_id = x.vec_id),
      c9 AS MATERIALIZED (SELECT vec_id AS c, d2 AS r FROM m8 ORDER BY d2 DESC, vec_id ASC LIMIT 1)
      SELECT CAST(k_round AS BIGINT) AS k_round,
             CAST(center_id AS BIGINT) AS center_id,
             CAST(radius_micro2 AS BIGINT) AS radius_micro2
      FROM (
        SELECT 1 AS k_round, (SELECT c FROM c1) AS center_id, (SELECT r FROM c2) AS radius_micro2
        UNION ALL SELECT 2, (SELECT c FROM c2), (SELECT r FROM c3)
        UNION ALL SELECT 3, (SELECT c FROM c3), (SELECT r FROM c4)
        UNION ALL SELECT 4, (SELECT c FROM c4), (SELECT r FROM c5)
        UNION ALL SELECT 5, (SELECT c FROM c5), (SELECT r FROM c6)
        UNION ALL SELECT 6, (SELECT c FROM c6), (SELECT r FROM c7)
        UNION ALL SELECT 7, (SELECT c FROM c7), (SELECT r FROM c8)
        UNION ALL SELECT 8, (SELECT c FROM c8), (SELECT r FROM c9)
      ) ORDER BY k_round"""))

  /** LENGTH-GROUPED BATCHING — the padding-waste audit behind every
    * trainer's `group_by_length` switch: fixed-size batches padded to
    * their longest member burn compute proportional to
    * Σ_b (B·max_b − Σ_b tokens); batching in LENGTH order makes
    * neighbors similar and collapses that waste. This query builds
    * both schedules (arrival order vs length order), measures exact
    * token waste for each, and emits the comparison — the number that
    * justifies the shuffle.
    *
    * Distribution discipline: batch assignment needs a GLOBAL row
    * position, which is `Ranks.globalOrder`'s two-level scan — never
    * an unpartitioned window over the corpus (the oracle, running in
    * one DuckDB process, uses the plain row_number spelling of the
    * same total order). Waste arithmetic is all BIGINT: per batch
    * n·max − Σ, summed. In-query floor: length-ordered waste must not
    * exceed arrival-ordered waste (contiguous batching of a sorted
    * sequence never pads worse — the exchange argument), enforced
    * before rows ship. */
  val lengthBatching: Q = Q(
    "q_length_batching",
    (s, dir) => {
      val bs = 32
      val toks = t(s, dir, "documents").select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      def schedule(name: String, order: Seq[org.apache.spark.sql.Column]) = {
        val ranked = graft.ops.Ranks.globalOrder(toks, order, "rk")
        ranked.withColumn("batch", expr(s"(rk - 1) div $bs"))
          .groupBy("batch")
          .agg(count(lit(1)).as("n"), max(col("n_tok")).as("mx"),
            sum(col("n_tok")).as("tok"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("n") * col("mx") - col("tok")).as("waste_tokens"),
            sum(col("tok")).as("real_tokens"))
          .select(lit(name).as("schedule"), col("n_batches"),
            col("real_tokens"), col("waste_tokens"),
            expr("1000 * waste_tokens div (waste_tokens + real_tokens)")
              .as("waste_permille"))
      }
      val arrival = schedule("arrival", Seq(col("doc_id")))
      val sorted = schedule("length_sorted", Seq(col("n_tok"), col("doc_id")))
      val out = keep(arrival.unionByName(sorted).orderBy("schedule"))
      val w = out.collect().map(r =>
        r.getAs[String]("schedule") -> r.getAs[Long]("waste_tokens")).toMap
      Audit.check("length-sorted batching waste tokens (bound: arrival order's)",
        w("length_sorted"), Audit.atMost(w("arrival")))
      out
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        FROM documents),
      ranked AS (
        SELECT n_tok,
               (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS b_arr,
               (row_number() OVER (ORDER BY n_tok, doc_id) - 1) // 32 AS b_len
        FROM toks),
      arr AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(n_tok) AS BIGINT) AS mx,
               CAST(sum(n_tok) AS BIGINT) AS tok
        FROM ranked GROUP BY b_arr),
      len AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(max(n_tok) AS BIGINT) AS mx,
               CAST(sum(n_tok) AS BIGINT) AS tok
        FROM ranked GROUP BY b_len),
      s AS (
        SELECT 'arrival' AS schedule, CAST(count(*) AS BIGINT) AS n_batches,
               CAST(sum(tok) AS BIGINT) AS real_tokens,
               CAST(sum(n * mx - tok) AS BIGINT) AS waste_tokens
        FROM arr
        UNION ALL
        SELECT 'length_sorted', CAST(count(*) AS BIGINT),
               CAST(sum(tok) AS BIGINT), CAST(sum(n * mx - tok) AS BIGINT)
        FROM len)
      SELECT schedule, n_batches, real_tokens, waste_tokens,
             CAST(1000 * waste_tokens // (waste_tokens + real_tokens) AS BIGINT)
               AS waste_permille
      FROM s ORDER BY schedule"""))

  /** MERGEABLE weighted reservoir — [[weightedReservoir]]'s A-ExpJ
    * sampler re-expressed as a bounded typed aggregate instead of a
    * per-source window: the Efraimidis–Spirakis priority key is a
    * pure function of (doc_id, weight) (derandomized md5 coin, the
    * repo convention), so per-group top-k BY THAT KEY is a
    * semilattice — build-then-merge over any partitioning equals the
    * global build exactly, which is what lets the one-pass
    * [[graft.functions.TopKAgg]] replace the window.
    *
    * Keys are quantized to integer micro BEFORE selection (both
    * engines order by key_micro desc, doc_id asc), so the sampler's
    * total order is engine-exact by construction rather than by IEEE
    * coincidence — the micro-quantized A-ExpJ variant, documented
    * semantics, not an approximation of the window query.
    *
    * Scale shape vs [[weightedReservoir]]: the window formulation
    * shuffles EVERY row to its source's partition and sorts; this one
    * is map-side combinable — each task carries ≤ k rows per source
    * into the shuffle, nothing is globally sorted. The weight column
    * rides back on a k·sources-bounded join. */
  val reservoirMerge: Q = Q(
    "q_reservoir_merge",
    (s, dir) => {
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val pri = conv(substring(hex, 1, 12), 16, 10).cast("long")
      val w = greatest(col("n_chars"), lit(1L)).cast("double")
      val keyMicro = round(
        log((pri + lit(1.0)) / lit(281474976710656.0)) / w * 1e6, 0)
        .cast("long")
      val sampled = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), keyMicro.as("key_micro"))
        .groupBy("source")
        .agg(graft.functions.TopKAgg(col("key_micro"), col("doc_id"), 5)
          .as("res"))
        .select(col("source"), posexplode(col("res")))
        .select(col("source"), col("pos").cast("long").as("rn"),
          col("col.id").as("doc_id"), col("col.sort_key").as("key_micro"))
      sampled
        .join(t(s, dir, "documents")
          .select(col("doc_id"),
            greatest(col("n_chars"), lit(1L)).as("weight")), Seq("doc_id"))
        .select(col("source"), col("rn"), col("doc_id"), col("weight"),
          col("key_micro"))
        .orderBy("source", "rn")
    },
    Some("""
      WITH k AS (
        SELECT source, doc_id, greatest(n_chars, 1) AS weight,
               CAST(round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                   + 1.0) / 281474976710656.0)
                 / CAST(greatest(n_chars, 1) AS DOUBLE) * 1e6) AS BIGINT) AS key_micro
        FROM documents),
      r AS (SELECT source, doc_id, weight, key_micro,
                   row_number() OVER (PARTITION BY source
                     ORDER BY key_micro DESC, doc_id ASC) AS rn
            FROM k)
      SELECT source, CAST(rn AS BIGINT) - 1 AS rn, doc_id,
             CAST(weight AS BIGINT) AS weight, key_micro
      FROM r WHERE rn <= 5 ORDER BY source, rn"""))

  /** GREEDY MAX-COVERAGE data selection — pick K documents that
    * together cover the most distinct vocabulary, the submodular
    * selection primitive behind "choose a small seed set that
    * represents the corpus" (vocabulary coverage for tokenizer
    * training, eval-set seeding, annotation budgeting). Greedy is the
    * (1−1/e)-approximation — the best any polynomial algorithm
    * guarantees — and its trace is DETERMINISTIC under the
    * (gain DESC, doc_id ASC) total order, so every step's pick, gain,
    * and cumulative coverage ride the driver hash; the oracle unrolls
    * the same K steps as chained CTEs (the [[graft.llm.Retrieval]]
    * MMR discipline). Zero-gain documents stay in the candidate frame
    * (count of a CASE, not a filter), so the trace never stalls even
    * after full coverage.
    *
    * Scale shape: each step is ONE pass over the (doc, token) frame —
    * a token-keyed left join against the covered-token table (token-
    * domain, never corpus-sized; Catalyst broadcasts it while small,
    * shuffles when not) plus a doc-keyed count and a TakeOrdered-1 —
    * K passes total, no quadratic anything. The covered table is
    * persisted per step and the loop is K-bounded driver control,
    * exactly the [[graft.ops.Graph.pageRank]] iterative discipline. */
  val CoverK = 6

  /** The greedy trace over a (doc_id, tok) frame: K rows of
    * (step, doc_id, gain, covered_total), stopping early if the
    * candidate pool empties. Factored so SamplingAllocSpec can drive
    * a hand corpus against a brute-force reference. */
  def greedyCoverage(dtok0: DataFrame, k: Int): Seq[(Long, Long, Long, Long)] = {
    val dtok = keep(dtok0)
    var picked = Vector.empty[Long]
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var step = 1
    var total = 0L
    var exhausted = false
    while (step <= k && !exhausted) {
      // covered = the picked docs' token set, re-derived from the
      // persisted frame (a k-doc filter + distinct — cheaper than a
      // growing union chain, and nothing extra to pin)
      val covered = dtok
        .filter(if (picked.isEmpty) lit(false)
          else col("doc_id").isin(picked: _*))
        .select("tok").distinct()
      val gains = dtok
        .filter(if (picked.isEmpty) lit(true)
          else !col("doc_id").isin(picked: _*))
        .join(covered.withColumn("c", lit(1)), Seq("tok"), "left")
        .groupBy("doc_id")
        .agg(count(when(col("c").isNull, 1)).as("gain"))
      gains.orderBy(col("gain").desc, col("doc_id").asc)
        .limit(1).collect().headOption match {
        case None => exhausted = true
        case Some(pick) =>
          val (pickId, gain) = (pick.getLong(0), pick.getLong(1))
          picked :+= pickId
          // newly covered tokens are disjoint from covered by
          // construction, so the cumulative total is the gain prefix
          // sum — no counting job per step
          total += gain
          trace += ((step.toLong, pickId, gain, total))
          step += 1
      }
    }
    dtok.unpersist()
    trace.toSeq
  }

  val coverageSelect: Q = Q(
    "q_coverage_select",
    (s, dir) => {
      val dtok = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
        .filter(col("tok") =!= "")
      val trace = greedyCoverage(dtok, CoverK)
      import s.implicits._
      trace.toDF("step", "doc_id", "gain", "covered_total")
        .coalesce(1).orderBy("step")
    },
    Some(s"""
      WITH dtok AS MATERIALIZED (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents)
        WHERE tok <> ''),
      cov0 AS (SELECT CAST(NULL AS VARCHAR) AS tok WHERE 1 = 0),
      picks0 AS (SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0),
      ${(1 to CoverK).map(coverageStepCte).mkString(",\n      ")}
      SELECT step, doc_id, gain,
             (SELECT CAST(count(*) AS BIGINT) FROM covstep
              WHERE covstep.step <= p.step) AS covered_total
      FROM (${(1 to CoverK).map(i => s"SELECT * FROM p$i")
        .mkString("\n            UNION ALL ")}) p
      ORDER BY step"""))

  /** One unrolled greedy coverage step (gain per remaining doc →
    * argmax pick → grown covered set), oracle-only. `covstep` tags
    * each newly covered token with the step that first covered it so
    * the final projection can state cumulative coverage without K
    * scalar subqueries over K different tables. */
  private def coverageStepCte(i: Int): String = {
    val newCov = s"""SELECT DISTINCT d.tok
             FROM dtok d JOIN p$i USING (doc_id)
             WHERE d.tok NOT IN (SELECT tok FROM cov${i - 1})"""
    val tail =
      if (i == CoverK)
        (1 to CoverK).map(j =>
          s"SELECT CAST($j AS BIGINT) AS step, tok FROM new$j")
          .mkString(",\n      covstep AS MATERIALIZED (", "\n        UNION ALL ", ")")
      else ""
    s"""g$i AS MATERIALIZED (
        SELECT doc_id,
               CAST(count(CASE WHEN tok NOT IN (SELECT tok FROM cov${i - 1})
                          THEN 1 END) AS BIGINT) AS gain
        FROM dtok
        WHERE doc_id NOT IN (SELECT doc_id FROM picks${i - 1})
        GROUP BY doc_id),
      p$i AS MATERIALIZED (
        SELECT CAST($i AS BIGINT) AS step, doc_id, gain
        FROM g$i ORDER BY gain DESC, doc_id ASC LIMIT 1),
      new$i AS MATERIALIZED (
        $newCov),
      cov$i AS MATERIALIZED (
        SELECT tok FROM cov${i - 1} UNION ALL SELECT tok FROM new$i),
      picks$i AS MATERIALIZED (
        SELECT doc_id FROM picks${i - 1} UNION ALL SELECT doc_id FROM p$i)$tail"""
  }

  /** CAPTURE–RECAPTURE population estimate (Chapman's corrected
    * Lincoln–Petersen) — the coverage audit a crawler/dedup pipeline
    * runs when the TRUE corpus size is unknowable: two independent
    * "crawls" sample the population, and the overlap rate reveals
    * the total (N̂ = (n₁+1)(n₂+1)/(m+1) − 1, finite and less biased
    * than n₁n₂/m). Here the crawls are two INDEPENDENT md5 coins on
    * doc_id (hex chars 9 and 10 — distinct bits, so inclusion in A
    * is independent of B by construction), and because the harness
    * DOES know the true N, the query self-audits: the estimate's
    * permille error rides the output.
    *
    * Exact: all four counts are one conditional aggregate off one
    * scan; the Chapman division floors once (nonnegative); the error
    * column sign-splits. Scale shape: one map-side-combinable
    * aggregate, 1-row arithmetic. */
  val captureRecapture: Q = Q(
    "q_capture_recapture",
    (s, dir) => {
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val inA = (ascii(substring(hex, 9, 1)) % 2 === 0).cast("long")
      val inB = (ascii(substring(hex, 10, 1)) % 2 === 0).cast("long")
      t(s, dir, "documents")
        .select(inA.as("a"), inB.as("b"))
        .agg(count(lit(1)).as("n_true"), sum(col("a")).as("n1"),
          sum(col("b")).as("n2"), sum(col("a") * col("b")).as("m"))
        .selectExpr("n_true", "n1", "n2", "m",
          "(n1 + 1) * (n2 + 1) div (m + 1) - 1 AS n_hat",
          """CASE WHEN (n1 + 1) * (n2 + 1) div (m + 1) - 1 >= n_true
               THEN (1000 * ((n1 + 1) * (n2 + 1) div (m + 1) - 1 - n_true)) div n_true
               ELSE -((1000 * (n_true - ((n1 + 1) * (n2 + 1) div (m + 1) - 1))) div n_true)
             END AS err_permille""")
    },
    Some("""
      WITH c AS (
        SELECT CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 9, 1)) % 2 = 0
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 10, 1)) % 2 = 0
                    THEN 1 ELSE 0 END AS b
        FROM documents),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_true, CAST(sum(a) AS BIGINT) AS n1,
               CAST(sum(b) AS BIGINT) AS n2, CAST(sum(a * b) AS BIGINT) AS m
        FROM c)
      SELECT n_true, n1, n2, m,
             CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS n_hat,
             CAST(CASE WHEN (n1 + 1) * (n2 + 1) // (m + 1) - 1 >= n_true
               THEN (1000 * ((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true)) // n_true
               ELSE -((1000 * (n_true - ((n1 + 1) * (n2 + 1) // (m + 1) - 1))) // n_true)
             END AS BIGINT) AS err_permille
      FROM agg"""))

  val all: Seq[Q] = Seq(trainTestSplit, stratified, weighted, mixture, reservoir,
    weightedReservoir, classWeights, clusterSplit, temperature, unimaxAlloc,
    coresetKCenter, lengthBatching, reservoirMerge, coverageSelect,
    captureRecapture)
}
