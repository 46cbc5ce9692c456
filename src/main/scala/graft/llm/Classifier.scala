package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Quality-classifier TRAINING at corpus scale — the histogram
  * split-finder that is the inner loop of every distributed GBDT
  * (XGBoost/LightGBM-style) and of decision-stump quality filters:
  * given per-document integer features and a binary label, find for
  * every feature the accuracy-optimal threshold, exactly.
  *
  * The scale shape is the point. Split-finding does NOT sort the
  * corpus: documents collapse to a (feature, value) histogram first
  * (domain-bounded — ratio features live in [0, 1000], token counts
  * in the length domain; same envelope argument as
  * [[graft.ops.Profile]].winsorize), cumulative label counts run over
  * that histogram with a window PARTITIONED by feature, and the
  * argmax threshold per feature falls out of one more aggregate. A
  * 100 TB corpus trains at the cost of one scan plus a
  * histogram-sized shuffle; nothing corpus-sized is ever sorted or
  * windowed.
  *
  * Label = the [[TextStats.qualityGate]] stopword rule
  * (50·stop_cnt ≥ n_tok, gate bit 8). Because the scaled feature
  * `stop_ratio_m = ⌊1000·stop/n⌋` satisfies ⌊x⌋ ≥ 20 ⟺ x ≥ 20, a
  * stump on that feature can express the label EXACTLY — so a correct
  * split-finder must return a perfect split there (best_correct = n)
  * while the other features top out lower. The oracle re-derives the
  * whole split table in SQL, so every (feature, threshold, count)
  * cell is in the driver's hash — training is verified, not trusted.
  *
  * Both polarities are searched (predict +1 on `f > θ` and on
  * `f ≤ θ`); candidate thresholds are the observed distinct values.
  * Ties break to the SMALLEST threshold via min-over-equals — no
  * arg_max stride tricks needed, both engines compute the identical
  * table.
  */
object Classifier {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Integer features + label per document, from the shared
    * [[TextStats.tokenStats]] aggregation. Ratios are scaled to
    * per-mille / centi units with floor division (both engines agree
    * exactly); n_tok ≥ 1 always (split of any trimmed text yields at
    * least one element), so the division is total. */
  private[graft] def featureFrame(docs: DataFrame): DataFrame =
    TextStats.tokenStats(docs)
      .select(col("doc_id"),
        expr("1000 * stop_cnt div n_tok").as("stop_ratio_m"),
        expr("1000 * max_cnt div n_tok").as("rep_ratio_m"),
        expr("100 * n_word_chars div n_tok").as("mean_wlen_c"),
        col("n_tok"),
        when(lit(50) * col("stop_cnt") >= col("n_tok"), 1L).otherwise(-1L)
          .as("y"))

  /** DuckDB mirror of [[featureFrame]] (oracle-only CTE fragment,
    * shared by every query evaluating the stump features). */
  private val featsSql: String = """feats AS (
        SELECT doc_id,
               1000 * stop_cnt // n_tok AS stop_ratio_m,
               1000 * max_cnt // n_tok AS rep_ratio_m,
               100 * n_word_chars // n_tok AS mean_wlen_c,
               n_tok,
               CASE WHEN 50 * stop_cnt >= n_tok THEN 1 ELSE -1 END AS y
        FROM (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_tok,
                 CAST(sum(c * length(tok)) AS BIGINT) AS n_word_chars,
                 CAST(max(c) AS BIGINT) AS max_cnt,
                 CAST(sum(CASE WHEN tok IN ('the','a','of','and','to','in','is')
                               THEN c ELSE 0 END) AS BIGINT) AS stop_cnt
          FROM (
            SELECT doc_id, tok, count(*) AS c FROM (
              SELECT doc_id,
                     unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
              FROM documents
            ) GROUP BY doc_id, tok
          ) GROUP BY doc_id))"""

  /** For each feature: the accuracy-optimal stump under each
    * polarity, as (feature, n, pos, best/threshold per polarity). */
  val qualityStump: Q = Q(
    "q_quality_stump",
    (s, dir) => {
      val feats = featureFrame(t(s, dir, "documents"))
      // ONE corpus pass: explode each document's 4 (feature, value)
      // pairs in-row — a union of 4 per-feature selects would replay
      // the tokenStats scan+aggregate subplan once per feature
      val long_ = feats
        .select(col("y"), explode(array(
          Seq("stop_ratio_m", "rep_ratio_m", "mean_wlen_c", "n_tok").map(f =>
            struct(lit(f).as("feature"), col(f).as("v"))): _*)).as("fv"))
        .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("y"))
      val hist = long_
        .groupBy("feature", "v")
        .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos"),
          sum(when(col("y") === -1L, 1L).otherwise(0L)).as("neg"))
      val w = Window.partitionBy("feature").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("feature")
      val cum = hist
        .withColumn("cum_pos", sum(col("pos")).over(w))
        .withColumn("cum_neg", sum(col("neg")).over(w))
        .withColumn("tot_pos", sum(col("pos")).over(tot))
        .withColumn("tot_neg", sum(col("neg")).over(tot))
        // predict +1 on f > v  /  predict +1 on f <= v
        .withColumn("c_gt", col("tot_pos") - col("cum_pos") + col("cum_neg"))
        .withColumn("c_le", col("cum_pos") + col("tot_neg") - col("cum_neg"))
      val best = cum.groupBy("feature")
        .agg(max(col("c_gt")).as("bg"), max(col("c_le")).as("bl"))
      cum.join(best, "feature")
        .groupBy("feature")
        .agg(
          max(col("tot_pos") + col("tot_neg")).as("n"),
          max(col("tot_pos")).as("n_pos"),
          max(col("bg")).as("best_correct_gt"),
          min(when(col("c_gt") === col("bg"), col("v"))).as("thr_gt"),
          max(col("bl")).as("best_correct_le"),
          min(when(col("c_le") === col("bl"), col("v"))).as("thr_le"))
        .orderBy("feature")
    },
    Some(s"""
      WITH $featsSql,
      lng AS (
        SELECT 'stop_ratio_m' AS feature, stop_ratio_m AS v, y FROM feats
        UNION ALL
        SELECT 'rep_ratio_m', rep_ratio_m, y FROM feats
        UNION ALL
        SELECT 'mean_wlen_c', mean_wlen_c, y FROM feats
        UNION ALL
        SELECT 'n_tok', n_tok, y FROM feats),
      hist AS (
        SELECT feature, v,
               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS neg
        FROM lng GROUP BY feature, v),
      cum AS (
        SELECT feature, v,
               sum(pos) OVER (PARTITION BY feature ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum_pos,
               sum(neg) OVER (PARTITION BY feature ORDER BY v
                              ROWS UNBOUNDED PRECEDING) AS cum_neg,
               sum(pos) OVER (PARTITION BY feature) AS tot_pos,
               sum(neg) OVER (PARTITION BY feature) AS tot_neg
        FROM hist),
      scored AS (
        SELECT feature, v, tot_pos, tot_neg,
               tot_pos - cum_pos + cum_neg AS c_gt,
               cum_pos + tot_neg - cum_neg AS c_le
        FROM cum),
      best AS (
        SELECT feature, max(c_gt) AS bg, max(c_le) AS bl
        FROM scored GROUP BY feature)
      SELECT feature,
             CAST(max(tot_pos + tot_neg) AS BIGINT) AS n,
             CAST(max(tot_pos) AS BIGINT) AS n_pos,
             CAST(max(bg) AS BIGINT) AS best_correct_gt,
             CAST(min(CASE WHEN c_gt = bg THEN v END) AS BIGINT) AS thr_gt,
             CAST(max(bl) AS BIGINT) AS best_correct_le,
             CAST(min(CASE WHEN c_le = bl THEN v END) AS BIGINT) AS thr_le
      FROM scored JOIN best USING (feature)
      GROUP BY feature ORDER BY feature"""))

  /** Multi-class classifier evaluation — the confusion-matrix /
    * precision-recall harness every model-driven curation filter
    * needs before its predictions gate data: per class, gold count,
    * predicted count, TP/FP/FN, and precision/recall/F1. Registered
    * over the [[TextStats.langId]] heuristic against the gold `lang`
    * column, so the evaluated classifier is itself engine-native and
    * the whole evaluation is DuckDB-oracled.
    *
    * Determinism: every metric is surfaced as exact integer
    * parts-per-million via BIGINT division (F1 = 2·tp/(n_pred+n_gold)
    * exactly, since fp+fn = n_pred+n_gold−2·tp) — no float ratio
    * crosses the engine boundary. Zero-support classes (a label never
    * predicted, or predicted but absent from gold) report 0 rather
    * than dividing by zero.
    *
    * Scale shape: one corpus pass fans into three map-side-combinable
    * aggregates keyed by class; everything after is class-domain
    * (≤ |langs|+1 rows), so the planner broadcasts the joins. Nothing
    * corpus-sized is joined, windowed, or collected. */
  val evalMetrics: Q = Q(
    "q_eval_metrics",
    (s, dir) => {
      val per = t(s, dir, "documents")
        .select(col("lang").as("gold"), TextStats.langPred.as("pred"))
      val classes = per.select(col("gold").as("cls"))
        .union(per.select(col("pred").as("cls"))).distinct()
      val goldN = per.groupBy(col("gold").as("cls")).agg(count(lit(1)).as("n_gold"))
      val predN = per.groupBy(col("pred").as("cls")).agg(count(lit(1)).as("n_pred"))
      val tp = per.filter(col("gold") === col("pred"))
        .groupBy(col("gold").as("cls")).agg(count(lit(1)).as("tp"))
      classes
        .join(goldN, Seq("cls"), "left")
        .join(predN, Seq("cls"), "left")
        .join(tp, Seq("cls"), "left")
        .select(col("cls"),
          coalesce(col("n_gold"), lit(0L)).as("n_gold"),
          coalesce(col("n_pred"), lit(0L)).as("n_pred"),
          coalesce(col("tp"), lit(0L)).as("tp"))
        .withColumn("fp", col("n_pred") - col("tp"))
        .withColumn("fn", col("n_gold") - col("tp"))
        .withColumn("precision_ppm",
          when(col("n_pred") === 0L, 0L).otherwise(expr("tp * 1000000 div n_pred")))
        .withColumn("recall_ppm",
          when(col("n_gold") === 0L, 0L).otherwise(expr("tp * 1000000 div n_gold")))
        .withColumn("f1_ppm",
          expr("2 * tp * 1000000 div (n_pred + n_gold)"))
        .orderBy("cls")
    },
    Some(s"""
      WITH per AS (
        SELECT lang AS gold,
          ${TextStats.langPredSql} AS pred
        FROM documents),
      cls AS (SELECT gold AS cls FROM per UNION SELECT pred FROM per),
      g AS (SELECT gold AS cls, CAST(count(*) AS BIGINT) AS n_gold FROM per GROUP BY gold),
      p AS (SELECT pred AS cls, CAST(count(*) AS BIGINT) AS n_pred FROM per GROUP BY pred),
      tp_ AS (SELECT gold AS cls, CAST(count(*) AS BIGINT) AS tp
              FROM per WHERE gold = pred GROUP BY gold),
      j AS (
        SELECT cls.cls,
               CAST(coalesce(g.n_gold, 0) AS BIGINT) AS n_gold,
               CAST(coalesce(p.n_pred, 0) AS BIGINT) AS n_pred,
               CAST(coalesce(tp_.tp, 0) AS BIGINT) AS tp
        FROM cls LEFT JOIN g USING (cls) LEFT JOIN p USING (cls)
                 LEFT JOIN tp_ USING (cls))
      SELECT cls, n_gold, n_pred, tp,
             CAST(n_pred - tp AS BIGINT) AS fp,
             CAST(n_gold - tp AS BIGINT) AS fn,
             CAST(CASE WHEN n_pred = 0 THEN 0
                       ELSE tp * 1000000 // n_pred END AS BIGINT) AS precision_ppm,
             CAST(CASE WHEN n_gold = 0 THEN 0
                       ELSE tp * 1000000 // n_gold END AS BIGINT) AS recall_ppm,
             CAST(2 * tp * 1000000 // (n_pred + n_gold) AS BIGINT) AS f1_ppm
      FROM j ORDER BY cls"""))

  /** ROC-AUC per feature via the Mann-Whitney rank-sum identity —
    * the threshold-free ranking-quality measure for every scalar
    * quality signal before it gates data (the stump's accuracy is
    * one operating point; AUC is the whole curve). For each of the
    * four stump features: AUC of the feature as a score for the
    * stopword label, exact under ties via midranks.
    *
    * AUC = U / (n⁺·n⁻) with U = Σ_pos midrank − n⁺(n⁺+1)/2. Midranks
    * come from the DISTINCT-VALUE histogram: a tied group occupying
    * ranks [cum−cnt+1, cum] has 2·midrank = 2·cum − cnt + 1, so
    * everything up to the final ratio is exact BIGINT arithmetic.
    * The ratio itself is ONE IEEE division of exact BIGINTs then
    * round — the established cross-engine contract; u2 stays exact
    * to ~2·10⁹ documents (Σpos·r2 ≤ 2N², the [[TextStats]] KL
    * envelope class).
    *
    * Scale shape: identical to [[qualityStump]] — one corpus scan
    * melts 4 (feature, value) pairs in-row, the cumulative window
    * runs over the feature-partitioned DISTINCT-VALUE table
    * (domain-bounded), and the AUC falls out of a 4-row aggregate.
    * Nothing corpus-sized is sorted or windowed.
    *
    * stop_ratio_m expresses the label exactly (⌊1000s/n⌋ ≥ 20 ⟺ y),
    * so its AUC must be exactly 1.0 — an in-hash self-check that the
    * rank machinery is right. */
  private[graft] def featureAucOf(feats: DataFrame): DataFrame = {
      val long_ = feats
        .select(col("y"), explode(array(
          Seq("stop_ratio_m", "rep_ratio_m", "mean_wlen_c", "n_tok").map(f =>
            struct(lit(f).as("feature"), col(f).as("v"))): _*)).as("fv"))
        .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("y"))
      val hist = long_
        .groupBy("feature", "v")
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos"))
      val w = Window.partitionBy("feature").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("r2", lit(2L) * col("cum") - col("cnt") + lit(1L))
        .groupBy("feature")
        .agg(sum(col("pos")).as("n_pos"),
          sum(col("cnt") - col("pos")).as("n_neg"),
          sum(col("pos") * col("r2")).as("rank2_pos"))
        .withColumn("u2", col("rank2_pos") - col("n_pos") * (col("n_pos") + lit(1L)))
        .withColumn("auc_ppm",
          when(col("n_pos") === 0L || col("n_neg") === 0L, 0L)
            .otherwise(round(col("u2").cast("double") /
              ((lit(2.0) * col("n_pos").cast("double")) * col("n_neg").cast("double")) *
              lit(1000000.0), 0).cast("long")))
        .select("feature", "n_pos", "n_neg", "u2", "auc_ppm")
        .orderBy("feature")
  }

  val rocAuc: Q = Q(
    "q_roc_auc",
    (s, dir) => featureAucOf(featureFrame(t(s, dir, "documents"))),
    Some(s"""
      WITH $featsSql,
      lng AS (
        SELECT 'stop_ratio_m' AS feature, stop_ratio_m AS v, y FROM feats
        UNION ALL SELECT 'rep_ratio_m', rep_ratio_m, y FROM feats
        UNION ALL SELECT 'mean_wlen_c', mean_wlen_c, y FROM feats
        UNION ALL SELECT 'n_tok', n_tok, y FROM feats),
      hist AS (
        SELECT feature, v, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM lng GROUP BY feature, v),
      ranked AS (
        SELECT feature, pos, cnt,
               2 * sum(cnt) OVER (PARTITION BY feature ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) - cnt + 1 AS r2
        FROM hist),
      agg AS (
        SELECT feature,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(cnt - pos) AS BIGINT) AS n_neg,
               CAST(sum(pos * r2) AS BIGINT) AS rank2_pos
        FROM ranked GROUP BY feature)
      SELECT feature, n_pos, n_neg,
             CAST(rank2_pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
             CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0
                  ELSE round(CAST(rank2_pos - n_pos * (n_pos + 1) AS DOUBLE) /
                       ((2.0 * CAST(n_pos AS DOUBLE)) * CAST(n_neg AS DOUBLE)) *
                       1000000.0) END AS BIGINT) AS auc_ppm
      FROM agg ORDER BY feature"""))

  /** Calibration / reliability diagram of a per-mille confidence
    * score against the stopword label, plus the calibration-in-the-
    * large summary row — the "is this quality score a probability"
    * check run before using model scores to weight or threshold a
    * corpus. Confidence = min(1000, 50·stop_ratio_m) (the stump
    * margin scaled so the decision boundary sits at 1000), binned
    * into 10 equal-width bins; per bin: count, positives, summed
    * confidence, and exact-integer accuracy / mean-confidence / gap
    * in ppm. The ROLLUP total row (bin = −1) carries the overall
    * accuracy-vs-confidence gap.
    *
    * Everything is floor-division BIGINT arithmetic (1e6·n⁺ and
    * 1000·Σconf stay exact to ~10¹² rows), and the ROLLUP computes
    * bins + total in ONE corpus aggregate — no second scan for the
    * summary. */
  val calibration: Q = Q(
    "q_calibration",
    (s, dir) => {
      val feats = featureFrame(t(s, dir, "documents"))
      feats
        .select(
          least(lit(9L), expr("least(1000, 50 * stop_ratio_m) div 100")).as("bin"),
          when(col("y") === 1L, 1L).otherwise(0L).as("pos"),
          least(lit(1000L), lit(50L) * col("stop_ratio_m")).as("conf_m"))
        .rollup("bin")
        .agg(count(lit(1)).as("n"),
          sum(col("pos")).as("n_pos"),
          sum(col("conf_m")).as("sum_conf"))
        .select(coalesce(col("bin"), lit(-1L)).as("bin"),
          col("n"), col("n_pos"), col("sum_conf"))
        .withColumn("acc_ppm", expr("1000000 * n_pos div n"))
        .withColumn("conf_ppm", expr("1000 * sum_conf div n"))
        .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
        .orderBy("bin")
    },
    Some(s"""
      WITH $featsSql,
      scored AS (
        SELECT least(9, least(1000, 50 * stop_ratio_m) // 100) AS bin,
               CASE WHEN y = 1 THEN 1 ELSE 0 END AS pos,
               least(1000, 50 * stop_ratio_m) AS conf_m
        FROM feats),
      g AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos,
               CAST(sum(conf_m) AS BIGINT) AS sum_conf
        FROM scored GROUP BY ROLLUP(bin))
      SELECT CAST(coalesce(bin, -1) AS BIGINT) AS bin, n, n_pos, sum_conf,
             CAST(1000000 * n_pos // n AS BIGINT) AS acc_ppm,
             CAST(1000 * sum_conf // n AS BIGINT) AS conf_ppm,
             CAST(abs(1000 * sum_conf // n - 1000000 * n_pos // n) AS BIGINT) AS gap_ppm
      FROM g ORDER BY bin"""))

  /** Cohen's kappa for the lang-ID classifier — chance-corrected
    * agreement between predictions and gold labels, the single-number
    * complement to [[evalMetrics]]'s per-class table (accuracy alone
    * overstates a classifier that parrots the majority class).
    *
    * κ = (N·agree − Σ_c n_gold(c)·n_pred(c)) / (N² − Σ_c ...): both
    * numerator and denominator are exact BIGINTs (N² caps the
    * envelope at ~3·10⁹ documents, the established class), and the
    * final ratio is one IEEE division + round to ppm. Accuracy ppm
    * stays pure floor division.
    *
    * Scale shape: one corpus aggregate for (N, agree), two class-keyed
    * aggregates for the marginals, then everything is class-domain
    * (≤ |langs| rows) and 1-row arithmetic. */
  val cohensKappa: Q = Q(
    "q_cohens_kappa",
    (s, dir) => {
      val per = t(s, dir, "documents")
        .select(col("lang").as("gold"), TextStats.langPred.as("pred"))
      val overall = per.agg(count(lit(1)).as("n"),
        sum(when(col("gold") === col("pred"), 1L).otherwise(0L)).as("n_agree"))
      val chance = per.groupBy(col("gold").as("cls")).agg(count(lit(1)).as("ng"))
        .join(per.groupBy(col("pred").as("cls")).agg(count(lit(1)).as("np")), "cls")
        .agg(sum(col("ng") * col("np")).as("chance_cross"))
      overall.crossJoin(broadcast(chance))
        .select(col("n"), col("n_agree"),
          coalesce(col("chance_cross"), lit(0L)).as("chance_cross"))
        .withColumn("accuracy_ppm", expr("1000000 * n_agree div n"))
        .withColumn("kappa_ppm",
          when(col("n") * col("n") === col("chance_cross"), 0L)
            .otherwise(round((col("n") * col("n_agree") - col("chance_cross")).cast("double") /
              (col("n") * col("n") - col("chance_cross")).cast("double") *
              lit(1000000.0), 0).cast("long")))
    },
    Some(s"""
      WITH per AS (
        SELECT lang AS gold, ${TextStats.langPredSql} AS pred FROM documents),
      overall AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        FROM per),
      chance AS (
        SELECT CAST(coalesce(sum(ng * np), 0) AS BIGINT) AS chance_cross FROM (
          SELECT g.cls, g.ng, p.np FROM
            (SELECT gold AS cls, count(*) AS ng FROM per GROUP BY gold) g
            JOIN (SELECT pred AS cls, count(*) AS np FROM per GROUP BY pred) p
            USING (cls)))
      SELECT n, n_agree, chance_cross,
             CAST(1000000 * n_agree // n AS BIGINT) AS accuracy_ppm,
             CAST(CASE WHEN n * n = chance_cross THEN 0
                  ELSE round(CAST(n * n_agree - chance_cross AS DOUBLE) /
                       CAST(n * n - chance_cross AS DOUBLE) * 1000000.0)
                  END AS BIGINT) AS kappa_ppm
      FROM overall CROSS JOIN chance"""))

  /** Distributed logistic-regression TRAINING by full-batch gradient
    * descent in exact fixed-point arithmetic — the "train the quality
    * classifier on-cluster" operator ([[qualityStump]] finds one
    * split; this fits a weighted linear decision over the same kind
    * of features). Four unrolled iterations; the output row per
    * iteration carries the pre-update loss/accuracy and the updated
    * micro-unit weights, so the oracle hash pins the ENTIRE training
    * trajectory, not just the final model.
    *
    * Exactness recipe (why this hash-matches across engines, despite
    * gradient descent being float math): weights live as micro-unit
    * BIGINTs; the logit z = Σ wⱼxⱼ is an exact integer; z is clamped
    * to ±20e6 micro before the one IEEE sigmoid/softplus evaluation
    * per row (clamp prevents exp overflow AND keeps the downstream
    * doubles in well-conditioned range); each row's gradient
    * contribution is rounded to an integer micro-unit BEFORE the sum,
    * so the aggregate is an order-free BIGINT sum (a raw double sum
    * would hash-diverge under Spark's nondeterministic reduction
    * order); the weight update floor-divides by n·64 (floor, not
    * cast: DuckDB rounds on double→int casts, Spark truncates — floor
    * agrees everywhere and the quotient is < 2⁵³ so the double
    * division is exact to the unit).
    *
    * Scale shape: the feature frame is one corpus scan (integer
    * token/stopword counts per doc); each iteration is ONE map-side-
    * combinable aggregate over it with the 1-row weight frame
    * broadcast — the allreduce pattern of synchronous distributed
    * SGD. Iterations chain as plan dependencies (no driver collect;
    * the 4-row result materializes once at the sink). Label: the
    * quality gate's stopword rule 50·s ≥ n, so the learned margin
    * feature x1 = 50s−n must dominate — accuracy climbing to ~0.98
    * by iteration 4 is pinned in the hash. */
  val logregTrain: Q = Q(
    "q_logreg_train",
    (s, dir) => {
      val iters = 4
      val lrDiv = 64
      val toks = split(trim(col("text")), "\\s+")
      // persisted: the union of per-iteration stat rows references the
      // feature frame from ~10 chained subtrees (iteration i's weights
      // embed every earlier aggregate) — one 32-byte-per-doc scan
      // cached instead of re-tokenizing the corpus per subtree; at
      // production scale this is the "materialize the design matrix
      // once" step of any distributed trainer. Released after the
      // 4-row result itself materializes (RecallAudit pattern).
      val feats = keep(t(s, dir, "documents").select(
        lit(1L).as("x0"),
        (lit(50L) * size(filter(toks, tk => tk === "a" || tk === "the")).cast("long") -
          size(toks).cast("long")).as("x1"),
        size(toks).cast("long").as("x2"),
        when(lit(50L) * size(filter(toks, tk => tk === "a" || tk === "the")).cast("long") >=
          size(toks).cast("long"), 1L).otherwise(0L).as("y")))
      // Synchronous distributed GD: each iteration is ONE map-side-
      // combinable aggregate over the cached feature frame (the
      // allreduce), whose single 6-long row comes to the driver — the
      // parameter-server step, a bounded collect like PCA's d×d Gram.
      // Weights are exact micro-unit longs; every cross-engine-
      // sensitive rounding happens per-row BEFORE the order-free
      // BIGINT sums, so the trajectory below is bit-identical to the
      // oracle's unrolled CTE chain.
      var w0 = 0L; var w1 = 0L; var w2 = 0L
      val stats = (1 to iters).map { it =>
        val z = lit(w0) * col("x0") + lit(w1) * col("x1") + lit(w2) * col("x2")
        val row = feats
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
        val (loss, correct, n) = (row.getLong(3), row.getLong(4), row.getLong(5))
        // floor division via exact double quotient (< 2^53), matching
        // the oracle's floor(): DuckDB rounds double→int casts while
        // Spark truncates, so floor is the only spelling that agrees
        w0 -= math.floor(g0.toDouble / (n * lrDiv)).toLong
        w1 -= math.floor(g1.toDouble / (n * lrDiv)).toLong
        w2 -= math.floor(g2.toDouble / (n * lrDiv)).toLong
        (it.toLong, loss, correct, w0, w1, w2)
      }
      feats.unpersist()
      import s.implicits._
      stats.toDF("iter", "loss_micro", "n_correct", "w0_next", "w1_next", "w2_next")
        .orderBy("iter")
    },
    Some("""
      WITH f AS (
        SELECT CAST(1 AS BIGINT) AS x0,
               CAST(50 * len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                         tk -> tk IN ('a','the')))
                    - len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS x1,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS x2,
               CAST(CASE WHEN 50 * len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                                   tk -> tk IN ('a','the')))
                          >= len(regexp_split_to_array(trim(text), '\s+'))
                    THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM documents),
      w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2),
      a1 AS (
        SELECT sum(gm*x0) AS g0, sum(gm*x1) AS g1, sum(gm*x2) AS g2,
               CAST(sum(lterm) AS BIGINT) AS loss_micro,
               CAST(sum(ok) AS BIGINT) AS n_correct, count(*) AS n
        FROM (
          SELECT x0, x1, x2, y,
                 CAST(round(1e6 * (1.0/(1.0+exp(-zc/1000000.0)) - y)) AS BIGINT) AS gm,
                 CAST(round(1e6 * ln(1.0 + exp(-(CASE WHEN y=1 THEN zc ELSE -zc END)/1000000.0))) AS BIGINT) AS lterm,
                 CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END AS ok
          FROM (SELECT f.*, w0.w0*x0 + w0.w1*x1 + w0.w2*x2 AS z,
                       greatest(-20000000, least(20000000, w0.w0*x0 + w0.w1*x1 + w0.w2*x2)) AS zc
                FROM f, w0))),
      w1t AS (SELECT CAST(w0.w0 - floor(a1.g0/(a1.n*64.0)) AS BIGINT) AS w0,
                     CAST(w0.w1 - floor(a1.g1/(a1.n*64.0)) AS BIGINT) AS w1,
                     CAST(w0.w2 - floor(a1.g2/(a1.n*64.0)) AS BIGINT) AS w2
              FROM a1, w0),
      a2 AS (
        SELECT sum(gm*x0) AS g0, sum(gm*x1) AS g1, sum(gm*x2) AS g2,
               CAST(sum(lterm) AS BIGINT) AS loss_micro,
               CAST(sum(ok) AS BIGINT) AS n_correct, count(*) AS n
        FROM (
          SELECT x0, x1, x2, y,
                 CAST(round(1e6 * (1.0/(1.0+exp(-zc/1000000.0)) - y)) AS BIGINT) AS gm,
                 CAST(round(1e6 * ln(1.0 + exp(-(CASE WHEN y=1 THEN zc ELSE -zc END)/1000000.0))) AS BIGINT) AS lterm,
                 CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END AS ok
          FROM (SELECT f.*, w1t.w0*x0 + w1t.w1*x1 + w1t.w2*x2 AS z,
                       greatest(-20000000, least(20000000, w1t.w0*x0 + w1t.w1*x1 + w1t.w2*x2)) AS zc
                FROM f, w1t))),
      w2t AS (SELECT CAST(w1t.w0 - floor(a2.g0/(a2.n*64.0)) AS BIGINT) AS w0,
                     CAST(w1t.w1 - floor(a2.g1/(a2.n*64.0)) AS BIGINT) AS w1,
                     CAST(w1t.w2 - floor(a2.g2/(a2.n*64.0)) AS BIGINT) AS w2
              FROM a2, w1t),
      a3 AS (
        SELECT sum(gm*x0) AS g0, sum(gm*x1) AS g1, sum(gm*x2) AS g2,
               CAST(sum(lterm) AS BIGINT) AS loss_micro,
               CAST(sum(ok) AS BIGINT) AS n_correct, count(*) AS n
        FROM (
          SELECT x0, x1, x2, y,
                 CAST(round(1e6 * (1.0/(1.0+exp(-zc/1000000.0)) - y)) AS BIGINT) AS gm,
                 CAST(round(1e6 * ln(1.0 + exp(-(CASE WHEN y=1 THEN zc ELSE -zc END)/1000000.0))) AS BIGINT) AS lterm,
                 CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END AS ok
          FROM (SELECT f.*, w2t.w0*x0 + w2t.w1*x1 + w2t.w2*x2 AS z,
                       greatest(-20000000, least(20000000, w2t.w0*x0 + w2t.w1*x1 + w2t.w2*x2)) AS zc
                FROM f, w2t))),
      w3t AS (SELECT CAST(w2t.w0 - floor(a3.g0/(a3.n*64.0)) AS BIGINT) AS w0,
                     CAST(w2t.w1 - floor(a3.g1/(a3.n*64.0)) AS BIGINT) AS w1,
                     CAST(w2t.w2 - floor(a3.g2/(a3.n*64.0)) AS BIGINT) AS w2
              FROM a3, w2t),
      a4 AS (
        SELECT sum(gm*x0) AS g0, sum(gm*x1) AS g1, sum(gm*x2) AS g2,
               CAST(sum(lterm) AS BIGINT) AS loss_micro,
               CAST(sum(ok) AS BIGINT) AS n_correct, count(*) AS n
        FROM (
          SELECT x0, x1, x2, y,
                 CAST(round(1e6 * (1.0/(1.0+exp(-zc/1000000.0)) - y)) AS BIGINT) AS gm,
                 CAST(round(1e6 * ln(1.0 + exp(-(CASE WHEN y=1 THEN zc ELSE -zc END)/1000000.0))) AS BIGINT) AS lterm,
                 CASE WHEN (z >= 0) = (y = 1) THEN 1 ELSE 0 END AS ok
          FROM (SELECT f.*, w3t.w0*x0 + w3t.w1*x1 + w3t.w2*x2 AS z,
                       greatest(-20000000, least(20000000, w3t.w0*x0 + w3t.w1*x1 + w3t.w2*x2)) AS zc
                FROM f, w3t))),
      w4t AS (SELECT CAST(w3t.w0 - floor(a4.g0/(a4.n*64.0)) AS BIGINT) AS w0,
                     CAST(w3t.w1 - floor(a4.g1/(a4.n*64.0)) AS BIGINT) AS w1,
                     CAST(w3t.w2 - floor(a4.g2/(a4.n*64.0)) AS BIGINT) AS w2
              FROM a4, w3t)
      SELECT CAST(1 AS BIGINT) AS iter, a1.loss_micro, a1.n_correct,
             w1t.w0 AS w0_next, w1t.w1 AS w1_next, w1t.w2 AS w2_next FROM a1, w1t
      UNION ALL
      SELECT CAST(2 AS BIGINT), a2.loss_micro, a2.n_correct,
             w2t.w0, w2t.w1, w2t.w2 FROM a2, w2t
      UNION ALL
      SELECT CAST(3 AS BIGINT), a3.loss_micro, a3.n_correct,
             w3t.w0, w3t.w1, w3t.w2 FROM a3, w3t
      UNION ALL
      SELECT CAST(4 AS BIGINT), a4.loss_micro, a4.n_correct,
             w4t.w0, w4t.w1, w4t.w2 FROM a4, w4t
      ORDER BY iter"""))

  /** Mutual information I(F;Y) between each quality feature and the
    * gate label — the feature-RANKING companion to the chi-square
    * independence audit (chi² answers "is there any association?",
    * MI answers "how many nats does knowing F buy about Y?" — the
    * quantity GBDT/feature-selection pipelines actually rank by).
    *
    * Exactness (the established KL recipe): every (value, label)
    * cell contributes round(1e6 · (c_vy/N) · ln(c_vy·N / (c_v·c_y)))
    * — one IEEE ln of a ratio of exact BIGINT products (≤ 2.5·10⁷
    * here; < 2⁵³ envelope), rounded to integer micro-nats BEFORE the
    * order-free per-feature sum. Absent cells are exact zeros and
    * never materialize. Cell/marginal counts come from windows over
    * the (feature, value, label) histogram — domain-bounded, never
    * corpus-sized. */
  val miFeatures: Q = Q(
    "q_mi_features",
    (s, dir) => {
      val feats = featureFrame(t(s, dir, "documents"))
      val long_ = feats
        .select(col("y"), explode(array(
          Seq("stop_ratio_m", "rep_ratio_m", "mean_wlen_c", "n_tok").map(f =>
            struct(lit(f).as("feature"), col(f).as("v"))): _*)).as("fv"))
        .select(col("fv.feature").as("feature"), col("fv.v").as("v"), col("y"))
      val cells = long_.groupBy("feature", "v", "y").agg(count(lit(1)).as("c_vy"))
      val wv = Window.partitionBy("feature", "v")
      val wy = Window.partitionBy("feature", "y")
      val wf = Window.partitionBy("feature")
      val terms = cells
        .withColumn("c_v", sum(col("c_vy")).over(wv))
        .withColumn("c_y", sum(col("c_vy")).over(wy))
        .withColumn("n", sum(col("c_vy")).over(wf))
        .withColumn("t", round(
          log((col("c_vy") * col("n")).cast("double") /
            (col("c_v") * col("c_y")).cast("double")) *
            (col("c_vy").cast("double") / col("n").cast("double")) * 1e6, 0)
          .cast("long"))
      terms.groupBy("feature")
        .agg(countDistinct(col("v")).as("n_values"),
          sum(col("t")).as("mi_micro"))
        .select(col("feature"), col("n_values"), col("mi_micro"),
          (col("mi_micro").cast("double") / 1e6).as("mi_nats"))
        .orderBy("feature")
    },
    Some(s"""
      WITH $featsSql,
      lng AS (
        SELECT 'stop_ratio_m' AS feature, stop_ratio_m AS v, y FROM feats
        UNION ALL
        SELECT 'rep_ratio_m', rep_ratio_m, y FROM feats
        UNION ALL
        SELECT 'mean_wlen_c', mean_wlen_c, y FROM feats
        UNION ALL
        SELECT 'n_tok', n_tok, y FROM feats),
      cells AS (
        SELECT feature, v, y, CAST(count(*) AS BIGINT) AS c_vy
        FROM lng GROUP BY feature, v, y),
      terms AS (
        SELECT feature, v,
               CAST(round(ln(CAST(c_vy * n AS DOUBLE) / CAST(c_v * c_y AS DOUBLE)) *
                 (CAST(c_vy AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS t
        FROM (
          SELECT feature, v, y, c_vy,
                 sum(c_vy) OVER (PARTITION BY feature, v) AS c_v,
                 sum(c_vy) OVER (PARTITION BY feature, y) AS c_y,
                 sum(c_vy) OVER (PARTITION BY feature) AS n
          FROM cells))
      SELECT feature,
             CAST(count(DISTINCT v) AS BIGINT) AS n_values,
             CAST(sum(t) AS BIGINT) AS mi_micro,
             CAST(sum(t) AS DOUBLE) / 1e6 AS mi_nats
      FROM terms GROUP BY feature ORDER BY feature"""))

  /** Multinomial Naive Bayes, trained AND applied in one query — the
    * classical fastText-before-fastText baseline for language ID /
    * domain routing, here over the `documents` corpus: train token
    * counts per language on the ≢0 (mod 5) docs, Laplace-smooth,
    * classify the held-out ≡0 (mod 5) docs, and emit the confusion
    * matrix. The iconic failure mode of distributed NB — drifting
    * float log-sums that flip argmaxes between engines — is gone by
    * the repo's micro-nat contract: each per-(token, class) weight is
    * ONE IEEE ln of an exact integer ratio rounded to integer
    * micro-nats, per-document scores are exact BIGINT dot products
    * tf·w, and argmax ties break on the class name; the oracle
    * re-derives training and inference wholesale, so the model
    * weights AND every prediction are in the driver's hash.
    *
    * Unseen tokens take the class's Laplace floor ln(1/(N_c+V)) via
    * coalesce — including tokens absent from the train vocabulary
    * entirely (they shift every class by its floor, never select).
    *
    * Scale shape: training is the two-level vocabulary aggregate
    * ((token, class) counts — never corpus-pair-shaped); inference
    * joins test term frequencies against the weight table on the
    * token (vocabulary-keyed, AQE-broadcastable) after a small
    * cross join with the C-row class table; the per-doc argmax is a
    * doc-keyed window. One corpus scan per side, one hash shuffle
    * each on token and doc. */
  /** NB core: train on `(doc_id, label, tok)` occurrences, classify
    * test docs of the same shape. Returns one row per test doc:
    * `(doc_id, label, pred)`. Factored out so specs can feed a
    * vocabulary-separable fixture (the harness corpus shares one
    * vocabulary across langs, so its confusion matrix mostly
    * exercises priors — a learning proof needs separable classes). */
  def nbClassify(train: DataFrame, test: DataFrame): DataFrame = {
    // class totals: docs (priors) and token occurrences
    val classes = train.groupBy(col("label").as("c"))
      .agg(countDistinct(col("doc_id")).as("d_c"), count(lit(1)).as("n_c"))
    val totals = classes.agg(sum(col("d_c")).as("d_all"))
    val vocabN = train.agg(countDistinct(col("tok")).as("v_n"))
    val cls = classes.crossJoin(broadcast(totals)).crossJoin(broadcast(vocabN))
      .select(col("c"), col("n_c"), col("v_n"),
        round(log(col("d_c").cast("double") / col("d_all").cast("double")) * 1e6, 0)
          .cast("long").as("prior_micro"),
        round(log(lit(1.0) / (col("n_c") + col("v_n")).cast("double")) * 1e6, 0)
          .cast("long").as("floor_micro"))
      // no-op bound (|classes| = |distinct labels|, single digits
      // here): makes maxRows provable so the inference cross join
      // below passes the registry-wide cross-join sweep
      .limit(64)
    val weights = train.groupBy(col("tok"), col("label").as("c"))
      .agg(count(lit(1)).as("c_tc"))
      .join(cls, Seq("c"))
      .select(col("tok"), col("c"),
        round(log((col("c_tc") + 1).cast("double") /
          (col("n_c") + col("v_n")).cast("double")) * 1e6, 0)
          .cast("long").as("w_micro"))
    val tf = test.groupBy(col("doc_id"), col("label"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val scored = tf
      .crossJoin(cls.select(col("c"), col("prior_micro"), col("floor_micro")))
      .join(weights, Seq("tok", "c"), "left")
      .groupBy(col("doc_id"), col("label"), col("c"))
      .agg((max(col("prior_micro")) +
        sum(col("tf") * coalesce(col("w_micro"), col("floor_micro")))).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("c").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label"), col("c").as("pred"))
  }

  val nbTrain: Q = Q(
    "q_nb_train",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("label"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      nbClassify(toks.filter(col("doc_id") % 5 =!= 0),
          toks.filter(col("doc_id") % 5 === 0))
        .groupBy(col("label").as("true_lang"), col("pred").as("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("true_lang", "pred_lang")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
      train AS (SELECT * FROM toks WHERE doc_id % 5 <> 0),
      test AS (SELECT * FROM toks WHERE doc_id % 5 = 0),
      classes AS (
        SELECT lang AS c, count(DISTINCT doc_id) AS d_c, count(*) AS n_c
        FROM train GROUP BY lang),
      totals AS (SELECT sum(d_c) AS d_all FROM classes),
      vocab AS (SELECT count(DISTINCT tok) AS v_n FROM train),
      cls AS (
        SELECT c, n_c, v_n,
               CAST(round(ln(CAST(d_c AS DOUBLE) / CAST(d_all AS DOUBLE)) * 1e6)
                 AS BIGINT) AS prior_micro,
               CAST(round(ln(1.0 / CAST(n_c + v_n AS DOUBLE)) * 1e6)
                 AS BIGINT) AS floor_micro
        FROM classes, totals, vocab),
      weights AS (
        SELECT t.tok, t.c,
               CAST(round(ln(CAST(t.c_tc + 1 AS DOUBLE) /
                 CAST(cls.n_c + cls.v_n AS DOUBLE)) * 1e6) AS BIGINT) AS w_micro
        FROM (SELECT tok, lang AS c, count(*) AS c_tc
              FROM train GROUP BY tok, lang) t
        JOIN cls ON t.c = cls.c),
      tf AS (
        SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS tf
        FROM test GROUP BY doc_id, lang, tok),
      scored AS (
        SELECT tf.doc_id, tf.lang, cls.c,
               max(cls.prior_micro) +
                 sum(tf.tf * coalesce(w.w_micro, cls.floor_micro)) AS score
        FROM tf
        CROSS JOIN cls
        LEFT JOIN weights w ON w.tok = tf.tok AND w.c = cls.c
        GROUP BY tf.doc_id, tf.lang, cls.c),
      pred AS (
        SELECT doc_id, lang, c,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, c ASC) AS rn
        FROM scored)
      SELECT lang AS true_lang, c AS pred_lang,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM pred WHERE rn = 1
      GROUP BY lang, c ORDER BY true_lang, pred_lang"""))

  /** Decile gains/lift table — the campaign-targeting complement of
    * [[rocAuc]]: rank the population by a model score, cut it into 10
    * equal-depth deciles, and report per-decile positive capture and
    * lift. The ranking is [[graft.ops.Ranks.globalOrder]] WITH its
    * running-sum channel (rank and cumulative positives fall out of
    * the same two-level scan — no unpartitioned window anywhere), the
    * decile boundary is pure integer arithmetic on the global rank,
    * and lift/capture are exact integer permille, so the whole table
    * hash-oracles against DuckDB's single-window formulation.
    *
    * Score = order value in exact cents, label = fulfilled status —
    * "does order size predict fulfillment" — with the order key as
    * the determinism tiebreaker. */
  val liftCurve: Q = Q(
    "q_lift_curve",
    (s, dir) => {
      val scored = t(s, dir, "orders").select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("score"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("label"))
      val ranked = graft.ops.Ranks.globalOrder(scored,
        Seq(col("score").desc, col("o_orderkey").asc), "rank",
        runningSum = Some((col("label"), "cum_pos")))
      val tot = ranked.agg(count(lit(1)).as("n"), sum(col("label")).as("pos"))
      ranked.crossJoin(broadcast(tot))
        .withColumn("decile", expr("((rank - 1) * 10) div n"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_d"), sum(col("label")).as("pos_d"),
          max(col("cum_pos")).as("cum_pos"),
          max(col("n")).as("n"), max(col("pos")).as("pos"))
        .select(col("decile"), col("n_d"), col("pos_d"),
          expr("(cum_pos * 1000) div pos").as("capture_permille"),
          expr("(pos_d * n * 1000) div (n_d * pos)").as("lift_permille"))
        .orderBy("decile")
    },
    Some("""
      WITH scored AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS score,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        FROM orders),
      ranked AS (
        SELECT *,
               CAST(row_number() OVER w AS BIGINT) AS rank,
               CAST(sum(label) OVER (ORDER BY score DESC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_pos
        FROM scored
        WINDOW w AS (ORDER BY score DESC, o_orderkey ASC)),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(label) AS BIGINT) AS pos FROM scored)
      SELECT ((rank - 1) * 10) // n AS decile,
             CAST(count(*) AS BIGINT) AS n_d,
             CAST(sum(label) AS BIGINT) AS pos_d,
             (max(cum_pos) * 1000) // pos AS capture_permille,
             (CAST(sum(label) AS BIGINT) * max(n) * 1000) // (count(*) * pos) AS lift_permille
      FROM ranked CROSS JOIN tot
      GROUP BY ((rank - 1) * 10) // n, pos
      ORDER BY decile"""))

  /** ISOTONIC REGRESSION (exact, fully oracled) — the monotone
    * calibration curve P(purchase | value-level) fitted by PAVA's
    * CLOSED FORM: fitted(i) = max_{j≤i} min_{k≥i} avg(y[j..k]), the
    * minimax characterization of the isotonic L2 projection. The
    * sequential pool-adjacent-violators loop everyone implements is
    * NOT needed: over a BOUNDED score domain (m = 32 value-levels)
    * the minimax evaluates as two grouped min/max passes over the
    * m³ ≤ 32k (i, j, k) triples — a shape BOTH engines state
    * declaratively, which is what makes exact isotonic regression
    * hash-oracleable at all. (ClassifierSpec pins minimax ≡ the
    * textbook PAVA pooling loop on randomized cases.)
    *
    * Scale shape: ONE corpus scan aggregates to the m-row level
    * frame; every window/join after that is level-domain-sized
    * (m² intervals, m³ triples — constants, not data). Interval
    * means are single IEEE divisions of exact BIGINT prefix-sum
    * differences (denominator ≥ 1 by construction: every interval
    * contains its own level's rows), min/max over engine-identical
    * doubles, rounded once to micro. A 100 TB calibration set pays
    * the one scan. */
  /** Minimax isotonic fit over a (level, n, n_pos) frame — factored
    * so the spec can pin it against the textbook PAVA pooling loop on
    * randomized level frames. */
  private[graft] def isotonicFit(g: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // level-domain frame: interval ends + probe side
    val p = keep(g
      .withColumn("cn", sum(col("n")).over(Window.orderBy("level")))
      .withColumn("cpos", sum(col("n_pos")).over(Window.orderBy("level"))))
    val ivl = p.select(col("level").as("j"),
        (col("cn") - col("n")).as("cn0"), (col("cpos") - col("n_pos")).as("cpos0"))
      .join(p.select(col("level").as("k"), col("cn").as("cnk"),
        col("cpos").as("cposk")), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cposk") - col("cpos0")).cast("double") /
          (col("cnk") - col("cn0")).cast("double")).as("avg"))
    val fitted = p.select(col("level").as("i"))
      .join(ivl, col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min(col("avg")).as("minavg"))
      .groupBy("i").agg(max(col("minavg")).as("fitted"))
    g.join(fitted, col("level") === col("i"))
      .select(col("level"), col("n"), col("n_pos"),
        round(col("fitted") * 1e6, 0).cast("long").as("fitted_micro"))
      .orderBy("level")
  }

  val isotonic: Q = Q(
    "q_isotonic",
    (s, dir) => isotonicFit(
      t(s, dir, "events")
        .select(least(lit(31L), floor(col("value") / 20).cast("long")).as("level"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        .groupBy("level")
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))),
    Some("""
      WITH scored AS (
        SELECT least(31, CAST(floor(value / 20) AS BIGINT)) AS level,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events),
      g AS (
        SELECT level, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY level),
      p AS (
        SELECT level, n, n_pos,
               CAST(sum(n) OVER (ORDER BY level) AS BIGINT) AS cn,
               CAST(sum(n_pos) OVER (ORDER BY level) AS BIGINT) AS cpos
        FROM g),
      ivl AS (
        SELECT pj.level AS j, pk.level AS k,
               CAST(pk.cpos - (pj.cpos - pj.n_pos) AS DOUBLE) /
                 CAST(pk.cn - (pj.cn - pj.n) AS DOUBLE) AS avg
        FROM p pj JOIN p pk ON pj.level <= pk.level),
      mn AS (
        SELECT i.level AS level, ivl.j, min(ivl.avg) AS minavg
        FROM p i JOIN ivl ON ivl.j <= i.level AND ivl.k >= i.level
        GROUP BY i.level, ivl.j),
      ff AS (SELECT level, max(minavg) AS fitted FROM mn GROUP BY level)
      SELECT g.level, g.n, g.n_pos,
             CAST(round(fitted * 1e6) AS BIGINT) AS fitted_micro
      FROM g JOIN ff ON g.level = ff.level
      ORDER BY g.level"""))

  /** DEPTH-2 DECISION TREE, exactly — [[qualityStump]]'s histogram
    * split-finder CHAINED: the root split is the accuracy-argmax over
    * all (feature, threshold, polarity) candidates, the two branches
    * then re-run the same exact histogram pass partitioned by branch.
    * Target: lang = 'en' (the stump features carry stopword/wordlen
    * signal the langId heuristic itself uses, so the splits are
    * meaningful but NOT perfect — both levels do real work, unlike
    * the stopword label whose root split is already pure).
    *
    * Determinism is the argmax discipline: winners are picked by
    * (correct DESC, feature ASC, polarity ASC, threshold ASC) — a
    * total order both engines state identically (Spark:
    * TakeOrdered 1 / a row_number window over the branch-domain
    * candidate frame; DuckDB: the same ORDER BY). Counts are all
    * BIGINT histogram sums; no doubles anywhere.
    *
    * Scale shape: TWO corpus-histogram passes (one per level — the
    * distributed-GBDT cadence), each map-side-combinable, windows
    * only over the (feature × distinct-value) aggregate; the root
    * pick is a bounded 1-row collect, branch assignment one
    * doc-keyed join. Output: the fitted tree (root + per-branch
    * splits with their best-leaf correct counts). */
  /** Histogram split-scorer shared by the tree/boosting family:
    * cumulative label counts over the (extraKey × feature, value)
    * histogram — map-side-combinable, windows only over the
    * domain-bounded aggregate (the [[qualityStump]] shape). */
  private def scoredOf(df: DataFrame, extraKey: Seq[String]): DataFrame = {
    val keys = (extraKey :+ "feature").map(col)
    val hist = df.groupBy((extraKey ++ Seq("feature", "v")).map(col): _*)
      .agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("neg"))
    val w = Window.partitionBy(keys: _*).orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(keys: _*)
    hist
      .withColumn("cum_pos", sum(col("pos")).over(w))
      .withColumn("cum_neg", sum(col("neg")).over(w))
      .withColumn("tot_pos", sum(col("pos")).over(tot))
      .withColumn("tot_neg", sum(col("neg")).over(tot))
      .withColumn("c_gt", col("tot_pos") - col("cum_pos") + col("cum_neg"))
      .withColumn("c_le", col("cum_pos") + col("tot_neg") - col("cum_neg"))
  }

  /** Both-polarity candidate table over [[scoredOf]]'s output. */
  private def candidatesOf(scored: DataFrame, extra: Seq[String]): DataFrame = {
    val base = (extra ++ Seq("feature", "v")).map(col)
    scored.select(base :+ lit("gt").as("pol") :+ col("c_gt").as("correct"): _*)
      .unionByName(scored.select(
        base :+ lit("le").as("pol") :+ col("c_le").as("correct"): _*))
  }

  /** The en-label (feature, value, y) long frame both [[treeDepth2]]
    * and [[gbStep]] fit over: 4 per-feature pairs melted through ONE
    * in-row explode (a union of per-feature selects would replay the
    * tokenStats scan per feature). */
  private def enLongFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val feats = featureFrame(docs)
      .join(docs.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(-1L).as("y2")), "doc_id")
    feats.select(col("doc_id"), col("y2").as("y"), explode(array(
        Seq("stop_ratio_m", "rep_ratio_m", "mean_wlen_c", "n_tok").map(f =>
          struct(lit(f).as("feature"), col(f).as("v"))): _*)).as("fv"))
      .select(col("doc_id"), col("fv.feature").as("feature"),
        col("fv.v").as("v"), col("y"))
  }

  /** Depth-2 tree fit as a CTE chain (f2 … best2), shared verbatim by
    * the [[treeDepth2]] and [[gbStep]] oracles. */
  private val treeCtesSql: String = """f2 AS (
        SELECT f.doc_id,
               CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END AS y,
               f.stop_ratio_m, f.rep_ratio_m, f.mean_wlen_c, f.n_tok
        FROM feats f JOIN documents d USING (doc_id)),
      lng AS (
        SELECT doc_id, 'stop_ratio_m' AS feature, stop_ratio_m AS v, y FROM f2
        UNION ALL SELECT doc_id, 'rep_ratio_m', rep_ratio_m, y FROM f2
        UNION ALL SELECT doc_id, 'mean_wlen_c', mean_wlen_c, y FROM f2
        UNION ALL SELECT doc_id, 'n_tok', n_tok, y FROM f2),
      s1 AS (
        SELECT feature, v,
               sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS neg
        FROM lng GROUP BY feature, v),
      c1 AS (
        SELECT feature, v,
               sum(pos) OVER (PARTITION BY feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_pos,
               sum(neg) OVER (PARTITION BY feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_neg,
               sum(pos) OVER (PARTITION BY feature) AS tot_pos,
               sum(neg) OVER (PARTITION BY feature) AS tot_neg
        FROM s1),
      cand1 AS (
        SELECT feature, v, 'gt' AS pol,
               tot_pos - cum_pos + cum_neg AS correct FROM c1
        UNION ALL
        SELECT feature, v, 'le', cum_pos + tot_neg - cum_neg FROM c1),
      root AS (
        SELECT feature, v, correct FROM cand1
        ORDER BY correct DESC, feature, pol, v LIMIT 1),
      br AS (
        SELECT l.doc_id,
               CASE WHEN l.v <= root.v THEN 'le' ELSE 'gt' END AS branch
        FROM lng l, root WHERE l.feature = root.feature),
      lng2 AS (SELECT l.doc_id, br.branch, l.feature, l.v, l.y
               FROM lng l JOIN br USING (doc_id)),
      s2 AS (
        SELECT branch, feature, v,
               sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS neg
        FROM lng2 GROUP BY branch, feature, v),
      c2 AS (
        SELECT branch, feature, v,
               sum(pos) OVER (PARTITION BY branch, feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_pos,
               sum(neg) OVER (PARTITION BY branch, feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_neg,
               sum(pos) OVER (PARTITION BY branch, feature) AS tot_pos,
               sum(neg) OVER (PARTITION BY branch, feature) AS tot_neg
        FROM s2),
      cand2 AS (
        SELECT branch, feature, v, 'gt' AS pol,
               tot_pos - cum_pos + cum_neg AS correct FROM c2
        UNION ALL
        SELECT branch, feature, v, 'le', cum_pos + tot_neg - cum_neg FROM c2),
      best2 AS (
        SELECT branch, feature, v, correct,
               row_number() OVER (PARTITION BY branch
                 ORDER BY correct DESC, feature, pol, v) AS rk
        FROM cand2)"""

  val treeDepth2: Q = Q(
    "q_tree_depth2",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val feats = featureFrame(docs)
        .join(docs.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("y2")), "doc_id")
      val long = keep(feats.select(col("doc_id"), col("y2").as("y"), explode(array(
          Seq("stop_ratio_m", "rep_ratio_m", "mean_wlen_c", "n_tok").map(f =>
            struct(lit(f).as("feature"), col(f).as("v"))): _*)).as("fv"))
        .select(col("doc_id"), col("fv.feature").as("feature"),
          col("fv.v").as("v"), col("y"))) // level-1 histogram + branch lookup + level-2 histogram
      val rootRow = candidatesOf(scoredOf(long, Nil), Nil)
        .orderBy(col("correct").desc, col("feature"), col("pol"), col("v"))
        .limit(1).head()
      val (rf, rthr, rcorrect) =
        (rootRow.getAs[String]("feature"), rootRow.getAs[Long]("v"),
          rootRow.getAs[Long]("correct"))
      // |feats| from the PERSISTED long frame (exactly 4 feature rows
      // per doc by construction) — feats.count() would replay the
      // whole unpersisted tokenStats pass for one scalar
      val nTotal = long.filter(col("feature") === "n_tok").count()
      val branch = long.filter(col("feature") === rf)
        .select(col("doc_id"),
          when(col("v") <= rthr, "le").otherwise("gt").as("branch"))
      val long2 = long.join(branch, "doc_id")
      val cand2 = candidatesOf(scoredOf(long2, Seq("branch")), Seq("branch"))
      val wB = Window.partitionBy("branch")
        .orderBy(col("correct").desc, col("feature"), col("pol"), col("v"))
      val best2 = cand2.withColumn("rk", row_number().over(wB))
        .filter(col("rk") === 1)
        .join(long2.groupBy("branch")
          .agg(countDistinct(col("doc_id")).as("n")), "branch")
        .select(col("branch").as("node"), col("feature"), col("v").as("thr"),
          col("n"), col("correct"))
      val rootOut = s.createDataFrame(Seq(("root", rf, rthr, nTotal, rcorrect)))
        .toDF("node", "feature", "thr", "n", "correct")
      rootOut.unionByName(best2).orderBy("node")
    },
    Some(s"""
      WITH $featsSql,
      $treeCtesSql,
      bn AS (SELECT branch, CAST(count(DISTINCT doc_id) AS BIGINT) AS n
             FROM lng2 GROUP BY branch),
      nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f2)
      SELECT 'root' AS node, root.feature, CAST(root.v AS BIGINT) AS thr,
             nt.n, CAST(root.correct AS BIGINT) AS correct
      FROM root, nt
      UNION ALL
      SELECT b.branch, b.feature, CAST(b.v AS BIGINT), bn.n,
             CAST(b.correct AS BIGINT)
      FROM best2 b JOIN bn USING (branch) WHERE b.rk = 1
      ORDER BY node"""))

  /** RANDOM FOREST of decision stumps — [[qualityStump]]'s exact
    * histogram split-finder BAGGED: B = 8 derandomized Poisson(1)
    * bootstrap replicas (the [[Events.bootstrapCi]] Lehmer coin,
    * reseeded per (doc, bag)), each fitting the accuracy-optimal
    * weighted stump over a 3-of-4 feature subset (the deterministic
    * cyclic triple {b, b+1, b+2} mod 4 over the alphabetical feature
    * order, so both engines state the identical ensemble). Target:
    * the stopword-gate label of [[qualityStump]] — expressible by
    * stop_ratio_m, so the 6 bags whose subset contains it must find a
    * PERFECT in-bag split while the 2 that exclude it (b ∈ {0, 4})
    * top out lower; the fitted table itself certifies subset
    * discipline, and the oracle hash pins all of it.
    *
    * Bagging at corpus scale is a row-local explode, never a
    * resample: each document draws an independent integer Poisson(1)
    * multiplicity per bag (the exact trick of [[Events.bootstrapCi]]),
    * so all 8 replicas train in ONE pass over a (doc × bag)
    * histogram — map-side-combinable, no corpus-sized window, no
    * driver loop. Weighted counts stay BIGINT end to end; winners are
    * picked by the (correct DESC, feature, pol, v) total order.
    *
    * Out-of-bag floor: documents with w = 0 in bag b are that stump's
    * heldout; the forest's OOB majority vote (ties → the −1 majority
    * class) must beat the majority-class rate by ≥ 3 points — the
    * in-query degradation alarm for a broken coin, subset rule, or
    * split-finder (measured OOB ≈ 998‰ vs 884‰ baseline at sf0.01,
    * 999‰ vs 892‰ at sf0.1; floor at baseline + 30‰ leaves wide slack
    * for SF drift while still failing on any systematic defect). */
  val randomForest: Q = Q(
    "q_random_forest",
    (s, dir) => {
      val B = 8
      val feats = featureFrame(t(s, dir, "documents"))
      val u16 = expr("""
        ((16807 * ((16807 * ((doc_id % 127773) * 131 + b + 7)) % 2147483647))
          % 2147483647) div 32768""")
      val w = when(u16 < 24109, 0L).when(u16 < 48219, 1L)
        .when(u16 < 60273, 2L).when(u16 < 64292, 3L)
        .when(u16 < 65296, 4L).when(u16 < 65497, 5L)
        .when(u16 < 65531, 6L).otherwise(7L)
      // one (doc × bag) frame carries the in-bag weight; kept — the
      // histogram, the bag sizes and the OOB vote all read it
      val bags = keep(feats
        .withColumn("b", explode(sequence(lit(0L), lit(B - 1L))))
        .withColumn("w", w))
      val fnames = Seq("mean_wlen_c", "n_tok", "rep_ratio_m", "stop_ratio_m")
      def melt(df: DataFrame, keep: Seq[String]): DataFrame =
        df.select(keep.map(col) :+ explode(array(
          fnames.zipWithIndex.map { case (f, i) =>
            struct(lit(i.toLong).as("fi"), lit(f).as("feature"),
              col(f).as("v")) }: _*)).as("fv"): _*)
      val long_ = melt(bags.filter(col("w") > 0L), Seq("b", "w", "y"))
        .filter(col("fv.fi") === col("b") % 4 ||
          col("fv.fi") === (col("b") + 1) % 4 ||
          col("fv.fi") === (col("b") + 2) % 4)
        .select(col("b"), col("fv.feature").as("feature"),
          col("fv.v").as("v"), col("w"), col("y"))
      val hist = long_.groupBy("b", "feature", "v")
        .agg(sum(when(col("y") === 1L, col("w")).otherwise(0L)).as("pos"),
          sum(when(col("y") === -1L, col("w")).otherwise(0L)).as("neg"))
      val wc = Window.partitionBy("b", "feature").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("b", "feature")
      val cum = hist
        .withColumn("cum_pos", sum(col("pos")).over(wc))
        .withColumn("cum_neg", sum(col("neg")).over(wc))
        .withColumn("tot_pos", sum(col("pos")).over(tot))
        .withColumn("tot_neg", sum(col("neg")).over(tot))
        .withColumn("c_gt", col("tot_pos") - col("cum_pos") + col("cum_neg"))
        .withColumn("c_le", col("cum_pos") + col("tot_neg") - col("cum_neg"))
      val base = Seq("b", "feature", "v").map(col)
      val cand = cum.select(base :+ lit("gt").as("pol") :+ col("c_gt").as("correct"): _*)
        .unionByName(cum.select(
          base :+ lit("le").as("pol") :+ col("c_le").as("correct"): _*))
      val wB = Window.partitionBy("b")
        .orderBy(col("correct").desc, col("feature"), col("pol"), col("v"))
      val winners = keep(cand.withColumn("rk", row_number().over(wB))
        .filter(col("rk") === 1)
        .select(col("b"), col("feature"), col("pol"), col("v").as("thr"),
          col("correct"))) // 8 rows: the output join + the OOB vote both read it
      // OOB majority vote (bounded action: one 1-row aggregate)
      val oobVotes = melt(bags.filter(col("w") === 0L), Seq("doc_id", "b", "y"))
        .select(col("doc_id"), col("b"), col("y"),
          col("fv.feature").as("feature"), col("fv.v").as("v"))
        .join(broadcast(winners.select(col("b"), col("feature"),
          col("pol"), col("thr"))), Seq("b", "feature"))
        .select(col("doc_id"), col("y"),
          when(col("pol") === "gt",
            when(col("v") > col("thr"), 1L).otherwise(-1L))
            .otherwise(when(col("v") <= col("thr"), 1L).otherwise(-1L))
            .as("vote"))
      val accRow = oobVotes.groupBy("doc_id", "y")
        .agg(sum(col("vote")).as("sv"))
        .select(col("y"),
          when(col("sv") > 0L, 1L).otherwise(-1L).as("pred"))
        .agg(sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("ok"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("npos"),
          count(lit(1)).as("n")).head()
      val (ok, npos, nOob) = (accRow.getLong(0), accRow.getLong(1), accRow.getLong(2))
      val basePm = 1000L * math.max(npos, nOob - npos) / math.max(nOob, 1L)
      val accPm = 1000L * ok / math.max(nOob, 1L)
      Audit.check(s"random-forest OOB accuracy permille (bound: majority ${basePm} + 30)",
        accPm, Audit.atLeast(basePm + 30L))
      val sizes = bags.groupBy("b").agg(sum(col("w")).as("n_inbag"))
      winners.join(sizes, "b")
        .select(col("b"), col("feature"), col("pol"), col("thr"),
          col("n_inbag"), col("correct"))
        .orderBy("b")
    },
    Some(s"""
      WITH $featsSql,
      bags AS (
        SELECT feats.*, b.range AS b,
               ((16807 * ((16807 * ((doc_id % 127773) * 131 + b.range + 7)) % 2147483647))
                 % 2147483647) // 32768 AS u16
        FROM feats, range(8) b),
      wtd AS (
        SELECT *, CASE WHEN u16 < 24109 THEN 0 WHEN u16 < 48219 THEN 1
                       WHEN u16 < 60273 THEN 2 WHEN u16 < 64292 THEN 3
                       WHEN u16 < 65296 THEN 4 WHEN u16 < 65497 THEN 5
                       WHEN u16 < 65531 THEN 6 ELSE 7 END AS w
        FROM bags),
      lng AS (
        SELECT b, w, y, fi, feature, v FROM (
          SELECT b, w, y, 0 AS fi, 'mean_wlen_c' AS feature, mean_wlen_c AS v FROM wtd
          UNION ALL SELECT b, w, y, 1, 'n_tok', n_tok FROM wtd
          UNION ALL SELECT b, w, y, 2, 'rep_ratio_m', rep_ratio_m FROM wtd
          UNION ALL SELECT b, w, y, 3, 'stop_ratio_m', stop_ratio_m FROM wtd)
        WHERE w > 0 AND (fi = b % 4 OR fi = (b + 1) % 4 OR fi = (b + 2) % 4)),
      hist AS (
        SELECT b, feature, v,
               sum(CASE WHEN y = 1 THEN w ELSE 0 END) AS pos,
               sum(CASE WHEN y = -1 THEN w ELSE 0 END) AS neg
        FROM lng GROUP BY b, feature, v),
      cum AS (
        SELECT b, feature, v,
               sum(pos) OVER (PARTITION BY b, feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_pos,
               sum(neg) OVER (PARTITION BY b, feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_neg,
               sum(pos) OVER (PARTITION BY b, feature) AS tot_pos,
               sum(neg) OVER (PARTITION BY b, feature) AS tot_neg
        FROM hist),
      cand AS (
        SELECT b, feature, v, 'gt' AS pol,
               tot_pos - cum_pos + cum_neg AS correct FROM cum
        UNION ALL
        SELECT b, feature, v, 'le', cum_pos + tot_neg - cum_neg FROM cum),
      win AS (
        SELECT b, feature, v, pol, correct,
               row_number() OVER (PARTITION BY b
                 ORDER BY correct DESC, feature, pol, v) AS rk
        FROM cand),
      sz AS (SELECT b, CAST(sum(w) AS BIGINT) AS n_inbag FROM wtd GROUP BY b)
      SELECT CAST(win.b AS BIGINT) AS b, feature, pol,
             CAST(v AS BIGINT) AS thr, n_inbag,
             CAST(correct AS BIGINT) AS correct
      FROM win JOIN sz USING (b) WHERE rk = 1 ORDER BY b"""))

  /** ONE GRADIENT-BOOSTING STEP on [[treeDepth2]]'s leaves — the
    * residual-fitting round that turns a fitted tree into a boosted
    * scorer: squared loss on the {0,1} label, base score F₀ = the
    * global positive rate, per-leaf value η·(rate_leaf − F₀) with
    * shrinkage η = 1/2. The halved shrinkage makes the DOUBLED score
    * exactly integer: 2·(F₀ + η·Δ) = F₀ + rate_leaf, so
    * score2_micro = global_rate_micro + leaf_rate_micro — two
    * nonnegative floor divisions, no signed division anywhere (Spark
    * `div` and DuckDB `//` both truncate (measured at q_croston), but a
    * negative quotient would diverge cross-engine; this spelling
    * makes the case unreachable). Predict 1 iff score2 ≥ 1e6.
    *
    * Train-accuracy floor (provable, asserted in-query): a leaf
    * predicts 0 only when rate < 1 − F₀ and 1 only when rate ≥ 1 − F₀,
    * so against the majority-class baseline every disagreeing leaf is
    * on its majority side — boosted correct ≥ max(pos, n−pos) always,
    * and a violation means the leaf assignment or arithmetic broke.
    *
    * Scale shape: the two histogram passes of [[treeDepth2]] plus ONE
    * doc-keyed leaf assignment join and a 4-row aggregate; the root
    * and branch winners are bounded collects (1 + 2 rows — the
    * parameter-server step). Output: the per-leaf boosted scorer
    * table, every cell BIGINT, fully oracled via the shared
    * [[treeCtesSql]] chain. */
  val gbStep: Q = Q(
    "q_gb_step",
    (s, dir) => {
      val long = keep(enLongFrame(s, dir)) // root histogram + branch lookup + level-2 + leaf join
      val rootRow = candidatesOf(scoredOf(long, Nil), Nil)
        .orderBy(col("correct").desc, col("feature"), col("pol"), col("v"))
        .limit(1).head()
      val (rf, rthr) = (rootRow.getAs[String]("feature"), rootRow.getAs[Long]("v"))
      val branch = long.filter(col("feature") === rf)
        .select(col("doc_id"),
          when(col("v") <= rthr, "le").otherwise("gt").as("branch"))
      val long2 = long.join(branch, "doc_id")
      val wB = Window.partitionBy("branch")
        .orderBy(col("correct").desc, col("feature"), col("pol"), col("v"))
      val best2 = candidatesOf(scoredOf(long2, Seq("branch")), Seq("branch"))
        .withColumn("rk", row_number().over(wB)).filter(col("rk") === 1)
        .select(col("branch"), col("feature"), col("v")).collect()
      // leaf = branch × side of the branch winner's threshold; one
      // doc-keyed pass per branch over the persisted long frame
      val leaf = best2.map { r =>
        val (br, bf, bthr) = (r.getString(0), r.getString(1), r.getLong(2))
        long2.filter(col("branch") === br && col("feature") === bf)
          .select(col("doc_id"), col("y"),
            concat(lit(br), lit("_"),
              when(col("v") <= bthr, "le").otherwise("gt")).as("node"))
      }.reduce(_ unionByName _)
      val gRow = long.filter(col("feature") === "n_tok")
        .agg(count(lit(1)).as("n_tot"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("pos_tot")).head()
      val (nTot, posTot) = (gRow.getLong(0), gRow.getLong(1))
      val grate = 1000000L * posTot / nTot
      // ≤4 rows: the floor aggregate + the output read it
      val la = keep(leaf.groupBy("node")
        .agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
        .withColumn("leaf_rate_micro", expr("1000000 * n_pos div n"))
        .withColumn("score2_micro", col("leaf_rate_micro") + lit(grate))
        .withColumn("pred",
          when(col("score2_micro") >= 1000000L, 1L).otherwise(0L))
        .withColumn("n_correct",
          when(col("pred") === 1L, col("n_pos")).otherwise(col("n") - col("n_pos"))))
      val corr = la.agg(sum(col("n_correct"))).head().getLong(0)
      Audit.check(s"boosted train correct predictions of $nTot (bound: majority baseline)",
        corr, Audit.atLeast(math.max(posTot, nTot - posTot)))
      la.orderBy("node")
    },
    Some(s"""
      WITH $featsSql,
      $treeCtesSql,
      bwin AS (SELECT branch, feature AS bf, v AS bthr FROM best2 WHERE rk = 1),
      leaf AS (
        SELECT l.doc_id, l.y,
               l.branch || '_' ||
               CASE WHEN l.v <= bwin.bthr THEN 'le' ELSE 'gt' END AS node
        FROM lng2 l JOIN bwin ON l.branch = bwin.branch AND l.feature = bwin.bf),
      g AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
                   CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos_tot
            FROM f2),
      la AS (SELECT node, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
             FROM leaf GROUP BY node)
      SELECT node, n, n_pos,
             CAST(1000000 * n_pos // n AS BIGINT) AS leaf_rate_micro,
             CAST(1000000 * n_pos // n + 1000000 * pos_tot // n_tot AS BIGINT) AS score2_micro,
             CAST(CASE WHEN 1000000 * n_pos // n + 1000000 * pos_tot // n_tot >= 1000000
                  THEN 1 ELSE 0 END AS BIGINT) AS pred,
             CAST(CASE WHEN 1000000 * n_pos // n + 1000000 * pos_tot // n_tot >= 1000000
                  THEN n_pos ELSE n - n_pos END AS BIGINT) AS n_correct
      FROM la, g ORDER BY node"""))

  /** K-FOLD CROSS-VALIDATION of the histogram stump — the
    * generalization-estimate harness every model-driven curation
    * filter needs before its threshold gates data: K = 5
    * Lehmer-derandomized folds, each fold held out once while the
    * stump trains on the other four, heldout accuracy reported next
    * to train accuracy. Target lang = 'en' (the [[treeDepth2]] label:
    * real signal, no perfectly-expressing feature — so the
    * train-vs-heldout gap is a genuine generalization readout, not a
    * degenerate 100%).
    *
    * All five folds train in ONE pass: each document's (feature,
    * value) rows are exploded across the 4 fold-out keys ≠ its own
    * fold (the bagging trick of [[randomForest]] with membership
    * instead of Poisson weights), the histogram is keyed by
    * (fold_out, feature, value), and winners fall out of one
    * row_number per fold — never K sequential training jobs. Heldout
    * scoring is one doc-keyed join of each fold's winner (5 rows,
    * broadcast) against that fold's own documents. Everything BIGINT;
    * fully DuckDB-oracled including every heldout count. */
  val cvStump: Q = Q(
    "q_cv_stump",
    (s, dir) => {
      val K = 5
      val long = keep(enLongFrame(s, dir)
        .withColumn("fold", expr(
          """((16807 * ((16807 * ((doc_id % 127773) * 167 + 11)) % 2147483647))
            % 2147483647) % 5"""))) // train histogram + heldout scoring read it
      val train = long
        .withColumn("fold_out", explode(sequence(lit(0L), lit(K - 1L))))
        .filter(col("fold_out") =!= col("fold"))
      val scored = scoredOf(
        train.select(col("fold_out"), col("feature"), col("v"), col("y")),
        Seq("fold_out"))
      val wF = Window.partitionBy("fold_out")
        .orderBy(col("correct").desc, col("feature"), col("pol"), col("v"))
      val winners = candidatesOf(scored, Seq("fold_out"))
        .withColumn("rk", row_number().over(wF)).filter(col("rk") === 1)
        .select(col("fold_out"), col("feature"), col("pol"),
          col("v").as("thr"), col("correct").as("train_correct"))
      val held = long.join(broadcast(winners),
          long("fold") === winners("fold_out") &&
            long("feature") === winners("feature"))
        .select(col("fold"), col("y"),
          when(col("pol") === "gt",
            when(long("v") > col("thr"), 1L).otherwise(-1L))
            .otherwise(when(long("v") <= col("thr"), 1L).otherwise(-1L))
            .as("pred"))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_held"),
          sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("held_correct"))
      val nTrain = long.filter(col("feature") === "n_tok")
        .withColumn("fold_out", explode(sequence(lit(0L), lit(K - 1L))))
        .filter(col("fold_out") =!= col("fold"))
        .groupBy("fold_out").agg(count(lit(1)).as("n_train"))
      winners.join(nTrain, "fold_out").join(held,
          winners("fold_out") === held("fold"))
        .select(col("fold_out").as("fold"), col("feature"), col("pol"),
          col("thr"), col("n_train"), col("train_correct"),
          col("n_held"), col("held_correct"))
        .orderBy("fold")
    },
    Some(s"""
      WITH $featsSql,
      f2 AS (
        SELECT f.doc_id,
               CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END AS y,
               f.stop_ratio_m, f.rep_ratio_m, f.mean_wlen_c, f.n_tok,
               ((16807 * ((16807 * ((f.doc_id % 127773) * 167 + 11)) % 2147483647))
                 % 2147483647) % 5 AS fold
        FROM feats f JOIN documents d USING (doc_id)),
      lng AS (
        SELECT doc_id, fold, y, feature, v FROM (
          SELECT doc_id, fold, y, 'stop_ratio_m' AS feature, stop_ratio_m AS v FROM f2
          UNION ALL SELECT doc_id, fold, y, 'rep_ratio_m', rep_ratio_m FROM f2
          UNION ALL SELECT doc_id, fold, y, 'mean_wlen_c', mean_wlen_c FROM f2
          UNION ALL SELECT doc_id, fold, y, 'n_tok', n_tok FROM f2)),
      tr AS (
        SELECT k.range AS fold_out, l.feature, l.v, l.y
        FROM lng l, range(5) k WHERE k.range <> l.fold),
      hist AS (
        SELECT fold_out, feature, v,
               sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
               sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS neg
        FROM tr GROUP BY fold_out, feature, v),
      cum AS (
        SELECT fold_out, feature, v,
               sum(pos) OVER (PARTITION BY fold_out, feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_pos,
               sum(neg) OVER (PARTITION BY fold_out, feature ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum_neg,
               sum(pos) OVER (PARTITION BY fold_out, feature) AS tot_pos,
               sum(neg) OVER (PARTITION BY fold_out, feature) AS tot_neg
        FROM hist),
      cand AS (
        SELECT fold_out, feature, v, 'gt' AS pol,
               tot_pos - cum_pos + cum_neg AS correct FROM cum
        UNION ALL
        SELECT fold_out, feature, v, 'le', cum_pos + tot_neg - cum_neg FROM cum),
      win AS (
        SELECT fold_out, feature, pol, v AS thr, correct AS train_correct,
               row_number() OVER (PARTITION BY fold_out
                 ORDER BY correct DESC, feature, pol, v) AS rk
        FROM cand),
      w5 AS (SELECT * FROM win WHERE rk = 1),
      held AS (
        SELECT l.fold, CAST(count(*) AS BIGINT) AS n_held,
               CAST(sum(CASE WHEN (CASE WHEN w5.pol = 'gt'
                      THEN CASE WHEN l.v > w5.thr THEN 1 ELSE -1 END
                      ELSE CASE WHEN l.v <= w5.thr THEN 1 ELSE -1 END END) = l.y
                    THEN 1 ELSE 0 END) AS BIGINT) AS held_correct
        FROM lng l JOIN w5 ON l.fold = w5.fold_out AND l.feature = w5.feature
        GROUP BY l.fold),
      ntr AS (
        SELECT k.range AS fold_out, CAST(count(*) AS BIGINT) AS n_train
        FROM f2, range(5) k WHERE k.range <> f2.fold GROUP BY k.range)
      SELECT CAST(w5.fold_out AS BIGINT) AS fold, w5.feature, w5.pol,
             CAST(w5.thr AS BIGINT) AS thr, ntr.n_train,
             CAST(w5.train_correct AS BIGINT) AS train_correct,
             held.n_held, held.held_correct
      FROM w5 JOIN ntr USING (fold_out) JOIN held ON held.fold = w5.fold_out
      ORDER BY fold"""))

  /** WEIGHT-OF-EVIDENCE / INFORMATION-VALUE feature screening — the
    * credit-scoring-lineage binned predictiveness audit: per decile
    * bin of a feature, WOE = ln(P(bin|good)/P(bin|bad)) says which
    * way the bin votes, and IV = Σ (P(bin|good) − P(bin|bad))·WOE
    * summarizes the whole feature (rule of thumb: <0.02 useless,
    * >0.3 strong). The complement to [[miFeatures]] (MI sees any
    * dependence; WOE/IV reads out per-bin DIRECTION, which is what a
    * reviewer acts on).
    *
    * Exactness: Laplace-smoothed (+1 per bin / +10 per class total,
    * guarding ln(0) on empty-side bins); each WOE is ONE IEEE ln of
    * a BIGINT cross-product ratio rounded once to micro-nats; the IV
    * contribution is surfaced as the exact integer numerator
    * iv_num = ((g+1)(B+10) − (b+1)(G+10))·woe_micro over the constant
    * denominator (G+10)(B+10) — Σ iv_num / ((G+10)(B+10)·10⁶) is the
    * feature's IV. Envelope: |iv_num| ≤ n²·|woe| ≲ 10¹⁷ at 10⁶ docs —
    * past that, surface the ratio in double (documented trade).
    *
    * Scale shape: one corpus aggregate to the (bin, class) histogram
    * (map-side combinable, ≤ 20 rows), a 1-row totals frame broadcast
    * back — the [[calibration]] shape exactly. */
  val woeIv: Q = Q(
    "q_woe_iv",
    (s, dir) => {
      val feats = featureFrame(t(s, dir, "documents"))
      val bins = feats.select(
          least(lit(9L), expr("rep_ratio_m div 100")).as("bin"),
          when(col("y") === 1L, 1L).otherwise(0L).as("good"))
        .groupBy("bin")
        .agg(sum(col("good")).as("g"),
          sum(lit(1L) - col("good")).as("b"))
      val tot = bins.agg(sum(col("g")).as("gt"), sum(col("b")).as("bt"))
      bins.crossJoin(broadcast(tot))
        .select(col("bin"), col("g"), col("b"),
          round(log(((col("g") + 1) * (col("bt") + 10)).cast("double") /
            ((col("b") + 1) * (col("gt") + 10)).cast("double")) * 1e6, 0)
            .cast("long").as("woe_micro"),
          ((col("g") + 1) * (col("bt") + 10) -
            (col("b") + 1) * (col("gt") + 10)).as("diff_num"))
        .select(col("bin"), col("g"), col("b"), col("woe_micro"),
          (col("diff_num") * col("woe_micro")).as("iv_num"))
        .orderBy("bin")
    },
    Some(s"""
      WITH $featsSql,
      bins AS (
        SELECT least(9, rep_ratio_m // 100) AS bin,
               CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS g,
               CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS b
        FROM feats GROUP BY 1),
      tot AS (SELECT CAST(sum(g) AS BIGINT) AS gt,
                     CAST(sum(b) AS BIGINT) AS bt FROM bins)
      SELECT CAST(bin AS BIGINT) AS bin, g, b,
             CAST(round(ln(CAST((g + 1) * (bt + 10) AS DOUBLE) /
                           CAST((b + 1) * (gt + 10) AS DOUBLE)) * 1e6) AS BIGINT)
               AS woe_micro,
             ((g + 1) * (bt + 10) - (b + 1) * (gt + 10)) *
             CAST(round(ln(CAST((g + 1) * (bt + 10) AS DOUBLE) /
                           CAST((b + 1) * (gt + 10) AS DOUBLE)) * 1e6) AS BIGINT)
               AS iv_num
      FROM bins CROSS JOIN tot
      ORDER BY bin"""))

  val all: Seq[Q] = Seq(qualityStump, evalMetrics, rocAuc, calibration,
    cohensKappa, logregTrain, miFeatures, nbTrain, liftCurve, isotonic,
    treeDepth2, randomForest, gbStep, cvStump, woeIv)
}
