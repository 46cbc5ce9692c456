package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Ridge regression, closed form — the classifier-adjacent fitting
  * primitive a data pipeline runs to learn quality weights or probe
  * embedding linear structure without an iterative solver.
  *
  * Two scale shapes, mirroring the PCA/JL pairing:
  *
  *  - [[ridgeDocs]] (`q_ridge`, fully ORACLED): 2 features +
  *    intercept over documents. The normal-equations moments are nine
  *    exact BIGINT sums in ONE map-side-combinable aggregate; the 3×3
  *    system (G+λI)β = c is then solved by Cramer's rule IN THE PLAN,
  *    with the determinant/adjugate double chains generated from ONE
  *    Scala string builder that feeds both Spark's `expr()` and the
  *    DuckDB oracle verbatim — identical parse trees, identical IEEE
  *    evaluation order, so every rounded coefficient and every
  *    per-document prediction hash-matches exactly. This is the
  *    cross-engine-exactness trick the Welch/regression queries use,
  *    promoted to a full linear solve.
  *
  *  - [[ridgeEmbed]] (`q_ridge_embed`, rows-only by contract): all 64
  *    embedding dimensions + intercept against the integer label. One
  *    [[graft.functions.GramAgg]] pass over [1e6, q₁…q₆₄, 1e6·y]
  *    micro-vectors yields exact integer XᵀX, Xᵀy AND yᵀy
  *    simultaneously ((d+2)(d+3)/2 cells — dimension-bounded, the
  *    PCA collect); the dense 65×65 solve (Gaussian elimination,
  *    partial pivoting, fixed instruction order — deterministic)
  *    runs on the driver where it belongs, and predictions are one
  *    codegen'd [[graft.functions.DotProduct]] scan. λ penalizes
  *    slopes, NOT the intercept, which buys the in-query floor:
  *    ridge's objective at the mean-predictor (slopes 0) upper-bounds
  *    its own, so SSE(ridge) ≤ SSE(mean) MUST hold — checked from
  *    the same Gram cells plus one aggregate over the prediction
  *    scan, alongside a 1e-9 linear-system residual audit. A wrong
  *    solve, a scrambled cell index, or a degraded fit throws into
  *    the driver's err column rather than shipping plausible rows.
  *
  * 100 TB shape: each variant pays one moment scan + one prediction
  * scan, zero joins beyond a broadcast of the O(d²)-sized solution.
  * Overflow envelope (embed): cell sums are Σ(1e6·a)(1e6·b) ≤
  * n·(1e6·max|x|)·(1e6·y_max) — with unit-scale embeddings and
  * labels ≤ 9, BIGINT-safe through n ≈ 10⁸ rows; past that,
  * pre-scale the quantization (ANSI raises rather than corrupts). */
object Ridge {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- shared Spark∩DuckDB expression text (q_ridge) -----------------

  /** 3×3 determinant text with a FIXED parenthesization — the same
    * string enters Spark `expr()` and the DuckDB oracle. */
  private def det3(m: IndexedSeq[IndexedSeq[String]]): String =
    s"(${m(0)(0)} * (${m(1)(1)} * ${m(2)(2)} - ${m(1)(2)} * ${m(2)(1)})" +
      s" - ${m(0)(1)} * (${m(1)(0)} * ${m(2)(2)} - ${m(1)(2)} * ${m(2)(0)})" +
      s" + ${m(0)(2)} * (${m(1)(0)} * ${m(2)(1)} - ${m(1)(1)} * ${m(2)(0)}))"

  private val lam = "1000.0"
  private val A: IndexedSeq[IndexedSeq[String]] = IndexedSeq(
    IndexedSeq(s"(cast(n as double) + $lam)", "cast(sx1 as double)", "cast(sx2 as double)"),
    IndexedSeq("cast(sx1 as double)", s"(cast(s11 as double) + $lam)", "cast(s12 as double)"),
    IndexedSeq("cast(sx2 as double)", "cast(s12 as double)", s"(cast(s22 as double) + $lam)"))
  private val cvec = IndexedSeq("cast(sy as double)", "cast(s1y as double)", "cast(s2y as double)")

  /** β_k = det(A with column k replaced by c) / det(A). */
  private[graft] def betaSql(k: Int): String = {
    val rep = IndexedSeq.tabulate(3, 3)((i, j) => if (j == k) cvec(i) else A(i)(j))
    s"(${det3(rep)} / ${det3(A)})"
  }

  // feature/target text shared verbatim by both engines
  private val x2Sql = "length(text) - length(replace(text, ' ', ''))"
  private val ySql = "length(text) - length(replace(text, 'e', ''))"

  val ridgeDocs: Q = Q(
    "q_ridge",
    (s, dir) => {
      val f = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").as("x1"), expr(x2Sql).as("x2"), expr(ySql).as("y"))
      val m = f.agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"))
      val b = m.select(expr(betaSql(0)).as("b0"), expr(betaSql(1)).as("b1"),
        expr(betaSql(2)).as("b2"))
      f.crossJoin(broadcast(b))
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), col("y"),
          expr("cast(round(b0 * 1e6) as bigint)").as("b0_micro"),
          expr("cast(round(b1 * 1e6) as bigint)").as("b1_micro"),
          expr("cast(round(b2 * 1e6) as bigint)").as("b2_micro"),
          expr("cast(round((b0 + b1 * cast(x1 as double) + b2 * cast(x2 as double)) * 1e6) as bigint)")
            .as("pred_micro"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, n_chars AS x1, $x2Sql AS x2, $ySql AS y
        FROM documents),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1 * x1) AS BIGINT) AS s11,
               CAST(sum(x1 * x2) AS BIGINT) AS s12,
               CAST(sum(x2 * x2) AS BIGINT) AS s22,
               CAST(sum(x1 * y) AS BIGINT) AS s1y,
               CAST(sum(x2 * y) AS BIGINT) AS s2y
        FROM f),
      b AS (
        SELECT ${betaSql(0)} AS b0, ${betaSql(1)} AS b1, ${betaSql(2)} AS b2
        FROM m)
      SELECT doc_id, y,
             CAST(round(b0 * 1e6) AS BIGINT) AS b0_micro,
             CAST(round(b1 * 1e6) AS BIGINT) AS b1_micro,
             CAST(round(b2 * 1e6) AS BIGINT) AS b2_micro,
             CAST(round((b0 + b1 * CAST(x1 AS DOUBLE) + b2 * CAST(x2 AS DOUBLE)) * 1e6) AS BIGINT) AS pred_micro
      FROM f CROSS JOIN b
      WHERE doc_id < 100
      ORDER BY doc_id"""))

  // ---- 64-dim GramAgg ridge (q_ridge_embed) --------------------------

  /** Gaussian elimination with partial pivoting — fixed instruction
    * order, pure function of its inputs. */
  private[graft] def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val d = b0.length
    val a = a0.map(_.clone()); val b = b0.clone()
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      if (a(piv)(col) == 0.0)
        throw new IllegalStateException(s"ridge system singular at column $col")
      if (piv != col) { val t = a(piv); a(piv) = a(col); a(col) = t
        val tb = b(piv); b(piv) = b(col); b(col) = tb }
      r = col + 1
      while (r < d) {
        val fct = a(r)(col) / a(col)(col)
        if (fct != 0.0) {
          var j = col
          while (j < d) { a(r)(j) -= fct * a(col)(j); j += 1 }
          b(r) -= fct * b(col)
        }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](d)
    var i = d - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < d) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  /** Rows-only by contract: the normal-equation assembly is exact
    * integer (GramAgg), but the d×d solve is driver-side partial-pivot
    * Gaussian elimination — a data-dependent pivot ORDER over doubles,
    * so a DuckDB replay would have to clone the elimination loop (a
    * second implementation, not an oracle). RidgeSpec pins the solver
    * on known systems and the query self-checks the residual of the
    * solved system in-run. */
  val ridgeEmbed: Q = Q(
    "q_ridge_embed",
    (s, dir) => {
      val d = 64; val lambda = 1.0
      val emb = t(s, dir, "embeddings")
      val quant = transform(col("embedding").cast("array<double>"),
        x => round(x * 1000000.0, 0).cast("long"))
      val aug = concat(array(lit(1000000L)), quant,
        array(col("label").cast("long") * 1000000L))
      val cells = emb.select(aug.as("q"))
        .agg(graft.functions.GramAgg(col("q"), d + 2).as("g"))
        .select(explode(col("g")).as("c"))
        .select(col("c.i"), col("c.j"), col("c.n"), col("c.s"))
        .collect() // (d+2)(d+3)/2 cells — bounded by dimension, not corpus
      val sM = Array.ofDim[Double](d + 2, d + 2)
      var n = 0L
      cells.foreach { r =>
        val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
        sM(i)(j) = r.getLong(3).toDouble / 1e12; sM(j)(i) = sM(i)(j)
        n = r.getLong(2)
      }
      // A = [1,x]ᵀ[1,x], c = [1,x]ᵀy, both natural units; λ on slopes only
      val a = Array.tabulate(d + 1, d + 1)((i, j) =>
        sM(i)(j) + (if (i == j && i > 0) lambda else 0.0))
      val cv = Array.tabulate(d + 1)(i => sM(i)(d + 1))
      val beta = solve(a, cv)
      // audit 1: the solve actually satisfies its own system
      for (i <- 0 to d) {
        val lhs = (0 to d).map(j => a(i)(j) * beta(j)).sum
        val scale = math.max(1.0, math.abs(cv(i)))
        Audit.check(s"ridge system |residual| at row $i", math.abs(lhs - cv(i)),
          Audit.atMost(1e-9 * scale))
      }
      val slopes = beta.drop(1).toSeq
      val out = keep(emb.select(col("vec_id"), col("label"),
          round((lit(beta(0)) + graft.functions.DotProduct(
            col("embedding").cast("array<double>"), typedLit(slopes)))
            * 1000000.0, 0).cast("long").as("pred_micro"))
        .orderBy("vec_id"))
      // audit 2: SSE(ridge) ≤ SSE(mean predictor) — guaranteed because
      // λ does not penalize the intercept, so the mean predictor is a
      // feasible point of ridge's own objective
      val r2 = out.agg(sum(
        (col("pred_micro").cast("double") / 1e6 - col("label").cast("double")) *
          (col("pred_micro").cast("double") / 1e6 - col("label").cast("double"))).as("sse"))
        .head().getDouble(0)
      val sy = sM(0)(d + 1); val syy = sM(d + 1)(d + 1)
      val sseMean = syy - sy * sy / n
      Audit.check(s"ridge SSE (bound: mean-baseline SSE $sseMean + slack)",
        r2, Audit.atMost(sseMean * (1.0 + 1e-9) + 1e-6))
      out
    },
    None)

  /** SPLIT-CONFORMAL prediction intervals on top of the ridge fit —
    * the distribution-free uncertainty wrapper a scoring pipeline
    * puts around any point predictor: train on fold 0, take the
    * ⌈(n₂+1)(1−α)⌉-th smallest absolute residual on calibration
    * fold 1 as the radius q̂, and measure realized coverage on test
    * fold 2 (α = 0.1). The marginal guarantee E[coverage] ≥ 1−α is a
    * theorem; the REALIZED coverage on a fixed dataset is just a
    * number — so nothing here is a bound-boolean: every output
    * (n_cal, q̂, covered count, coverage permille) is exact and rides
    * the driver hash directly.
    *
    * Cross-engine exactness is [[ridgeDocs]]'s shared-string recipe
    * end to end: the SAME Cramer beta text over fold-0 moments, the
    * SAME residual text, and q̂ as an order statistic of doubles both
    * engines computed identically (k-th smallest is value-determined
    * even when equal scores permute). Spark takes it via
    * orderBy+limit(k) — TakeOrderedAndProject, the distributed top-k
    * that never materializes a global sort — and re-enters it as a
    * literal; the fold split is doc_id % 3, deterministic and
    * engine-shared. One moment scan + one scored scan + one top-k:
    * the 100 TB shape. */
  val conformal: Q = Q(
    "q_conformal",
    (s, dir) => {
      val scoreSql =
        "abs(cast(y as double) - (b0 + b1 * cast(x1 as double) + b2 * cast(x2 as double)))"
      val f = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars").as("x1"), expr(x2Sql).as("x2"), expr(ySql).as("y"),
        (col("doc_id") % 3).as("bucket"))
      val m = f.filter(col("bucket") === 0).agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"))
      val b = m.select(expr(betaSql(0)).as("b0"), expr(betaSql(1)).as("b1"),
        expr(betaSql(2)).as("b2"))
      val scored = keep(f.crossJoin(broadcast(b))
        .select(col("doc_id"), col("bucket"), expr(scoreSql).as("score")))
      val nCal = scored.filter(col("bucket") === 1).count()
      val k = ((nCal + 1) * 9 + 9) / 10 // ⌈(n₂+1)·0.9⌉
      val qhat = scored.filter(col("bucket") === 1)
        .orderBy(col("score")).limit(k.toInt)
        .agg(max(col("score"))).head().getDouble(0)
      scored.filter(col("bucket") === 2)
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("score") <= qhat, 1L).otherwise(0L)).as("n_covered"))
        .select(lit(nCal).as("n_cal"),
          lit(math.round(qhat * 1e6)).as("qhat_micro"),
          col("n_test"), col("n_covered"),
          expr("1000 * n_covered div n_test").as("coverage_permille"))
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, n_chars AS x1, $x2Sql AS x2, $ySql AS y,
               doc_id % 3 AS bucket
        FROM documents),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1 * x1) AS BIGINT) AS s11,
               CAST(sum(x1 * x2) AS BIGINT) AS s12,
               CAST(sum(x2 * x2) AS BIGINT) AS s22,
               CAST(sum(x1 * y) AS BIGINT) AS s1y,
               CAST(sum(x2 * y) AS BIGINT) AS s2y
        FROM f WHERE bucket = 0),
      b AS (
        SELECT ${betaSql(0)} AS b0, ${betaSql(1)} AS b1, ${betaSql(2)} AS b2
        FROM m),
      scored AS (
        SELECT doc_id, bucket,
               abs(cast(y as double) - (b0 + b1 * cast(x1 as double) + b2 * cast(x2 as double))) AS score
        FROM f CROSS JOIN b),
      cal AS (SELECT score FROM scored WHERE bucket = 1),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS n_cal,
                    ((CAST(count(*) AS BIGINT) + 1) * 9 + 9) // 10 AS k
             FROM cal),
      q AS (SELECT min(score) AS qhat FROM (
              SELECT score, row_number() OVER (ORDER BY score) AS rn FROM cal)
            WHERE rn = (SELECT k FROM kk))
      SELECT kk.n_cal,
             CAST(round(qhat * 1e6) AS BIGINT) AS qhat_micro,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             CAST(1000 * sum(CASE WHEN score <= qhat THEN 1 ELSE 0 END)
                  // count(*) AS BIGINT) AS coverage_permille
      FROM scored CROSS JOIN q CROSS JOIN kk
      WHERE bucket = 2
      GROUP BY kk.n_cal, q.qhat"""))

  /** MONDRIAN (stratified) split-conformal — [[conformal]] with the
    * calibration done PER STRATUM (lang): one global ridge fit, but
    * each group earns its own radius q̂_g from its own calibration
    * scores, so the 1−α guarantee holds WITHIN every stratum instead
    * of only marginally (the fairness property plain conformal lacks:
    * an easy majority group can otherwise subsidize coverage the
    * hard minority never receives). Same shared-string exactness
    * end to end; the per-group order statistic is a lang-partitioned
    * row_number (group-bounded, never a global sort) and the k-th
    * smallest VALUE is tie-insensitive. Strata where
    * ⌈(n_cal+1)(1−α)⌉ > n_cal have q̂ = ∞ by definition and are
    * excluded by the same filter on both engines (none at harness
    * scales). One moment scan + one scored scan + group-sized
    * windows: the 100 TB shape. */
  val conformalStratified: Q = Q(
    "q_conformal_stratified",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scoreSql =
        "abs(cast(y as double) - (b0 + b1 * cast(x1 as double) + b2 * cast(x2 as double)))"
      val f = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars").as("x1"), expr(x2Sql).as("x2"), expr(ySql).as("y"),
        (col("doc_id") % 3).as("bucket"))
      val m = f.filter(col("bucket") === 0).agg(count(lit(1)).as("n"),
        sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"), sum(col("y")).as("sy"),
        sum(col("x1") * col("x1")).as("s11"), sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("x1") * col("y")).as("s1y"), sum(col("x2") * col("y")).as("s2y"))
      val b = m.select(expr(betaSql(0)).as("b0"), expr(betaSql(1)).as("b1"),
        expr(betaSql(2)).as("b2"))
      val scored = keep(f.crossJoin(broadcast(b))
        .select(col("doc_id"), col("lang"), col("bucket"),
          expr(scoreSql).as("score")))
      val cal = scored.filter(col("bucket") === 1)
      val kg = cal.groupBy("lang").agg(count(lit(1)).as("n_cal"))
        .withColumn("k", expr("((n_cal + 1) * 9 + 9) div 10"))
        .filter(col("k") <= col("n_cal"))
      val ranked = cal.withColumn("rn",
        row_number().over(Window.partitionBy("lang").orderBy("score"))
          .cast("long"))
      val qhat = ranked.join(broadcast(kg), Seq("lang"))
        .filter(col("rn") === col("k"))
        .groupBy("lang", "n_cal").agg(min(col("score")).as("qhat"))
      scored.filter(col("bucket") === 2)
        .join(broadcast(qhat), Seq("lang"))
        .groupBy("lang", "n_cal", "qhat")
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("score") <= col("qhat"), 1L).otherwise(0L))
            .as("n_covered"))
        .select(col("lang"), col("n_cal"),
          round(col("qhat") * 1e6, 0).cast("long").as("qhat_micro"),
          col("n_test"), col("n_covered"),
          expr("1000 * n_covered div n_test").as("coverage_permille"))
        .orderBy("lang")
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, lang, n_chars AS x1, $x2Sql AS x2, $ySql AS y,
               doc_id % 3 AS bucket
        FROM documents),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x1 * x1) AS BIGINT) AS s11,
               CAST(sum(x1 * x2) AS BIGINT) AS s12,
               CAST(sum(x2 * x2) AS BIGINT) AS s22,
               CAST(sum(x1 * y) AS BIGINT) AS s1y,
               CAST(sum(x2 * y) AS BIGINT) AS s2y
        FROM f WHERE bucket = 0),
      b AS (
        SELECT ${betaSql(0)} AS b0, ${betaSql(1)} AS b1, ${betaSql(2)} AS b2
        FROM m),
      scored AS (
        SELECT doc_id, lang, bucket,
               abs(cast(y as double) - (b0 + b1 * cast(x1 as double) + b2 * cast(x2 as double))) AS score
        FROM f CROSS JOIN b),
      cal AS (SELECT lang, score FROM scored WHERE bucket = 1),
      kg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cal,
                    ((CAST(count(*) AS BIGINT) + 1) * 9 + 9) // 10 AS k
             FROM cal GROUP BY lang
             HAVING ((CAST(count(*) AS BIGINT) + 1) * 9 + 9) // 10
                    <= CAST(count(*) AS BIGINT)),
      ranked AS (SELECT lang, score,
                        CAST(row_number() OVER (PARTITION BY lang
                          ORDER BY score) AS BIGINT) AS rn
                 FROM cal),
      q AS (SELECT r.lang, kg.n_cal, min(r.score) AS qhat
            FROM ranked r JOIN kg ON kg.lang = r.lang AND r.rn = kg.k
            GROUP BY r.lang, kg.n_cal)
      SELECT s.lang, q.n_cal,
             CAST(round(q.qhat * 1e6) AS BIGINT) AS qhat_micro,
             CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN s.score <= q.qhat THEN 1 ELSE 0 END)
               AS BIGINT) AS n_covered,
             CAST(1000 * sum(CASE WHEN s.score <= q.qhat THEN 1 ELSE 0 END)
                  // count(*) AS BIGINT) AS coverage_permille
      FROM scored s JOIN q ON q.lang = s.lang
      WHERE s.bucket = 2
      GROUP BY s.lang, q.n_cal, q.qhat
      ORDER BY s.lang"""))

  val all: Seq[Q] = Seq(ridgeDocs, ridgeEmbed, conformal, conformalStratified)
}
