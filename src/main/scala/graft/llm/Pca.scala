package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** PCA over the embedding corpus — the dimensionality-reduction /
  * whitening front-end of embedding pipelines (decorrelate before
  * product quantization, OPQ-style rotations, drift dashboards).
  *
  * The classic big-data PCA decomposition: moments are distributed,
  * the eigenproblem is not. ONE [[graft.functions.GramAgg]] pass over
  * AUGMENTED vectors [1, x] yields exact integer count, coordinate
  * sums, and the full Gram triangle simultaneously (the 1-column's
  * cross products ARE the sums) — so mean and covariance come from a
  * single scan with zero joins and a fixed-size shuffle. The dense
  * d×d eigensolve (cyclic Jacobi, fixed sweep order, pure function of
  * the exact integer moments) runs on the driver where a 64×64
  * problem belongs; the top-p eigenvectors broadcast back as
  * literals into one codegen'd projection scan
  * ([[graft.functions.DotProduct]]). A 100 TB corpus pays: one
  * Gram scan + one projection scan.
  *
  * Determinism: the Gram/second-moment stage is exact BIGINT
  * micro-unit arithmetic (engine-identical); Jacobi is a fixed
  * instruction sequence on those integers, so eigenpairs are
  * bit-identical run to run; each eigenvector's sign is fixed by
  * "largest-magnitude coordinate positive" (ties to the lowest
  * index); projections are per-row ordered folds rounded to micro
  * units. Rows-only per contract (an eigensolve is not one DuckDB
  * query) — so the query SELF-CHECKS: eigenvalues must be
  * non-increasing, eigenvectors orthonormal to 1e-9, and each
  * projected component's population variance must match its
  * eigenvalue within 2% (one aggregate action over exact integer
  * sums) — a wrong rotation, a dropped centering, or a scrambled
  * eigen-order all trip the in-query floor, not just a spec. */
object Pca {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix.
    * Returns (eigenvalues, eigenvectors as rows). Fixed sweep order
    * and count — a pure, deterministic function of the input. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-14) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            off = math.max(off, math.abs(apq))
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val tSign = if (theta >= 0) 1.0 else -1.0
            val tt = tSign / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(tt * tt + 1.0)
            val s = tt * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d, d)((i, j) => v(j)(i)))
  }

  /** Exact integer moments → covariance (natural units) + row count.
    * One GramAgg pass over [1e6, q₁…q_d] micro-vectors. */
  private[graft] def covariance(emb: DataFrame, d: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val quant = transform(col("embedding").cast("array<double>"),
      x => round(x * 1000000.0, 0).cast("long"))
    val aug = concat(array(lit(1000000L)), quant)
    val cells = emb
      .select(aug.as("q"))
      .agg(graft.functions.GramAgg(col("q"), d + 1).as("g"))
      .select(explode(col("g")).as("c"))
      .select(col("c.i"), col("c.j"), col("c.n"), col("c.s"))
      .collect() // (d+1)(d+2)/2 rows — bounded by dimension, not corpus
    val s = Array.ofDim[Double](d + 1, d + 1)
    var n = 0L
    cells.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      s(i)(j) = r.getLong(3).toDouble; s(j)(i) = s(i)(j)
      n = r.getLong(2)
    }
    val mu = Array.tabulate(d)(j => s(0)(j + 1) / 1e6 / n) // micro units
    val cov = Array.tabulate(d, d) { (i, j) =>
      (s(i + 1)(j + 1) / n - mu(i) * mu(j)) / 1e12
    }
    (n, mu.map(_ / 1e6), cov)
  }

  /** Top-p principal components of every embedding, micro-rounded.
    *
    * Rows-only by contract: the covariance is exact integer (GramAgg),
    * but the eigenbasis comes from an iterative Jacobi rotation sweep
    * — driver-side floating-point with a data-dependent rotation
    * order, not one SQL query, and a DuckDB replay would be a second
    * implementation, not an oracle. PcaSpec pins the decomposition
    * on fixtures (known eigenpairs, reconstruction error) and the
    * query asserts basis orthonormality in-run. */
  val pcaProject: Q = Q(
    "q_pca_project",
    (s, dir) => {
      val d = 64; val p = 4
      val emb = t(s, dir, "embeddings")
      val (n, mu, cov) = covariance(emb, d)
      val (eig, vecs) = jacobiEigen(cov)
      val order = (0 until d).sortBy(i => (-eig(i), i)).take(p)
      val top = order.map { i =>
        val v = vecs(i)
        // deterministic sign: largest-|coordinate| positive
        val m = v.indices.maxBy(j => (math.abs(v(j)), -j))
        (eig(i), if (v(m) < 0) v.map(-_) else v)
      }
      // self-check 1: orthonormal, ordered spectrum
      for (a <- top.indices; b <- a until top.length) {
        val dot = (0 until d).map(j => top(a)._2(j) * top(b)._2(j)).sum
        val want = if (a == b) 1.0 else 0.0
        Audit.check(s"PCA eigenvectors |v$a . v$b - $want|", math.abs(dot - want),
          Audit.atMost(1e-9))
      }
      Audit.check("PCA spectrum inversions",
        top.sliding(2).count(w => w.length == 2 && w(0)._1 < w(1)._1), Audit.equal(0))
      val vd = col("embedding").cast("array<double>")
      val out = keep(top.zipWithIndex.foldLeft(emb.select(col("vec_id"), vd.as("v"))) {
        case (df, ((_, vec), k)) =>
          val shift = (0 until d).map(j => mu(j) * vec(j)).sum
          df.withColumn(s"pc${k + 1}",
            round((graft.functions.DotProduct(col("v"), typedLit(vec.toSeq)) - lit(shift))
              * 1000000.0, 0).cast("long"))
      }.drop("v").orderBy("vec_id"))
      // self-check 2: projected variance tracks the eigenvalue (2%)
      val aggCols = (1 to p).flatMap(k => Seq(
        sum(col(s"pc$k")).as(s"s$k"),
        sum(col(s"pc$k") * col(s"pc$k")).as(s"ss$k")))
      val sums = out.agg(aggCols.head, aggCols.tail: _*).head()
      for (k <- 1 to p) {
        val sm = sums.getLong(2 * (k - 1)); val ss = sums.getLong(2 * k - 1)
        val varMicro2 = (ss.toDouble - sm.toDouble * sm / n) / n
        val lamMicro2 = top(k - 1)._1 * 1e12
        if (lamMicro2 > 1e6)
          Audit.check(s"PCA pc$k |variance - eigenvalue $lamMicro2| (bound: 2% of it)",
            math.abs(varMicro2 - lamMicro2), Audit.atMost(0.02 * lamMicro2))
      }
      out
    },
    None)

  /** Johnson–Lindenstrauss RANDOM projection — the training-free
    * counterpart of [[pcaProject]]: 64-d embeddings to k = 16
    * dimensions via a ±1 sign matrix (Achlioptas), with the JL
    * norm-preservation guarantee audited per vector. Where PCA pays a
    * Gram pass to learn directions, JL pays nothing: the sign matrix
    * is a pure function of (i, j) — md5 first-nibble parity, the
    * repo's standard derandomized coin — so every engine and every
    * executor regenerates it identically, no broadcast state at all.
    *
    * Exactness: elements quantize to micro-units FIRST
    * (round(x·1e6) as BIGINT); each projected coordinate is then an
    * INTEGER dot product with ±1 — associative, and identical under
    * any summation order, which is precisely what float folds can't
    * promise across engines. PRECONDITION (the real overflow
    * envelope): components must be unit-scale, |x_i| ≤ ~1, as
    * produced by L2-normalized embeddings — then |p_j| ≤ 64·1·10⁶ =
    * 6.4e7, so p² ≤ 4.1e15 and Σ_j p² ≤ 16·4.1e15 ≈ 6.6e16 « 2⁶³.
    * The binding constraint is the SQUARING in the audit, not the
    * dot product: un-normalized embeddings with |x| ≈ 6e5 would keep
    * |p| inside BIGINT but overflow p², wrapping silently in Spark
    * while DuckDB errors. Feed this op normalized vectors only. The audit emits Σ_j p_j² against k·‖x‖² as an exact
    * integer permille — E[ratio] = 1000 under the JL distribution,
    * and the div-first spelling keeps every intermediate inside
    * BIGINT. Fully oracled: DuckDB rebuilds the same sign matrix from
    * range()×range() and must reproduce every projected integer.
    *
    * Scale shape: ONE narrow scan, zero joins, zero shuffles beyond
    * the declared ORDER BY — the projection a 100 TB pipeline runs as
    * a map stage in front of ANN indexing when there is no budget for
    * a training pass. */
  val jlProject: Q = Q(
    "q_jl_project",
    (s, dir) => {
      val d = 64
      val k = 16
      // md5 first-hex-char parity: +1 even, −1 odd — must match the
      // oracle's ascii(substr(md5(i || '_' || j), 1, 1)) % 2
      val md = java.security.MessageDigest.getInstance("MD5")
      def sign(i: Int, j: Int): Long = {
        val hex = md.digest(s"${i}_${j}".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        if (hex.charAt(0).toInt % 2 == 0) 1L else -1L
      }
      val signs: Seq[Seq[Long]] =
        (0 until k).map(j => (0 until d).map(i => sign(i, j)))
      val xm = transform(col("embedding"),
        x => round(x.cast("double") * 1e6, 0).cast("long"))
      val projs = transform(typedLit(signs),
        srow => aggregate(zip_with(xm, srow, (a, b) => a * b),
          lit(0L), (acc, v) => acc + v))
      t(s, dir, "embeddings")
        .select(col("vec_id"), xm.as("xm"), projs.as("p"))
        .select(col("vec_id"),
          aggregate(transform(col("xm"), x => x * x), lit(0L), (a, v) => a + v)
            .as("norm2_micro2"),
          aggregate(transform(col("p"), x => x * x), lit(0L), (a, v) => a + v)
            .as("proj2_sum_micro2"),
          element_at(col("p"), 1).as("p0_micro"))
        // div-first keeps every intermediate inside BIGINT (1000·proj2
        // would overflow); nullif guards the zero-vector edge in both
        // engines identically
        .withColumn("jl_ratio_permille", expr(
          "proj2_sum_micro2 div nullif((16 * norm2_micro2) div 1000, 0)"))
        .orderBy("vec_id")
    },
    Some("""
      WITH el AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS xm
        FROM embeddings),
      signs AS (
        SELECT i.range AS i, j.range AS j,
               CASE WHEN ascii(substr(md5(i.range || '_' || j.range), 1, 1)) % 2 = 0
                    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS s
        FROM range(64) i, range(16) j),
      proj AS (
        SELECT vec_id, j, CAST(sum(xm * s) AS BIGINT) AS p
        FROM el JOIN signs USING (i) GROUP BY 1, 2),
      pa AS (SELECT vec_id, CAST(sum(p * p) AS BIGINT) AS proj2,
                    CAST(min(CASE WHEN j = 0 THEN p END) AS BIGINT) AS p0
             FROM proj GROUP BY 1),
      na AS (SELECT vec_id, CAST(sum(xm * xm) AS BIGINT) AS norm2 FROM el GROUP BY 1)
      SELECT na.vec_id AS vec_id, norm2 AS norm2_micro2, proj2 AS proj2_sum_micro2,
             p0 AS p0_micro,
             CAST(proj2 // nullif((16 * norm2) // 1000, 0) AS BIGINT)
               AS jl_ratio_permille
      FROM na JOIN pa USING (vec_id) ORDER BY vec_id"""))

  val all: Seq[Q] = Seq(pcaProject, jlProject)
}
