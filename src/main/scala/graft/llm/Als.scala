package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** One full ALS round (k = 2) on the customer×part implicit-feedback
  * matrix — matrix factorization, the collaborative-filtering
  * primitive next to the content-side ANN family: r(c,p) = purchase
  * count, item factors seeded DETERMINISTICALLY from the part id, one
  * alternation (solve every user against frozen items, then re-solve
  * every item against the just-solved users), fully HASH-ORACLED.
  *
  * What makes an iterative double-valued factorization exact across
  * engines (the [[Ridge.ridgeDocs]] discipline, applied twice):
  *
  *  - factors live in INTEGER units (seed items in micro, solved
  *    users rounded to nano), so every normal-equation moment
  *    (Σqqᵀ, Σrq, Σuuᵀ, Σru) is an exact BIGINT sum — aggregation
  *    ORDER cannot perturb anything;
  *  - each 2×2 solve is Cramer's rule in doubles generated from ONE
  *    shared string builder — identical parse trees and IEEE
  *    evaluation order in Spark `expr()` and DuckDB;
  *  - the only rounding is one `round(x·1e9)` per factor component,
  *    on values far from the half-ulp boundary.
  *
  * The emitted table is the re-solved ITEM side (sampled p ≡ 0 mod
  * 50): since each new item factor aggregates the solved factors of
  * ALL its users, the user half-step is transitively pinned by the
  * same hash. Scale shape: two grouped aggregates over the ratings
  * frame (user-keyed, then item-keyed — one shuffle each), a
  * broadcast-joined seed table, zero driver-side math. Overflow
  * envelope: item moments ≤ parts/user·(10⁶)² — BIGINT-safe to 10⁶
  * items per user; user moments ≤ users/item·(~10⁵)² — safe to 10⁸
  * users per item (u components are ~10⁴ nano with these seeds).
  * Reference: no factorization surface in lambda_function.py;
  * north-star extension (recsys-style relevance signals for corpus
  * curation). */
object Als {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Shared Spark∩DuckDB Cramer-2×2 text: solve
    * (A + λI) x = b for component `k` (0/1), with A/b columns named
    * (a11, a12, a22, b1, b2). λ enters in the SQUARED unit of the
    * frozen side's factors. */
  private[graft] def cramer2(k: Int, lam: String): String = {
    val det = s"(((cast(a11 as double) + $lam) * (cast(a22 as double) + $lam))" +
      s" - (cast(a12 as double) * cast(a12 as double)))"
    val num =
      if (k == 0)
        s"((cast(a22 as double) + $lam) * cast(b1 as double)" +
          s" - cast(a12 as double) * cast(b2 as double))"
      else
        s"((cast(a11 as double) + $lam) * cast(b2 as double)" +
          s" - cast(a12 as double) * cast(b1 as double))"
    s"($num / $det)"
  }

  // item seeds: integer micro units derived from the part id — the
  // exact text runs on both engines
  private val q1Sql = "cast(((p * 131) % 97) * 10000 + 1000 as bigint)"
  private val q2Sql = "cast(((p * 257) % 101) * 10000 + 1000 as bigint)"
  private val LamUser = "1e12" // q ~ 1e6 micro ⇒ q² ~ 1e12
  private val LamItem = "1e8"  // u ~ 1e4 nano  ⇒ u² ~ 1e8

  /** (c, p, r): purchase counts — the implicit-feedback matrix. */
  def ratings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(count(lit(1)).as("r"))

  /** Deterministic item seeds in integer micro units. */
  def itemSeeds(r: DataFrame): DataFrame =
    r.select("p").distinct()
      .select(col("p"), expr(q1Sql).as("q1"), expr(q2Sql).as("q2"))

  /** User half-step: per-customer exact moments over integer item
    * factors, Cramer solve, rounded to integer nano. */
  def solveUsers(r: DataFrame, q: DataFrame): DataFrame =
    r.join(q, Seq("p")).groupBy("c")
      .agg(sum(col("q1") * col("q1")).as("a11"),
        sum(col("q1") * col("q2")).as("a12"),
        sum(col("q2") * col("q2")).as("a22"),
        sum(col("r") * col("q1")).as("b1"),
        sum(col("r") * col("q2")).as("b2"))
      .select(col("c"),
        expr(s"cast(round(${cramer2(0, LamUser)} * 1e9) as bigint)").as("u1"),
        expr(s"cast(round(${cramer2(1, LamUser)} * 1e9) as bigint)").as("u2"))

  /** Item half-step: per-part exact moments over the SOLVED (nano
    * integer) users. */
  def solveItems(r: DataFrame, users: DataFrame): DataFrame =
    r.join(users, Seq("c")).groupBy("p")
      .agg(count(lit(1)).as("n_users"),
        sum(col("u1") * col("u1")).as("a11"),
        sum(col("u1") * col("u2")).as("a12"),
        sum(col("u2") * col("u2")).as("a22"),
        sum(col("r") * col("u1")).as("b1"),
        sum(col("r") * col("u2")).as("b2"))
      .select(col("p"), col("n_users"),
        expr(s"cast(round(${cramer2(0, LamItem)} * 1e9) as bigint)")
          .as("q1_new_nano"),
        expr(s"cast(round(${cramer2(1, LamItem)} * 1e9) as bigint)")
          .as("q2_new_nano"))

  val alsStep: Q = Q(
    "q_als_step",
    (s, dir) => {
      val r = ratings(s, dir)
      val q = itemSeeds(r)
      val items = solveItems(r, solveUsers(r, q))
      items.join(q, Seq("p"))
        .filter(col("p") % 50 === 0)
        .select(col("p"), col("n_users"), col("q1"), col("q2"),
          col("q1_new_nano"), col("q2_new_nano"))
        .orderBy("p")
    },
    Some(s"""
      WITH r AS (
        SELECT o_custkey AS c, l_partkey AS p, CAST(count(*) AS BIGINT) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      q AS (
        SELECT p, $q1Sql AS q1, $q2Sql AS q2
        FROM (SELECT DISTINCT p FROM r) dp),
      mu AS (
        SELECT c,
               CAST(sum(q1 * q1) AS BIGINT) AS a11,
               CAST(sum(q1 * q2) AS BIGINT) AS a12,
               CAST(sum(q2 * q2) AS BIGINT) AS a22,
               CAST(sum(r * q1) AS BIGINT) AS b1,
               CAST(sum(r * q2) AS BIGINT) AS b2
        FROM r JOIN q USING (p) GROUP BY c),
      u AS (
        SELECT c,
               CAST(round(${cramer2(0, LamUser)} * 1e9) AS BIGINT) AS u1,
               CAST(round(${cramer2(1, LamUser)} * 1e9) AS BIGINT) AS u2
        FROM mu),
      mi AS (
        SELECT p, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(u1 * u1) AS BIGINT) AS a11,
               CAST(sum(u1 * u2) AS BIGINT) AS a12,
               CAST(sum(u2 * u2) AS BIGINT) AS a22,
               CAST(sum(r * u1) AS BIGINT) AS b1,
               CAST(sum(r * u2) AS BIGINT) AS b2
        FROM r JOIN u USING (c) GROUP BY p),
      i2 AS (
        SELECT p, n_users,
               CAST(round(${cramer2(0, LamItem)} * 1e9) AS BIGINT) AS q1_new_nano,
               CAST(round(${cramer2(1, LamItem)} * 1e9) AS BIGINT) AS q2_new_nano
        FROM mi)
      SELECT i2.p, i2.n_users, q.q1, q.q2, i2.q1_new_nano, i2.q2_new_nano
      FROM i2 JOIN q ON q.p = i2.p
      WHERE i2.p % 50 = 0
      ORDER BY i2.p"""))

  /** ALS DESCENT AUDIT — the convergence evidence for [[alsStep]]:
    * evaluate the regularized objective J(U, Q) = Σ res² + λ'Σ|x|²
    * before and after the item half-step, both in EXACT integer
    * milli² units. The integer encodings line up by construction:
    * pred_milli = (u_nano·f) div 10⁶ works for BOTH factor tables
    * because the old micro item values ARE the nano encoding of the
    * solve's variable (x_old = q_micro·10⁻⁹ in predict units), and
    * λ' = 10⁸ over x² becomes x_nano² div 10⁴ in milli².
    *
    * The exact item solve minimizes each per-item objective given U,
    * so J_after ≤ J_before up to nano-rounding and the div
    * truncations — enforced IN-QUERY with a 0.1% slack (a real
    * non-descent regression is macroscopic; the slack absorbs only
    * quantization noise). The whole 1-row audit table is
    * hash-oracled. Scale shape: two rating-frame joins + four scalar
    * aggregates. Envelope: res_milli² ≈ 10⁹ per rating — per-corpus
    * SSE BIGINT-safe through ~10⁹ ratings; rescale to centi past
    * that. */
  val alsDescent: Q = Q(
    "q_als_descent",
    (s, dir) => {
      val r = keep(ratings(s, dir))
      val q = itemSeeds(r)
      val u = keep(solveUsers(r, q))
      val qOld = q.select(col("p"), col("q1").as("f1"), col("q2").as("f2"))
      val qNew = solveItems(r, u).select(col("p"),
        col("q1_new_nano").as("g1"), col("q2_new_nano").as("g2"))
      // FUSED objective evaluation: before/after share the r⋈u join
      // and the item-domain factor table, so one (p, f, g) factor
      // frame feeds ONE residual pass computing BOTH sse sums and one
      // item-domain pass computing both reg sums — the previous four
      // broadcast subqueries ran the heavy r⋈u⋈factors join twice and
      // re-solved the item step twice (reg_after's solveItems replay).
      // Integer sums of identical terms: values byte-identical.
      val qj = keep(qOld.join(qNew, Seq("p")))
      val sses = r.join(u, Seq("c")).join(qj, Seq("p"))
        .select(
          (col("r") * lit(1000L) -
            expr("(u1 * f1 + u2 * f2) div 1000000")).as("res_b"),
          (col("r") * lit(1000L) -
            expr("(u1 * g1 + u2 * g2) div 1000000")).as("res_a"))
        .agg(sum(col("res_b") * col("res_b")).as("sse_before"),
          sum(col("res_a") * col("res_a")).as("sse_after"))
      val regs = qj.agg(
        sum(expr("(f1 * f1 + f2 * f2) div 10000")).as("reg_before"),
        sum(expr("(g1 * g1 + g2 * g2) div 10000")).as("reg_after"))
      val row = r.agg(count(lit(1)).as("n_ratings"))
        .crossJoin(broadcast(sses))
        .crossJoin(broadcast(regs))
        .select(col("n_ratings"), col("sse_before"), col("reg_before"),
          (col("sse_before") + col("reg_before")).as("j_before"),
          col("sse_after"), col("reg_after"),
          (col("sse_after") + col("reg_after")).as("j_after"))
        .withColumn("improved_permille",
          expr("((j_before - j_after) * 1000) div nullif(j_before, 0)"))
      val materialized = row.collect()
      val h = materialized(0)
      val (jb, ja) = (h.getLong(3), h.getLong(6))
      Audit.check(s"ALS item-step objective J (bound: J before $jb + 0.1%)", ja,
        Audit.atMost(jb + jb / 1000L))
      r.unpersist(); u.unpersist(); qj.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(
        materialized.toIndexedSeq, 1), row.schema)
    },
    Some(s"""
      WITH r AS (
        SELECT o_custkey AS c, l_partkey AS p, CAST(count(*) AS BIGINT) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      q AS (
        SELECT p, $q1Sql AS q1, $q2Sql AS q2
        FROM (SELECT DISTINCT p FROM r) dp),
      mu AS (
        SELECT c,
               CAST(sum(q1 * q1) AS BIGINT) AS a11,
               CAST(sum(q1 * q2) AS BIGINT) AS a12,
               CAST(sum(q2 * q2) AS BIGINT) AS a22,
               CAST(sum(r * q1) AS BIGINT) AS b1,
               CAST(sum(r * q2) AS BIGINT) AS b2
        FROM r JOIN q USING (p) GROUP BY c),
      u AS (
        SELECT c,
               CAST(round(${cramer2(0, LamUser)} * 1e9) AS BIGINT) AS u1,
               CAST(round(${cramer2(1, LamUser)} * 1e9) AS BIGINT) AS u2
        FROM mu),
      mi AS (
        SELECT p,
               CAST(sum(u1 * u1) AS BIGINT) AS a11,
               CAST(sum(u1 * u2) AS BIGINT) AS a12,
               CAST(sum(u2 * u2) AS BIGINT) AS a22,
               CAST(sum(r * u1) AS BIGINT) AS b1,
               CAST(sum(r * u2) AS BIGINT) AS b2
        FROM r JOIN u USING (c) GROUP BY p),
      i2 AS (
        SELECT p,
               CAST(round(${cramer2(0, LamItem)} * 1e9) AS BIGINT) AS f1,
               CAST(round(${cramer2(1, LamItem)} * 1e9) AS BIGINT) AS f2
        FROM mi),
      sseb AS (SELECT CAST(sum(res * res) AS BIGINT) AS sse FROM (
        SELECT r.r * 1000 - (u.u1 * q.q1 + u.u2 * q.q2) // 1000000 AS res
        FROM r JOIN u USING (c) JOIN q USING (p)) tb),
      regb AS (SELECT CAST(sum((q1 * q1 + q2 * q2) // 10000) AS BIGINT) AS reg
               FROM q),
      ssea AS (SELECT CAST(sum(res * res) AS BIGINT) AS sse FROM (
        SELECT r.r * 1000 - (u.u1 * i2.f1 + u.u2 * i2.f2) // 1000000 AS res
        FROM r JOIN u USING (c) JOIN i2 USING (p)) ta),
      rega AS (SELECT CAST(sum((f1 * f1 + f2 * f2) // 10000) AS BIGINT) AS reg
               FROM i2),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_ratings FROM r)
      SELECT n_ratings,
             sseb.sse AS sse_before, regb.reg AS reg_before,
             CAST(sseb.sse + regb.reg AS BIGINT) AS j_before,
             ssea.sse AS sse_after, rega.reg AS reg_after,
             CAST(ssea.sse + rega.reg AS BIGINT) AS j_after,
             CAST((((sseb.sse + regb.reg) - (ssea.sse + rega.reg)) * 1000)
               // nullif(sseb.sse + regb.reg, 0) AS BIGINT) AS improved_permille
      FROM n CROSS JOIN sseb CROSS JOIN regb CROSS JOIN ssea CROSS JOIN rega"""))

  /** ITEM-ITEM NEIGHBORS from the learned factors — the loop
    * factorization exists to close: after one ALS round every part
    * has a k=2 latent vector, and "parts like this one" is a factor
    * dot product instead of a co-purchase recount (items never bought
    * together can still be near in factor space — the generalization
    * collaborative filtering buys over [[graft.ops.Graph.copurchase]]
    * counting). Top-5 per sampled item by exact BIGINT nano² dot,
    * ties to the lower part id; fully hash-oracled on top of the
    * [[alsStep]] CTE chain.
    *
    * Scale shape: the sampled query side broadcasts against the
    * item-domain factor table (the [[Similarity.exactTopK]]
    * brute-force discipline — the honest baseline; the ANN family is
    * the scale path when the item domain outgrows a broadcast). */
  val alsNeighbors: Q = Q(
    "q_als_neighbors",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val r = ratings(s, dir)
      val items = keep(solveItems(r, solveUsers(r, itemSeeds(r)))
        .select(col("p"), col("q1_new_nano").as("f1"),
          col("q2_new_nano").as("f2")))
      val sampled = items.filter(col("p") % 100 === 0)
        .select(col("p").as("qp"), col("f1").as("a1"), col("f2").as("a2"))
      val out = items.join(broadcast(sampled), col("p") =!= col("qp"))
        .select(col("qp"), col("p").as("np"),
          (col("a1") * col("f1") + col("a2") * col("f2")).as("dot"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("qp")
            .orderBy(col("dot").desc, col("np").asc)).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("qp"), col("rank"), col("np"), col("dot"))
        .orderBy("qp", "rank")
      val materialized = out.collect()
      items.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(
          materialized.toIndexedSeq, 1), out.schema)
        .orderBy("qp", "rank")
    },
    Some(s"""
      WITH r AS (
        SELECT o_custkey AS c, l_partkey AS p, CAST(count(*) AS BIGINT) AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2),
      q AS (
        SELECT p, $q1Sql AS q1, $q2Sql AS q2
        FROM (SELECT DISTINCT p FROM r) dp),
      mu AS (
        SELECT c,
               CAST(sum(q1 * q1) AS BIGINT) AS a11,
               CAST(sum(q1 * q2) AS BIGINT) AS a12,
               CAST(sum(q2 * q2) AS BIGINT) AS a22,
               CAST(sum(r * q1) AS BIGINT) AS b1,
               CAST(sum(r * q2) AS BIGINT) AS b2
        FROM r JOIN q USING (p) GROUP BY c),
      u AS (
        SELECT c,
               CAST(round(${cramer2(0, LamUser)} * 1e9) AS BIGINT) AS u1,
               CAST(round(${cramer2(1, LamUser)} * 1e9) AS BIGINT) AS u2
        FROM mu),
      mi AS (
        SELECT p,
               CAST(sum(u1 * u1) AS BIGINT) AS a11,
               CAST(sum(u1 * u2) AS BIGINT) AS a12,
               CAST(sum(u2 * u2) AS BIGINT) AS a22,
               CAST(sum(r * u1) AS BIGINT) AS b1,
               CAST(sum(r * u2) AS BIGINT) AS b2
        FROM r JOIN u USING (c) GROUP BY p),
      i2 AS (
        SELECT p,
               CAST(round(${cramer2(0, LamItem)} * 1e9) AS BIGINT) AS f1,
               CAST(round(${cramer2(1, LamItem)} * 1e9) AS BIGINT) AS f2
        FROM mi),
      sampled AS (SELECT p AS qp, f1 AS a1, f2 AS a2 FROM i2
                  WHERE p % 100 = 0),
      scored AS (
        SELECT s.qp, i.p AS np,
               CAST(s.a1 * i.f1 + s.a2 * i.f2 AS BIGINT) AS dot
        FROM sampled s JOIN i2 i ON i.p <> s.qp),
      ranked AS (
        SELECT qp, np, dot,
               CAST(row_number() OVER (PARTITION BY qp
                 ORDER BY dot DESC, np ASC) AS BIGINT) AS rank
        FROM scored)
      SELECT qp, rank, np, dot FROM ranked
      WHERE rank <= 5
      ORDER BY qp, rank"""))

  val all: Seq[Q] = Seq(alsStep, alsDescent, alsNeighbors)
}
