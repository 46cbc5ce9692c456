package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Skyline (Pareto-frontier) operator — "the parts no other part beats
  * on BOTH price and size". The textbook formulation is a quadratic
  * dominance anti-join (the oracle runs exactly that, NOT EXISTS over
  * the self cross product); the engine's formulation is the sort-based
  * 2-D algorithm made distributed:
  *
  *   (p, s) survives  ⟺  s = min size AT its price
  *                      ∧ s < min size over all STRICTLY cheaper prices
  *
  * so the whole operator is one price-keyed aggregate (vocabulary-
  * sized: distinct prices, not rows) + a strict-prefix running MIN
  * over that aggregate + one join back. The prefix min uses the
  * [[Ranks]] two-level scan discipline — local cummin per range
  * partition, per-partition mins (P rows) prefix-combined and
  * broadcast back — because `min().over(Window.orderBy(price))`
  * would funnel every distinct price through ONE WindowExec task.
  * Dominance never materializes a pair; at 100 TB the shuffles are
  * one hash (groupBy price), one range (the scan), one broadcast.
  */
object Skyline {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Append `outCol` = min of `value` over all rows STRICTLY before
    * the current one under `order` (null for the global first row).
    * `df` must be distinct on `order` (a total order). Two-level
    * scan, same materialization discipline as [[Ranks.globalOrder]]:
    * the ranged layout is cut once so the offsets branch and the join
    * branch read the SAME partitioning. */
  def strictPrefixMin(df: DataFrame, order: Column, value: Column,
      outCol: String): DataFrame = {
    val par = graft.Checkpoints.width(df.sparkSession)
    val parted = graft.Checkpoints.cut(
      df.repartitionByRange(par, order)
        .withColumn("__pid", spark_partition_id().cast("long")))
    val w = Window.partitionBy("__pid").orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = parted.withColumn("__lm", min(value).over(w))
    val perPart = parted.groupBy("__pid").agg(min(value).as("__pm"))
    val ow = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perPart
      .withColumn("__om", min(col("__pm")).over(ow))
      .select(col("__pid"), col("__om"))
    // least() skips nulls: first row of a partition has no local
    // prefix, first partition has no offset — null only when neither
    // exists (the global minimum-order row)
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(outCol, least(col("__lm"), col("__om")))
      .drop("__pid", "__lm", "__om")
  }

  /** 2-D skyline of `df` minimizing (`x`, `y`): rows not dominated by
    * any other row (dominator ≤ on both, < on at least one).
    * Duplicate undominated points all survive. Returns `df`'s rows
    * filtered to the frontier. */
  def skyline2d(df: DataFrame, x: String, y: String): DataFrame = {
    val grp = df.groupBy(col(x)).agg(min(col(y)).as("__ymin"))
    val pref = strictPrefixMin(grp, col(x), col("__ymin"), "__yprefix")
    // join back is keyed on x against a distinct-x-sized frame; AQE
    // broadcasts it when it fits, hash-joins otherwise (at 100 TB a
    // high-cardinality x can outgrow a driver broadcast)
    df.join(pref, Seq(x))
      .filter(col(y) === col("__ymin") &&
        col(y) < coalesce(col("__yprefix"), lit(Long.MaxValue)))
      .drop("__ymin", "__yprefix")
  }

  /** Driver query: the price/size frontier of `part` — cheapest part
    * at-or-below every size, in exact cents. The oracle is the
    * definitional quadratic NOT EXISTS; the engine never builds a
    * pair. ~40 frontier rows at sf0.01 out of 2 000 parts. */
  val skyline: Q = Q(
    "q_skyline",
    (s, dir) => {
      val p = t(s, dir, "part").select(
        col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("price_cents"),
        col("p_size").cast("long").as("size"))
      skyline2d(p, "price_cents", "size")
        .select(col("p_partkey"), col("price_cents"), col("size"))
        .orderBy("price_cents", "size", "p_partkey")
    },
    Some("""
      WITH p AS (
        SELECT p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS size
        FROM part)
      SELECT p_partkey, price_cents, size
      FROM p a
      WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_cents <= a.price_cents AND b.size <= a.size
          AND (b.price_cents < a.price_cents OR b.size < a.size))
      ORDER BY price_cents, size, p_partkey"""))

  val all: Seq[Q] = Seq(skyline)
}
