package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed total-order primitives: global row position (and
  * optionally a global running sum) under a total order WITHOUT an
  * unpartitioned window.
  *
  * Spark executes `row_number().over(Window.orderBy(...))` in a
  * SINGLE task — every row shuffles into one WindowExec partition, so
  * the shape that looks like "just a sort" is actually the one plan
  * Spark refuses to distribute. The scalable equivalent is the classic
  * two-level prefix scan:
  *
  *  1. `repartitionByRange` on the sort key — rows land range-ordered
  *     across P partitions (all of partition i sorts before i+1);
  *     a unique composite key (every caller here has one) splits ties
  *     across partitions, so no value-skewed partition can form.
  *  2. rank/running-sum LOCALLY per partition — P parallel
  *     partition-sized windows keyed by `spark_partition_id()`.
  *  3. per-partition totals (P rows) get an exclusive prefix sum —
  *     the only unpartitioned window left runs over P aggregated
  *     rows, not the corpus — and broadcast back as offsets:
  *     global = partition offset + local.
  *
  * The result is independent of WHERE the range boundaries land (any
  * range split yields the same offset+local sum), so outputs are
  * bit-stable across runs, partition counts, and engines — the
  * property the hash oracles pin.
  */
object Ranks {

  /** Append `rankCol` = 1-based global position of each row under
    * `order` (which must be a total order — include a unique
    * tie-breaker column), and optionally `cumCol` = running sum of
    * `sumExpr` up to and including the current row, computed with the
    * two-level scan above. */
  def globalOrder(df: DataFrame, order: Seq[Column], rankCol: String,
      runningSum: Option[(Column, String)] = None): DataFrame = {
    val s = df.sparkSession
    val par = graft.Checkpoints.width(s)
    // MATERIALIZE the ranged frame once (lineage cut) before fanning
    // out to the offsets branch and the join branch. Both branches
    // embed this subtree; RangePartitioner samples boundaries with an
    // RDD-id-derived seed, so two INDEPENDENT executions could place
    // rows in different partitions and pair offsets from one
    // partitioning with __pid from another. Canonicalized exchange
    // reuse happens to collapse the two today, but a correctness
    // property must not hang off an optimizer optimization — the cut
    // guarantees every consumer reads the same materialized layout.
    val parted = graft.Checkpoints.cut(
      df.repartitionByRange(par, order: _*)
        .withColumn("__pid", spark_partition_id().cast("long")))
    val w = Window.partitionBy("__pid").orderBy(order: _*)
    val cumFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = runningSum.foldLeft(
      parted.withColumn("__lr", row_number().over(w).cast("long"))) {
      case (d, (c, _)) => d.withColumn("__lc", sum(c).over(cumFrame))
    }
    // per-partition totals: P rows; the exclusive prefix sum below is
    // the ONLY unpartitioned window, and it runs over this aggregate
    val perPart = local.groupBy("__pid").agg(count(lit(1)).as("__pn"),
      runningSum.map { case (c, _) => sum(c).as("__ps") }.toSeq: _*)
    val ow = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = runningSum.foldLeft(
      perPart.withColumn("__roff", coalesce(sum(col("__pn")).over(ow), lit(0L)))) {
      case (d, _) => d.withColumn("__soff", coalesce(sum(col("__ps")).over(ow), lit(0L)))
    }.select(Seq(col("__pid"), col("__roff")) ++
      runningSum.map(_ => col("__soff")): _*)
    val joined = local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankCol, col("__roff") + col("__lr"))
    runningSum.foldLeft(joined) {
      case (d, (_, cumName)) => d.withColumn(cumName, col("__soff") + col("__lc"))
    }.drop("__pid", "__lr", "__lc", "__roff", "__soff")
  }
}
