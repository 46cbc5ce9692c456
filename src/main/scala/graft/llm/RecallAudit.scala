package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Checkpoints, Tables}
import graft.Audit.{Check, atLeast}
import graft.CacheHandles.keep

/** Shared plant-and-confirm scaffolding for the approximate-index
  * recall audits ([[Similarity.annLsh]], [[Ivf.annIvf]], [[Pq.annPq]],
  * [[IvfPq.annIvfPq]]) plus the self-checking floor every rows-only
  * query enforces.
  *
  * Rows-only queries have no DuckDB oracle, so the driver's
  * correctness harness records `spark_rows` and compares nothing — a
  * silent recall regression (40 → 25 confirmed hits) would sail
  * through looking green. The fix is to make the query its own
  * harness: after the exact-confirm join, the result is materialized
  * ONCE ([[assertFloor]]) and the query THROWS below its pinned
  * recall floor, so degradation lands in the driver's `err` field
  * instead of only in ScalaTest. The persisted frame is returned, so
  * the assertion costs no second execution when the caller writes the
  * result out.
  */
object RecallAudit {

  /** Pinned recall floors for the four ANN audits — total confirmed
    * hits out of 8 queries × k=5 slots, calibrated to hold at every
    * harness scale the driver runs (measured sf0.01/sf0.1: LSH 40/39,
    * IVF 38/40, PQ 40/36 at shortlist 300, IVF-PQ 39/37) with ~2 hits
    * of margin. Centralized so the declared queries and the
    * floor-margin regression spec (RecallAuditSpec) can never
    * disagree about the bar. */
  val LshFloor = 38L
  val IvfFloor = 36L
  val PqFloor = 34L
  val IvfPqFloor = 35L
  val IvfIncFloor = 35L

  /** Exact brute-force top-k over the planted corpus, collected ONCE
    * per scale directory and per (k, nQueries) shape. The exact
    * baseline is the most expensive piece of every audit (a full
    * corpus × queries cosine scan), identical across the four ANN
    * queries in a run — recomputing it per audit doubled the family's
    * bench cost in round 9. 8 queries × k rows is ≤ 40 rows, so the
    * driver-side cache is trivially small, deterministic (pure
    * function of the parquet input), and outlives every query's cache
    * scope (which would release any shared cached FRAME between
    * queries). */
  private val exactCache =
    scala.collection.concurrent.TrieMap[(String, Int), Array[org.apache.spark.sql.Row]]()

  /** The memoized exact brute-force top-5 baseline as a DataFrame —
    * shared by [[annAudit]] and the incremental-index audit (both run
    * over the identical planted corpus for a given scale dir, so the
    * cache key is sound). Computes once per (dir, k) per app. */
  private[llm] def exactBaseline(s: SparkSession, dir: String,
      q: DataFrame, corpus: DataFrame): DataFrame = {
    val exactRows = exactCache.getOrElseUpdate((dir, 5),
      Similarity.exactTopK(q, corpus).select("query_id", "neighbor_id").collect())
    s.createDataFrame(
      java.util.Arrays.asList(exactRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("neighbor_id",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Materialize `df`, assert it carries at least `floor` rows, and
    * return the kept frame (the caller's write reuses the cache).
    * Throws `IllegalStateException` below the floor — the signal the
    * driver's `err` field records for rows-only queries. */
  def assertFloor(df: DataFrame, floor: Long, what: String): DataFrame = {
    val p = keep(df)
    Audit.check(s"$what confirmed rows", p.count(), Audit.atLeast(floor))
    p
  }

  /** Planted-pair floor for the near-dup audits: the result must
    * contain every (i, 1e6+i) planted pair — plants are constructed
    * to be retrievable (exact copies / single-token mutations), so
    * any miss is an index regression, not data geometry. Asserts on
    * a filter of the materialized result, then returns the full
    * persisted frame unchanged. */
  def assertPlantedPairs(pairs: DataFrame, aCol: String, bCol: String,
      plantN: Long, what: String): DataFrame = {
    val p = keep(pairs)
    // one action materializes the cache AND measures plant recovery
    Audit.frame(p, Check(s"$what planted pairs recovered", count(when(
      col(bCol) >= 1000000L && col(aCol) === col(bCol) - 1000000L, 1)), atLeast(plantN)))
    p
  }

  /** The scaffold all four ANN audits share: load embeddings, take
    * vec_id < 8 as queries, plant one exact copy of each query into
    * the corpus at id 1e6+i (guaranteeing ≥8 retrievable true
    * neighbors), persist the corpus ONCE for every consumer (index
    * build, index search, exact baseline), run the index under audit,
    * keep only hits confirmed by the exact brute-force top-k, and
    * enforce TWO floors:
    *
    *  - `plantedFloor` (default all 8): every planted exact copy must
    *    be retrieved. SCALE-INVARIANT — an exact copy scores sim 1.0
    *    under any of the index transforms (its sketch/code/bucket
    *    equals the query's own), so a planted miss always means broken
    *    plumbing, never data geometry. This is the sharp signal.
    *  - `floor` on total confirmed hits (of 8 queries × k=5 slots):
    *    calibrated to hold at EVERY harness scale the driver runs
    *    (correctness at sf0.01 AND bench at sf0.1), with ~2 hits of
    *    margin — natural-neighbor recall at fixed index parameters
    *    legitimately declines as the corpus grows (fixed shortlist /
    *    probe budgets cover a shrinking corpus fraction; these
    *    embeddings are near-uniform, the hardest geometry), and a
    *    floor that trips on scale rather than degradation would
    *    train operators to ignore it. Code regressions crater recall
    *    toward single digits, far below any calibrated floor.
    *
    * `index` receives (queries(query_id, qv), corpus(vec_id, v)) and
    * returns (query_id, rank, neighbor_id). */
  def annAudit(s: SparkSession, dir: String, floor: Long, what: String,
      plantedFloor: Long = 8)(
      index: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // round-robin repartition: the harness parquet is a single row
    // group (one scan task); every downstream stage should use all cores
    val par = Checkpoints.width(s)
    val planted = q.select((col("query_id") + lit(1000000L)).as("vec_id"),
      col("qv").as("v"))
    val corpus = keep(emb.repartition(par).unionByName(planted))
    val ann = index(q, corpus)
    val exact = exactBaseline(s, dir, q, corpus)
    val confirmed = ann.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left_semi")
      .select("query_id", "rank", "neighbor_id")
      .orderBy("query_id", "rank")
    val out = keep(confirmed)
    // ONE action materializes the cached result and measures both
    // floors — the audit costs a single extra job over the un-floored
    // form, not one per assertion. The planted floor counts exact
    // SELF-retrievals (query i finding its own copy at 1e6+i): a
    // near-identical OTHER query's plant surfacing in this query's
    // top-k must not mask a missed own-plant.
    Audit.frame(out,
      Check(s"$what confirmed rows", count(lit(1)), atLeast(floor)),
      Check(s"$what planted exact copies retrieved",
        count(when(col("neighbor_id") === col("query_id") + 1000000L, 1)), atLeast(plantedFloor)))
    // the materialized confirmed result is cached, so the corpus-sized
    // cache is dead weight from here — release it rather than pinning
    // one corpus per invocation in a long-lived app
    corpus.unpersist()
    out
  }
}
