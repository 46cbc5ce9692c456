package graft
import org.apache.spark.sql.SparkSession

/** The one harness session: `local[cpus]` with the settings every
  * harness main (Bench, Verify, Probe, ProbePlan) runs the registry under. */
object GraftSession {
  def apply(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Tables.load's NTZ→TIMESTAMP normalization (and every pinned
      // date computation) assumes a UTC session.
      .config("spark.sql.session.timeZone", "UTC")
      // keep typed imperative aggregates (MinHashAgg, median/mode) on
      // the hash path at full group cardinality — see MinHashAgg docs
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      // SESSION CONF, DECLARED (OPTIMIZATION_r18.md): the JVM-global
      // whole-stage-codegen class cache defaults to 100 entries — a
      // 410-query application compiles thousands of codegen units, so
      // every stage of every repass re-ran Janino on shapes compiled
      // minutes earlier (~20-50 ms each, the dominant slice of the
      // sub-second tail's fixed floor; a 40-query A/B measured the
      // batch 18-26% faster with the cache sized to the application).
      // Code cache, not data: every pass still scans parquet and
      // recomputes every row. The same setting serves any long-running
      // multi-query driver at any scale.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // the streaming queries otherwise leave /tmp temp-checkpoint
      // dirs behind AND print a best-effort-delete WARN per query
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()

  /** Between two harness queries: drop every frame the last one
    * persisted, so no query's cache taxes its successors (the
    * dedup/ANN ops persist intermediates that would otherwise stay
    * pinned for the rest of the session). catalog.clearCache alone
    * unpersists ASYNCHRONOUSLY — the block removal then runs inside
    * the next query's measured window (trivial scan queries
    * alphabetically after the dedup block were sporadically billed
    * seconds of someone else's cleanup) — so block on removal and
    * collect the garbage while untimed. */
  def quiesce(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
