package graft
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries run on a bounded WORKER POOL (default 3, env
  * SPARK_GRAFT_VERIFY_THREADS) — the per-query cost at sf0.01 is
  * dominated by job-scheduling fixed cost, not data, so overlapping
  * queries cuts the wall clock ~3× without changing any result. Each
  * worker owns a CLONED session (`Checkpoints.Scope(spark).session`,
  * the one place the program calls `newSession()`, so workers share
  * the codegen class cache): shared SparkContext and block-manager,
  * private SQLConf + temp-view catalog, so name-registering queries
  * (`contracts`, the SQL-entry views) cannot collide across threads.
  * Warehouse tables (bucketed-join lifecycle) live in the shared
  * external catalog but every query writes only its own table names,
  * and each query runs exactly once. Per-query determinism is
  * untouched: results never depend on what runs beside them
  * (md5-derandomized coins, pinned as-of dates — the SURVEY §5
  * contract), and cache eviction mid-run only ever causes recompute
  * of the same values. Each query runs inside its worker's
  * [[CacheHandles.scoped]], so every frame it keeps is released once
  * its dump is written; after the pool drains, the number of plans
  * still cached is printed as `[verify] cached plans left: N` (0
  * unless a frame was kept with no scope open, e.g. off the query's
  * thread).
  */
object Verify {
  /** The memory-heavy queries (besides `q_stream_*`) that take the
    * heap permit in [[main]]; BenchSpec pins that every name is still
    * registered, so a rename cannot silently drop one from the permit. */
  private[graft] val heavySet = Set("q_als_step", "q_als_descent", "q_als_neighbors",
    "q_dbscan", "q_dbscan_incremental", "q_cluster_stability",
    "q_hdbscan_extract", "q_facility_select",
    "q_unigram_lm_em", "q_unigram_lm_em2", "q_unigram_lm_em3",
    "q_textrank", "q_dedup_suffix", "q_betweenness", "q_temporal_motifs",
    "q_kcore", "q_pagerank", "q_pagerank_incremental", "q_diameter_lb",
    "q_graph_robustness", "q_dedup_canonical_minhash",
    "q_gb_step", "q_tree_depth2", "q_cv_stump", "q_random_forest",
    "q_itemsets", "q_itemsets_incremental", "q_compact_files")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for fast local iteration
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val work = SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
    val queue = new ConcurrentLinkedQueue[Q]()
    work.foreach(queue.add)
    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "3").toInt
    val pool = Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    // Heap discipline: the registry tail clusters the memory-heavy
    // operators (multi-micro-batch streaming replays, ALS, DBSCAN
    // pair lists, the unrolled unigram-EM chains). Running FOUR of
    // those concurrently OOMed an 8g heap where the sequential run
    // never did — so heavies take a global permit and run one at a
    // time; light queries still overlap freely around them.
    val heavyPermit = new java.util.concurrent.Semaphore(1)
    def isHeavy(name: String): Boolean =
      name.startsWith("q_stream_") || heavySet.contains(name)
    (1 to threads).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val session = Checkpoints.Scope(spark).session
          var q = queue.poll()
          while (q != null) {
            val heavy = isHeavy(q.name)
            if (heavy) heavyPermit.acquire()
            val t0 = System.nanoTime()
            // scoped: every frame this query keeps is released as soon
            // as its dump is written — per-query, this-thread frames
            // only, so no other worker's query loses a cached plan
            try CacheHandles.scoped {
              q.fn(session, sfDir).coalesce(1).write.mode("overwrite")
                .parquet(s"$outDir/${q.name}")
            }
            catch { case e: Throwable =>
              System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
            } finally if (heavy) heavyPermit.release()
            System.err.println(
              f"[verify-time] ${q.name} ${(System.nanoTime() - t0) / 1e9}%.1fs (${done.incrementAndGet()}/${work.size})")
            q = queue.poll()
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(4, TimeUnit.HOURS)
    System.err.println(
      s"[verify] cached plans left: ${org.apache.spark.sql.graftbridge.cachedPlans(spark)}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
