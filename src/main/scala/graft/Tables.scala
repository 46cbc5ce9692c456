package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Scale note: each table is a plain parquet directory/file scan —
  * Spark's vectorized parquet reader splits it by
  * `spark.sql.files.maxPartitionBytes`, so the same code paths run
  * unchanged on a 1000-executor cluster over 100 TB: filters and
  * column pruning declared downstream reach the scan
  * (`PushedFilters` / `ReadSchema` in `.explain`).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one corpus table, normalizing timestamp physical encodings.
    *
    * Contract: FIXTURES.md declares `events.ts` (and any other
    * timestamp column) as `timestamp` — the LOADER, not each
    * downstream operator, owns delivering Spark `TimestampType`.
    * The corpus generator has shipped three physical encodings so
    * far, and all three must surface identically:
    *
    *   - TIMESTAMP(NANOS): Spark's reader rejects it outright; with
    *     `nanosAsLong` it surfaces as LongType nanos, which we
    *     truncate to micros — the same truncation DuckDB applies,
    *     so oracle comparisons stay exact.
    *   - timestamp[us] without timezone (isAdjustedToUTC=false):
    *     surfaces as TIMESTAMP_NTZ, which `withWatermark` /
    *     `unix_micros` reject. Cast to TimestampType: the callers
    *     (Verify/Bench/tests) force a UTC session, so the NTZ wall
    *     clock IS the UTC instant and every value is unchanged.
    *   - timestamp[us] UTC-adjusted: already TimestampType; no-op.
    *
    * The ANALYZED RELATION is memoized per (session, path, on-disk
    * file signature) — the same economics as registering the corpus
    * in a catalog once per session (guide §6: file listings are
    * session-cached for catalog tables; a metastore holds the schema
    * so readers never re-read footers). A fresh `spark.read.parquet`
    * costs ~90 ms of footer/schema work plus ~60 ms of first-plan
    * analysis per call on this harness — paid by EVERY query for
    * EVERY table it touches — versus ~20 ms planning against the
    * memoized relation. The memo holds ONLY plan metadata (schema +
    * file index); no data, no results: every action against it
    * re-scans parquet. Keys are weak on the session (a dropped
    * session drops its entries) and the entry is revalidated against
    * the directory's (name, size, mtime) listing on every hit, so a
    * rewritten fixture dir can never serve a stale file index; paths
    * on non-local filesystems bypass the memo entirely.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    signature(path) match {
      case None => loadFresh(spark, path, name)
      case Some(sig) =>
        val inner = relationMemo.synchronized {
          Option(relationMemo.get(spark)).flatMap(r => Option(r.get()))
            .getOrElse {
              val m = new java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]()
              relationMemo.put(spark,
                new java.lang.ref.SoftReference(m))
              m
            }
        }
        Option(inner.get(path)) match {
          case Some((s0, df)) if s0 == sig => df
          case _ =>
            val df = loadFresh(spark, path, name)
            inner.put(path, (sig, df))
            df
        }
    }
  }

  private val relationMemo = new java.util.WeakHashMap[SparkSession,
    java.lang.ref.SoftReference[
      java.util.concurrent.ConcurrentHashMap[String, (String, DataFrame)]]]()

  /** Content fingerprint of a local parquet file/directory: sorted
    * (path, size, mtime) of every LEAF file, recursive, field- and
    * record-delimited. None → not memoizable (missing path or
    * non-local scheme) — caller loads fresh. */
  private[graft] def signature(path: String): Option[String] = {
    if (path.contains("://") && !path.startsWith("file:")) return None
    val root = new java.io.File(path.stripPrefix("file:"))
    if (!root.exists()) return None
    // RECURSIVE walk: a partitioned layout (key=value/ subdirs)
    // changes neither the parent's entry names nor reliably its
    // mtime when a leaf file is rewritten, so the fingerprint
    // must list the leaves (ADVICE r17)
    val sb = new StringBuilder
    // symlinked directories are followed, but each real directory is
    // listed once: a symlink cycle would otherwise recurse without end
    val listed = scala.collection.mutable.Set.empty[String]
    def walk(f: java.io.File): Boolean = {
      if (f.isDirectory) {
        if (!listed.add(f.getCanonicalPath)) return true
        val kids = Option(f.listFiles()).getOrElse(return false)
        kids.sortBy(_.getName).forall(walk)
      } else {
        sb.append(f.getPath).append('\u0001').append(f.length)
          .append('\u0001').append(f.lastModified).append('\u0002')
        true
      }
    }
    if (walk(root)) Some(sb.toString) else None
  }

  private def loadFresh(spark: SparkSession, path: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.LongType
            if name == "events" && f.name == "ts" =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn(f.name, org.apache.spark.sql.functions.col(f.name)
            .cast(org.apache.spark.sql.types.TimestampType))
        case _ => df
      }
    }
  }
}

/** Per-application staging paths: every scratch directory an operator
  * writes carries the applicationId, so two harness runs on the same
  * machine can never clobber each other's staging (each Spark app has
  * a unique id; within one app, reuse across queries is intended —
  * overwrite mode refreshes the content).
  *
  * CLUSTER DEPLOYMENT (VERDICT r16 item 6): the default base —
  * `java.io.tmpdir` — is only correct when driver and executors
  * share a filesystem (local mode, this harness). On a real cluster
  * the staged stores MUST live on storage every executor can read
  * (HDFS, s3a, NFS): set `spark.graft.staging.dir` on the session,
  * or the `GRAFT_STAGING_DIR` environment variable, to a shared URI
  * base (e.g. `hdfs:///tmp/graft` or `s3a://bucket/graft-staging`).
  * All staging I/O goes through the Hadoop FileSystem API
  * ([[ready]] resolves the path's own filesystem), so any scheme
  * Spark can write parquet to works unchanged. Precedence: session
  * conf > environment > local tmpdir.
  *
  * STAGED STORES — the one implementation of "build once per
  * application and corpus, then read" (shared graph/dedup/retrieval
  * inputs, the incremental operators' history state):
  *   - one path per (name, key): [[keyed]] keeps a readable slug of
  *     the key and appends an md5 of the RAW key, so two keys that
  *     sanitize alike (`/x/sf0.1` vs `/x/sf0_1`) never share a store;
  *   - built once under a per-path lock ([[once]]): two queries racing
  *     the same bootstrap cannot double-write one path;
  *   - ready means the LAST-written artifact's `_SUCCESS` marker, never
  *     the directory: a build that dies midway leaves the store not
  *     ready, and the next call rebuilds it (every write is
  *     mode(overwrite), so re-running a half-finished build is clean);
  *   - lock order cannot cycle: a store's build may read other stores
  *     but never itself, so the store graph is acyclic.
  * Staleness: one application = one corpus snapshot — a store is
  * never rebuilt while it is ready. */
object Staging {
  def dir(s: SparkSession, name: String): String = {
    val base = s.conf.getOption("spark.graft.staging.dir")
      .orElse(sys.env.get("GRAFT_STAGING_DIR"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .stripSuffix("/")
    s"$base/${name}_${s.sparkContext.applicationId}"
  }

  /** The store path of (`name`, `key`): injective in the raw key. */
  def keyed(s: SparkSession, name: String, key: String): String = {
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    dir(s, s"${name}_${key.replaceAll("[^A-Za-z0-9]", "_")}_$hash")
  }

  /** True iff the parquet artifact at `lastArtifactDir` was completely
    * written (its `_SUCCESS` marker exists). */
  def ready(s: SparkSession, lastArtifactDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$lastArtifactDir/_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `build` unless the store whose LAST-written artifact is
    * `last` is [[ready]] — under `last`'s lock, so it runs at most once
    * per application unless it throws. Multi-artifact builds write
    * `last` after every other artifact. */
  def once(s: SparkSession, last: String)(build: => Unit): Unit =
    locks.computeIfAbsent(last, _ => new Object).synchronized {
      if (!ready(s, last)) build
    }

  /** A single-frame store: [[once]] writes `plan` to the [[keyed]]
    * path, then every call reads it back. Frames the plan keeps are
    * released when the write ends, thrown or not. */
  def store(s: SparkSession, name: String, key: String)(
      plan: => DataFrame): DataFrame = {
    val path = keyed(s, name, key)
    once(s, path) {
      CacheHandles.scoped(plan.write.mode("overwrite").parquet(path))
    }
    s.read.parquet(path)
  }

  /** The history/delta boundary of the incremental operators: rows
    * with `key` above the cut — the last ~1/8 of the key range — are
    * "today's delta", the rest is settled history. One min/max job. */
  def historyCut(df: DataFrame, key: String): Long =
    df.agg(org.apache.spark.sql.functions.expr(
      s"max($key) - (max($key) - min($key) + 1) div 8").as("c"))
      .head().getLong(0)
}

/** One registered query: Spark builder + optional DuckDB oracle SQL.
  *
  * Determinism contract (SURVEY.md §5): pinned as-of dates (never
  * `current_date()`), total ordering via unique tiebreaker keys, and
  * SQL restricted to the Spark∩DuckDB ANSI intersection. Computed
  * integer columns are cast to BIGINT on BOTH sides so the driver's
  * hash compare sees identical physical types.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
