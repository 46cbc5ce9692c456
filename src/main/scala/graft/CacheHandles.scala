package graft

import org.apache.spark.sql.DataFrame

/** Collector for persisted INTERMEDIATE frames whose release must wait
  * until the caller materializes the returned lazy plan.
  *
  * The dedup/ANN library functions persist mid-pipeline frames
  * (shingle tables, signatures, cluster assignments) that the
  * returned DataFrame still references — unpersisting inside the
  * function would evict the cache before the first job runs. Each
  * such function takes a `CacheHandles` (defaulting to a fresh,
  * never-released one) and `track`s every persist; query bodies that
  * materialize their result in-query (the [[llm.RecallAudit]] floor
  * asserts) then call [[releaseAll]] so a long-lived application
  * doesn't accumulate one corpus-sized cache entry per invocation.
  * Callers that skip release (the ScalaTest suites, ad-hoc use) fall
  * back to the harness contract: Bench/Verify `clearCache()` after
  * each query materializes.
  */
final class CacheHandles {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Register a persisted frame for deferred release; returns it.
    * Also mirrors the frame into the thread's active [[CacheHandles
    * .scoped]] collector (if one is open) so a harness can release
    * everything a query persisted without plumbing handles through
    * every call signature. */
  def track(df: DataFrame): DataFrame = synchronized {
    tracked += df
    CacheHandles.mirror(df)
    df
  }

  /** Unpersist every tracked frame (lazy, safe to call once the
    * caller's result is materialized) and forget them. */
  def releaseAll(): Unit = synchronized {
    tracked.foreach(_.unpersist())
    tracked.clear()
  }
}

/** Thread-scoped collector: `scoped { ... }` releases every frame any
  * CacheHandles on THIS thread tracked inside the block, regardless of
  * whether the query body called releaseAll itself (unpersisting an
  * already-unpersisted frame is a no-op). This is the Verify worker's
  * per-query cleanup (ADVICE r13: the RW-locked clearCache may never
  * win its tryLock under a saturated pool, so persisted frames used to
  * accumulate for the whole run) — clearCache stays as a backstop for
  * frames persisted OUTSIDE any handles (direct .persist() calls).
  * Query bodies run single-threaded on their worker, so a plain
  * ThreadLocal scopes correctly; memoized stores released here simply
  * recompute on next use (correctness is persist-independent). */
object CacheHandles {
  private val active = new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  private def mirror(df: DataFrame): Unit = {
    val buf = active.get()
    if (buf != null) buf += df
  }

  /** Materialize a query OUTPUT distributed-side so its persisted
    * parents can be released — WITHOUT the collect-and-reparallelize
    * round-trip (VERDICT r14 item 2: a driver hop that grows linearly
    * with the data is a scale bug even when today's row count is
    * small). Persists `df`, forces one pass with `count()`, mirrors
    * the handle into the thread's scoped collector (Verify releases
    * it right after the dump is written; [[GraftSession.quiesce]] and the
    * specs' clearCache cover the rest), and returns the persisted
    * frame. Callers wanting single-partition deterministic order pass
    * `df.coalesce(1).sortWithinPartitions(...)` — the data never
    * visits the driver. */
  def sealOutput(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    mirror(p)
    p.count()
    p
  }

  def scoped[T](body: => T): T = {
    val prev = active.get()
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    active.set(buf)
    try body
    finally {
      active.set(prev)
      buf.foreach(df => try df.unpersist() catch { case _: Throwable => () })
    }
  }
}
