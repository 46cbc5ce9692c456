package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The one cache lifecycle: the only code that persists a frame, and
  * the thread's scopes are the only owners that release one.
  *
  * The contract:
  *   - [[keep]] persists at `MEMORY_AND_DISK` (the one storage-level
  *     decision) and registers the frame with the innermost [[scoped]]
  *     block open on THIS thread.
  *   - [[scoped]] releases everything kept inside it when the block
  *     ends, returned or thrown. Close it where the result that reads
  *     those frames has been materialized (a collect, a count, a write,
  *     an in-query assert) — a lazy plan returned past the close would
  *     recompute them. A kept frame the block RETURNS is not released:
  *     it passes to the enclosing scope, so an audit that keeps and
  *     materializes its result can hand it on while its inputs go.
  *   - [[seal]] is that hand-on for key-linear OUTPUTS: it keeps the
  *     body's result, materializes it on the executors (one count,
  *     never a driver hop), releases what the body kept, and passes
  *     the result to the enclosing scope.
  *   - A frame kept with no scope open has no owner; the harness's
  *     between-query [[GraftSession.quiesce]] releases it. Verify runs
  *     each query inside [[scoped]], so nothing a query keeps outlives
  *     its dump.
  *   - Scopes are per-thread: query bodies run on one thread, and a
  *     frame kept on another thread (a `Future`) has no owner.
  *   - Loop-round frames may still be released early with `unpersist()`
  *     (a no-op when the scope repeats it). Correctness never depends
  *     on a frame being cached — a released frame recomputes. */
object CacheHandles {
  private val open = new ThreadLocal[mutable.ArrayBuffer[Dataset[_]]]

  private def own[T](ds: Dataset[T]): Dataset[T] = {
    val kept = open.get()
    if (kept != null) kept += ds
    ds
  }

  /** Persist `ds` at `MEMORY_AND_DISK` and register it with the
    * innermost open [[scoped]] block on this thread; returns it. */
  def keep[T](ds: Dataset[T]): Dataset[T] =
    own(ds.persist(StorageLevel.MEMORY_AND_DISK))

  /** Run `body`, then release every frame kept inside it — except a
    * kept frame that `body` returns, which passes to the enclosing
    * scope. */
  def scoped[T](body: => T): T = {
    val outer = open.get()
    val kept = mutable.ArrayBuffer.empty[Dataset[_]]
    open.set(kept)
    var result: Any = null
    try { result = body; result.asInstanceOf[T] }
    finally {
      open.set(outer)
      kept.foreach {
        case ds if ds eq result.asInstanceOf[AnyRef] => own(ds)
        case ds => try ds.unpersist() catch { case _: Throwable => () }
      }
    }
  }

  /** Keep the output `body` returns and materialize it on the
    * executors with one count (never a driver hop), then release what
    * `body` kept; the output passes to the enclosing scope. Callers
    * wanting single-partition deterministic order pass
    * `df.coalesce(1).sortWithinPartitions(...)`. */
  def seal(body: => DataFrame): DataFrame = scoped {
    val out = keep(body)
    out.count()
    out
  }
}
