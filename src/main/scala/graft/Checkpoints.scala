package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lineage cuts for iterative operators ([[graft.ops.Graph.pageRank]],
  * [[graft.llm.Dedup.connectedComponents]]), conf-gated between the
  * two checkpoint families Spark offers:
  *
  *  - `localCheckpoint` (default): blocks live in executor
  *    block-manager storage — no filesystem round trip, the right
  *    choice for single-node / interactive runs. But the blocks are
  *    UNRECOVERABLE: lose one executor mid-iteration on a real
  *    cluster and the whole multi-round job dies with no recompute
  *    path (the lineage was truncated — that was the point).
  *  - reliable `checkpoint` (`graft.checkpoint.reliable=true`): each
  *    cut writes to the checkpoint directory
  *    (`graft.checkpoint.dir`, default a per-application staging
  *    path — on a cluster point it at durable shared storage, e.g.
  *    an HDFS/S3A path). Costs one extra computation of the frame
  *    per cut (Spark re-runs the RDD to write checkpoint files) plus
  *    the write, buys executor-loss recovery: exactly the trade a
  *    5-round job over 100 TB wants.
  *
  * Results are bit-identical in both modes — checkpointing changes
  * WHERE blocks live, never values or partitioning (pinned in
  * CheckpointSpec on both operators).
  */
object Checkpoints {

  val ReliableKey = "graft.checkpoint.reliable"
  val DirKey = "graft.checkpoint.dir"

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.get(ReliableKey, "false").toBoolean

  /** Truncate `df`'s lineage: reliable `checkpoint(eager)` when
    * [[ReliableKey]] is set on the frame's session, else
    * `localCheckpoint(eager)`. Lazy cuts (`eager = false`) still keep
    * the plan tree one-round deep; materialization happens at the
    * caller's next action in either mode. */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame =
    if (reliable(df)) {
      val s = df.sparkSession
      val sc = s.sparkContext
      if (sc.getCheckpointDir.isEmpty) s.conf.getOption(DirKey) match {
        case Some(dir) => sc.setCheckpointDir(dir)
        case None if sc.isLocal =>
          // single-node: a tmpdir staging path is as durable as the
          // node itself, so it is an acceptable default
          sc.setCheckpointDir(Staging.dir(s, "checkpoints"))
        case None =>
          // on a cluster, a driver-local java.io.tmpdir fallback would
          // WRITE checkpoints nowhere durable — executors cannot read
          // the driver's /tmp, and the whole point of reliable mode is
          // surviving executor loss. Refuse loudly instead of
          // checkpointing into a path that silently voids the
          // guarantee. (For long-lived apps, pair with
          // spark.cleaner.referenceTracking.cleanCheckpoints=true so
          // out-of-scope checkpoint files are collected.)
          throw new IllegalStateException(
            s"$ReliableKey=true on a non-local master requires $DirKey " +
              "to point at durable shared storage (HDFS/S3A)")
      }
      df.checkpoint(eager)
    } else df.localCheckpoint(eager)

  /** The shuffle width `s` plans with: its `spark.sql.shuffle.partitions`
    * (Spark's default when a session leaves the key unset). */
  def width(s: SparkSession): Int = s.conf.get("spark.sql.shuffle.partitions").toInt

  /** The one rebind: `df`'s computed rows as a frame bound to `to`.
    * Row order within and across partitions is kept, so a sorted
    * result stays sorted. */
  def rebind(to: SparkSession, df: DataFrame): DataFrame =
    to.createDataFrame(df.rdd, df.schema)

  /** Cloned-session scope: the one implementation of "clone the
    * session, carry conf, size parallelism, rebind in and out" for
    * every iterative, streaming and bounded-slice operator.
    *
    * Why a clone: these operators run many small jobs (fixpoint
    * rounds, micro-batches, Lloyd's steps, a bounded pin's stages)
    * over frames far smaller than the corpus. Under the session
    * default every such job schedules `spark.sql.shuffle.partitions`
    * (= the cpu count on the harness) tasks over a few thousand rows:
    * pure task-dispatch overhead that GROWS with core count (rounds
    * measured ~40% of connectedComponents' wall, and the round-17
    * scaling block measured a bounded pin 3× slower at 32 cores than
    * at 8). The clone shares the SparkContext and block manager but
    * owns its SQLConf, so parallelism is sized to the data without
    * touching the caller's session: concurrent queries on it never
    * plan under the wrong width.
    *
    *  - Clone: `newSession()` starts from context defaults, not the
    *    caller's runtime conf, so the keys in [[Scope.Carried]] ride
    *    along: the checkpoint choice and directory ([[cut]] reads them
    *    off the clone), the staging base ([[Staging.dir]] resolves
    *    against the clone) and the typed-aggregate fallback threshold.
    *  - Size: [[sizeTo]] applies [[Scope.dataSized]], one partition per
    *    64k rows with a floor of 4 — four at harness scale, thousands
    *    at billion-row scale. Operators whose work is not row-shaped
    *    set an explicit count with [[partitions]].
    *  - Rebind: [[in]] moves a caller-planned frame into the clone
    *    (its derivation still plans once, under the caller's
    *    session); [[out]] binds the result back to the caller.
    *  - Share: the JVM codegen class cache is keyed by (class loader,
    *    source), and under artifact isolation each clone runs its tasks
    *    under its own loader, missing the cache even on identical
    *    source. The clone turns isolation off before its first
    *    execution (Spark reads the flag once, lazily); streaming's
    *    clones inherit it. The program adds no artifacts to any
    *    session, so nothing is lost; an operator that needs
    *    per-session artifacts must not use the Scope. */
  final class Scope private (val origin: SparkSession) {
    val session: SparkSession = origin.newSession()
    session.conf.set("spark.sql.artifact.isolation.enabled", "false")
    Scope.Carried.foreach(k => origin.conf.getOption(k).foreach(session.conf.set(k, _)))

    def in(df: DataFrame): DataFrame = rebind(session, df)
    def out(df: DataFrame): DataFrame = rebind(origin, df)
    def sizeTo(rows: Long): Unit = partitions(Scope.dataSized(rows))
    def partitions(n: Long): Unit =
      session.conf.set("spark.sql.shuffle.partitions", n.toString)
  }

  object Scope {
    val Carried: Seq[String] = Seq(ReliableKey, DirKey, "spark.graft.staging.dir",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")

    def dataSized(rows: Long): Long = math.max(4L, rows / 65536L)

    def apply(origin: SparkSession): Scope = new Scope(origin)

    def apply(origin: SparkSession, partitions: Long): Scope = {
      val scope = new Scope(origin)
      scope.partitions(partitions)
      scope
    }
  }

  /** Scope for BOUNDED-SLICE pin queries (the `*_exact` DuckDB pins):
    * their working set is a constant by construction (a literal
    * `id < N` slice plus a fixed plant set — it never grows with the
    * corpus), so a few partitions serve it at any corpus scale —
    * exactly what AQE would coalesce to by size. */
  object BoundedPin {
    def apply(origin: SparkSession, partitions: Int = 4)(
        body: SparkSession => DataFrame): DataFrame = {
      val scope = Scope(origin, partitions)
      scope.out(body(scope.session))
    }

    /** Ferry a (small, origin-planned) frame into the pin session with
      * its lineage cut: the slice derivation runs ONCE at the caller's
      * full scan parallelism; everything downstream plans in the
      * clone. The ferried frame is coalesced to the pin parallelism —
      * a bounded slice left at scan partitioning would otherwise leak
      * core-count-scaled task counts into every downstream stage (a
      * ferried frame also loses size statistics, so an inequality
      * self-join over it plans as a CartesianProduct whose task count
      * is the PRODUCT of the input partition counts). */
    def ferry(clone: SparkSession, df: DataFrame): DataFrame =
      cut(rebind(clone, df.coalesce(width(clone))))
  }
}
