package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import graft.llm.Dedup
import graft.ops.Graph

/** The iterative operators cut lineage through [[Checkpoints.cut]]:
  * `localCheckpoint` by default (fast, unrecoverable), reliable
  * `checkpoint()` under `graft.checkpoint.reliable` (cluster mode —
  * survives executor loss). Checkpointing changes where blocks live,
  * never values: both modes must produce IDENTICAL results. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  // 12-vertex ring (diameter 6 — several pointer-jump rounds) plus a
  // disjoint 3-chain and an isolated vertex
  private def ringEdges = ((0L until 12L).map(i => (i, (i + 1) % 12)) ++
    Seq((100L, 101L), (101L, 102L))).toDF("src", "dst")
  private def ringVerts = ((0L until 12L) ++ Seq(100L, 101L, 102L, 999L)).toDF("id")

  private def withReliable[A](body: => A): A = {
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try body
    finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  test("connectedComponents: reliable checkpoint mode matches local mode exactly") {
    val local = Dedup.connectedComponents(ringEdges, ringVerts)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val reliable = withReliable {
      Dedup.connectedComponents(ringEdges, ringVerts)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(reliable.toSeq === local.toSeq)
    // sanity: the ring collapses to label 0, the chain to 100,
    // the isolate keeps itself
    val m = local.toMap
    assert((0L until 12L).forall(m(_) == 0L))
    assert(Seq(100L, 101L, 102L).forall(m(_) == 100L))
    assert(m(999L) === 999L)
  }

  test("pageRank: reliable checkpoint mode matches local mode exactly") {
    val sym = ringEdges.unionAll(ringEdges.select(col("dst").as("src"),
      col("src").as("dst")))
    val local = Graph.pageRank(sym, 5)
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val reliable = withReliable {
      Graph.pageRank(sym, 5)
        .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    assert(reliable.toSeq === local.toSeq)
    assert(local.nonEmpty)
  }

  test("reliable mode actually writes checkpoint files") {
    // the context checkpoint dir is set once per JVM by the first
    // reliable cut (possibly in an earlier test) — assert on whatever
    // dir the context carries after this cut
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try {
      val cut = Checkpoints.cut(ringVerts)
      assert(cut.count() === 16)
      val dir = spark.sparkContext.getCheckpointDir.get
      val files = java.nio.file.Files.walk(
          new org.apache.hadoop.fs.Path(dir).toUri.getPath match {
            case p => java.nio.file.Paths.get(p)
          })
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable cut left no files in the checkpoint dir")
    } finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  test("successive scopes share the codegen class cache; the origin keeps its isolation") {
    val isolation = "spark.sql.artifact.isolation.enabled"
    val originIsolation = spark.conf.getOption(isolation)
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // one small group-by per fresh clone; returns the classes it compiled
    def aggregateInNewScope(): Long = {
      val clone = Checkpoints.Scope(spark).session
      val before = compiles
      clone.range(100000).groupBy((col("id") % 7).as("k"))
        .agg(sum("id")).collect()
      compiles - before
    }
    aggregateInNewScope()
    assert(aggregateInNewScope() === 0L,
      "a second clone recompiled classes the first one already compiled")
    assert(spark.conf.getOption(isolation) === originIsolation)
  }

  test("pageRank returns an empty frame on an empty edge set (no /0)") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(empty, 5).count() === 0)
  }

  test("propagate carries checkpoint AND staging conf into a cloned session") {
    // the one clone scope (Checkpoints.Scope): carry, size, rebind
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val thresholdBefore = spark.conf.getOption(threshold)
    val stagingBefore = spark.conf.getOption("spark.graft.staging.dir")
    spark.conf.set(Checkpoints.ReliableKey, "true")
    spark.conf.set(Checkpoints.DirKey, "/tmp/graft_ckpt_probe")
    spark.conf.set("spark.graft.staging.dir", "/tmp/graft_stage_probe")
    spark.conf.set(threshold, "4242")
    try {
      val scope = Checkpoints.Scope(spark)
      val clone = scope.session
      assert(clone ne spark)
      assert(Checkpoints.Scope.Carried.toSet === Set(Checkpoints.ReliableKey,
        Checkpoints.DirKey, "spark.graft.staging.dir", threshold))
      assert(clone.conf.get(Checkpoints.ReliableKey) === "true")
      assert(clone.conf.get(Checkpoints.DirKey) === "/tmp/graft_ckpt_probe")
      assert(clone.conf.get(threshold) === "4242")
      // the staging override must ride along: the clone's checkpoint
      // fallback and any staged store it touches resolve against the
      // CLONE's conf (review finding, r17)
      assert(Staging.dir(clone, "probe")
        .startsWith("/tmp/graft_stage_probe/probe_"))
      // the data-sized rule: one partition per 64k rows, floor 4
      assert(Seq(0L, 65535L, 1000000L).map(Checkpoints.Scope.dataSized) ===
        Seq(4L, 4L, 15L))
      scope.sizeTo(1000000L)
      assert(clone.conf.get("spark.sql.shuffle.partitions") === "15")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === width)
      // rebind in and out; the output keeps the clone's row order
      val in = scope.in(Seq(3L, 1L, 2L).toDF("v"))
      assert(in.sparkSession eq clone)
      val out = scope.out(in.orderBy("v"))
      assert(out.sparkSession eq spark)
      assert(out.as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    } finally {
      spark.conf.unset(Checkpoints.ReliableKey)
      spark.conf.unset(Checkpoints.DirKey)
      stagingBefore.fold(spark.conf.unset("spark.graft.staging.dir"))(
        spark.conf.set("spark.graft.staging.dir", _))
      thresholdBefore.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
    }
  }
}
