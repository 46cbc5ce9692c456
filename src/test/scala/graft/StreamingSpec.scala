package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException}
import graft.streaming.EventStream

/** Streaming-vs-batch equivalence: the same declarative aggregation
  * must produce identical results incrementally (MemoryStream, three
  * uneven micro-batches) and as one batch over the same rows. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val rows = Seq(
    (1L, ts("2024-01-01 00:10:00"), 7L, "click", 10.0),
    (2L, ts("2024-01-01 00:40:00"), 7L, "click", 20.0),
    (3L, ts("2024-01-01 01:05:00"), 8L, "view", 30.0),
    (4L, ts("2024-01-01 01:55:00"), 8L, "click", 40.0),
    (5L, ts("2024-01-01 02:20:00"), 7L, "view", 50.0),
    (6L, ts("2024-01-01 02:59:00"), 9L, "view", 60.0))

  test("hourly window agg: streaming result == batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val stream = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventStream.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(2)); q.processAllAvailable()
      mem.addData(rows.slice(2, 5)); q.processAllAvailable()
      mem.addData(rows.drop(5)); q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      val batch = EventStream.hourlyCounts(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("q_stream_window (driver entry, AvailableNow file stream) == batch q_time_window") {
    val streamed = SparkEntry.queries("q_stream_window")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q_time_window")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming dedup drops repeated event ids across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStream.dedupEvents(stream)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, ts("2024-01-01 00:10:00"), "click")))
      q.processAllAvailable()
      // same id+ts again in a later micro-batch -> must not re-emit
      mem.addData(Seq(
        (1L, ts("2024-01-01 00:10:00"), "click"),
        (2L, ts("2024-01-01 00:20:00"), "view")))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("event_id")
        .as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stream-static dimension join enriches micro-batches; unmatched keys keep null") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("click", "interaction"), ("view", "impression"))
      .toDF("event_type", "category")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("event_id", "ts", "event_type")
    val q = EventStream.enrichWithDim(stream, dim, "event_type")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, ts("2024-01-01 00:10:00"), "click")))
      q.processAllAvailable()
      mem.addData(Seq(
        (2L, ts("2024-01-01 00:20:00"), "view"),
        (3L, ts("2024-01-01 00:30:00"), "purchase"))) // not in dim -> null
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("event_id", "category").as[(Long, Option[String])]
        .collect().toMap
      assert(got == Map(1L -> Some("interaction"), 2L -> Some("impression"), 3L -> None))
    } finally q.stop()
  }

  test("mapGroupsWithState running per-user counts accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = EventStream.runningUserCounts(mem.toDS())
      .toDF("user_id", "events_so_far")
      .writeStream.format("memory").queryName("ruc_out")
      .outputMode("update").start()
    try {
      mem.addData(Seq((7L, ts("2024-01-01 00:10:00")), (7L, ts("2024-01-01 00:11:00"))))
      q.processAllAvailable()
      mem.addData(Seq((7L, ts("2024-01-01 00:12:00")), (8L, ts("2024-01-01 00:13:00"))))
      q.processAllAvailable()
      val last = spark.table("ruc_out")
        .groupBy("user_id").agg(max("events_so_far").as("n"))
        .as[(Long, Long)].collect().toMap
      assert(last(7L) == 3L)
      assert(last(8L) == 1L)
    } finally q.stop()
  }

  test("checkpoint restart resumes keyed state exactly once (no reprocessing, no loss)") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = TestSpark.root.toString
    val dir = s"$tmp/graft_ckpt_events"
    val ck = s"$tmp/graft_ckpt_state"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq(dir, ck).foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))

    val phase1 = Seq((7L, ts("2024-01-01 00:10:00")), (7L, ts("2024-01-01 00:11:00")),
      (8L, ts("2024-01-01 00:12:00")))
    val phase2 = Seq((8L, ts("2024-01-01 00:13:00")), (7L, ts("2024-01-01 00:14:00")),
      (9L, ts("2024-01-01 00:15:00")))
    val schema = phase1.toDF("user_id", "ts").schema

    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // restart-capable sink, draining each micro-batch into a buffer
    def run(): Map[Long, Long] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val stream = spark.readStream.schema(schema).parquet(dir)
        .as[(Long, Timestamp)]
      val q = EventStream.runningUserCounts(stream)
        .toDF("user_id", "events_so_far")
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized { buf ++= df.as[(Long, Long)].collect() }
          () // Unit return disambiguates the Scala/Java foreachBatch overloads
        }
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      buf.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).max }
    }

    phase1.toDF("user_id", "ts").repartition(1).write.mode("append").parquet(dir)
    val p1 = run()
    assert(p1 == Map(7L -> 2L, 8L -> 1L))

    phase2.toDF("user_id", "ts").repartition(1).write.mode("append").parquet(dir)
    val p2 = run()
    // counts continue from the restored state: phase-1 files are NOT
    // re-read (7 would be 1, 8 would be 1 from scratch) and no state
    // is lost (7 reaches its all-data total of 3)
    assert(p2 == Map(7L -> 3L, 8L -> 2L, 9L -> 1L))
  }

  test("funnel on a zero-completion corpus: streaming == batch, sums 0 not NULL") {
    // views + one valid click, ZERO purchases: the final funnel stage
    // is empty, so an uncoalesced SUM would diverge (NULL on the
    // scalar-subquery oracle side, 0 on the streaming side)
    val dir = TestSpark.tempDir("graft_funnel_fix")
    val rows = Seq(
      (1L, ts("2024-03-01 00:00:00"), 10L, "view", 1.0, "{}"),
      (2L, ts("2024-03-01 00:30:00"), 10L, "click", 1.0, "{}"),
      (3L, ts("2024-03-01 00:05:00"), 11L, "view", 1.0, "{}"),
      // click BEFORE user 12's only view: not a click-after-view
      (4L, ts("2024-03-01 00:01:00"), 12L, "click", 1.0, "{}"),
      (5L, ts("2024-03-01 00:02:00"), 12L, "view", 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.llm.Events.funnel.fn(spark, dir).head()
    val streamed = EventStream.streamFunnel.fn(spark, dir).head()
    assert(batch.toSeq == streamed.toSeq)
    // n_view, n_click_after_view, n_full_funnel, total_convert_secs
    assert(batch.toSeq == Seq(3L, 1L, 0L, 0L))
  }

  test("exactly-once merge sink: multi-batch, restart replays nothing, re-run idempotent") {
    val first = EventStream.streamMerge.fn(spark, sf001).collect()
    // the sink actually split into multiple micro-batch partitions
    // (8 staged files / 3 per trigger); a single-batch run would not
    // exercise batch-id idempotence
    val target = new java.io.File(Staging.dir(spark, "graft_stream_merge_tgt"))
    val batchDirs = target.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.length >= 2, s"expected multi-batch sink, got ${batchDirs.length}")
    // every event landed exactly once: per-user counts sum to the table
    val nEvents = Tables.load(spark, sf001, "events").count()
    assert(first.map(_.getAs[Long]("n_events")).sum == nEvents)
    // a full re-invocation (source already staged, checkpoint already
    // at the end) processes nothing and returns the identical result
    val second = EventStream.streamMerge.fn(spark, sf001).collect()
    assert(first.toSeq == second.toSeq)
    val after = target.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(after.toSeq == batchDirs.map(_.getName).sorted.toSeq,
      "no new batch partitions on a checkpointed re-run")
  }

  test("late-data policy: stragglers quarantined against the committed watermark, never counted") {
    val out = EventStream.streamLate.fn(spark, sf001).collect()
    assert(out.nonEmpty)
    // batch-side ground truth for the replay's arithmetic split
    val ev = Tables.load(spark, sf001, "events")
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val lateCut = new Timestamp(maxTs.getTime - 2L * 3600 * 1000)
    val isLate = col("event_id") % 5 === 0 && col("ts") < lit(lateCut)
    val wantLate = ev.filter(isLate).count()
    val wantOnTime = ev.count() - wantLate
    assert(wantLate > 0, "corpus must actually contain stragglers for the test to bite")
    assert(out.map(_.getAs[Long]("n_late_dropped")).sum == wantLate,
      "every straggler lands in quarantine accounting")
    assert(out.map(_.getAs[Long]("n_ontime")).sum == wantOnTime,
      "admitted rows are exactly the on-time partition (horizon row filtered)")
    // quarantined rows contribute NOTHING to the value totals
    val wantCents = ev.filter(!isLate)
      .agg(sum(round(col("value") * 100, 0).cast("long"))).head().getLong(0)
    assert(out.map(_.getAs[Long]("cents_ontime")).sum == wantCents)
  }

  test("Misra-Gries update obeys the frequency envelope on every prefix") {
    // deterministic skewed stream: key 1 is the majority element
    val stream = Seq.tabulate(400)(i => if (i % 3 != 2) 1L else (i % 17).toLong + 2L)
    var m = Map.empty[Long, Long]
    val k = 4
    val truth = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    stream.zipWithIndex.foreach { case (x, i) =>
      m = EventStream.mgAdd(m, x, k)
      truth(x) += 1L
      val n = i + 1L
      assert(m.size <= k, s"state exceeded capacity at $n")
      // every key's estimate within [true - n/(k+1), true]
      (truth.keySet ++ m.keySet).foreach { u =>
        val est = m.getOrElse(u, 0L)
        assert(est <= truth(u), s"overestimate for $u at $n")
        assert(est >= truth(u) - n / (k + 1), s"underestimate beyond envelope for $u at $n")
      }
    }
    // the majority element must be tracked with a dominant estimate
    assert(m.contains(1L) && m(1L) > m.filterNot(_._1 == 1L).values.maxOption.getOrElse(0L))
  }

  test("q_stream_kcore_deg: maintained state satisfies the handshake identity") {
    val degs = EventStream.streamKcoreDeg.fn(spark, sf001).collect()
      .map(r => (r.getAs[Long]("vertex"), r.getAs[Long]("degree")))
    assert(degs.nonEmpty)
    assert(degs.forall(_._2 >= 1), "a touched vertex has degree >= 1")
    // every undirected edge contributes exactly 2 to the degree total
    val total = degs.map(_._2).sum
    assert(total % 2 == 0 && total > 0, s"odd handshake total $total")
    assert(degs.map(_._1).distinct.length == degs.length, "one row per vertex")
  }

  test("cdc state: late old changes lose, late tombstones win, exact across splits") {
    implicit val sqlCtx = spark.sqlContext
    // (key, seq, value_cents, delete) — batch 1 carries the NEWER
    // changes, batch 2 the older ones (adversarial arrival order)
    val mem = MemoryStream[(Long, Long, Long, Boolean)]
    val q = EventStream.cdcStates(mem.toDS())
      .toDF("key", "last_seq", "value_cents", "del", "n_seen")
      .writeStream.format("memory").queryName("cdc_out")
      .outputMode("update").start()
    try {
      mem.addData(Seq((1L, 10L, 111L, false), (2L, 20L, 222L, true),
        (3L, 5L, 333L, false)))
      q.processAllAvailable()
      // key 1: OLDER upsert arrives late -> must lose to seq 10;
      // key 2: older upsert after its tombstone -> key stays dead;
      // key 3: newer tombstone arrives -> key dies
      mem.addData(Seq((1L, 9L, 999L, false), (2L, 19L, 888L, false),
        (3L, 6L, 0L, true)))
      q.processAllAvailable()
      val fin = spark.table("cdc_out")
        .groupBy("key")
        .agg(expr("max_by(last_seq, n_seen)").as("last_seq"),
          expr("max_by(value_cents, n_seen)").as("value_cents"),
          expr("max_by(del, n_seen)").as("del"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
      assert(fin(1L) == ((10L, 111L, false)), s"late old change must lose: $fin")
      assert(fin(2L) == ((20L, 222L, true)), s"tombstone must survive older upsert: $fin")
      assert(fin(3L) == ((6L, 0L, true)), s"late tombstone must erase the key: $fin")
    } finally q.stop()
  }

  /** Three single-file batches under `maxFilesPerTrigger = 1`: ids
    * 0-29 range-split in id order, arrival pinned to that order. */
  private def threeBatchStage(name: String): String = {
    val stage = EventStream.land(spark, name, spark.range(0, 30).toDF().repartitionByRange(3, col("id")))
    val path = new org.apache.hadoop.fs.Path(stage)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(path, "part-*")).sortBy(_.getPath.getName)
    assert(parts.length == 3)
    parts.zipWithIndex.foreach { case (f, i) => fs.setTimes(f.getPath, 1000000L * (i + 1), -1) }
    stage
  }

  private def readIds(local: SparkSession, stage: String) =
    local.readStream.schema("id BIGINT").option("maxFilesPerTrigger", 1).parquet(stage)

  test("replay drains the whole backlog and leaves no active stream in its clone") {
    val stage = threeBatchStage("graft_replay_spec")
    val out = EventStream.replay(spark, OutputMode.Complete, minBatches = 3)(local =>
      readIds(local, stage).groupBy((col("id") % 3).as("k")).count())
    val got = out.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    assert(out.sparkSession ne spark, "the run plans in a clone")
    assert(out.sparkSession.streams.active.isEmpty)
  }

  test("replay propagates a batch failure partway through and leaves no active stream") {
    val stage = threeBatchStage("graft_replay_fail_spec")
    var clone: SparkSession = null
    val e = intercept[StreamingQueryException] {
      EventStream.replay(spark, OutputMode.Append) { local =>
        clone = local
        readIds(local, stage).select(
          when(col("id") === 29L, raise_error(lit("planted batch failure")))
            .otherwise(col("id")).as("id"))
      }
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted batch failure")))
    assert(clone.streams.active.isEmpty)
    // the batches before the failing one were committed to the sink
    val kept = clone.table(EventStream.SinkTable).count()
    assert(kept > 0 && kept < 30, s"expected a partial sink, got $kept rows")
  }

  test("replay below its micro-batch floor throws with the count and the floor") {
    val stage = threeBatchStage("graft_replay_floor_spec")
    val e = intercept[IllegalStateException] {
      EventStream.replay(spark, OutputMode.Complete, minBatches = 4)(local =>
        readIds(local, stage).groupBy().count())
    }
    assert(e.getMessage == "streaming replay data micro-batches: measured 3, bound >= 4",
      e.getMessage)
  }

  test("a stateful replay starts no chmod or readlink subprocess") {
    import scala.jdk.CollectionConverters._
    val stage = threeBatchStage("graft_replay_fork_spec")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out =
      try EventStream.replay(spark, OutputMode.Append, minBatches = 3)(local =>
        readIds(local, stage).dropDuplicates("id"))
      finally rec.stop()
    val file = java.nio.file.Paths.get(TestSpark.tempDir("graft_jfr"), "forks.jfr")
    val commands =
      try {
        rec.dump(file)
        jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.map(_.getString("command"))
      } finally rec.close()
    assert(out.count() == 30)
    // the one allowed start is Spark's `rm -rf` of the temp checkpoint
    val forks = commands.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} subprocesses: ${forks.take(5).mkString("; ")}")
  }

  test("only replay and the merge run start a stream in src/main/scala") {
    // the no-argument wait is a stream's; an executor pool's takes a timeout
    val starts = Seq(".writeStream", "awaitTermination()", "format(\"memory\")")
    // a block opened by a def line ends at the next line of the same indent
    def block(lines: IndexedSeq[String], opener: String): Range = {
      val from = lines.indexWhere(_.contains(opener))
      assert(from >= 0, s"no `$opener` in EventStream.scala")
      val indent = lines(from).takeWhile(_ == ' ').length
      from to lines.indexWhere(l => l.trim.nonEmpty && l.takeWhile(_ == ' ').length == indent, from + 1)
    }
    val hits = MainSources.files.flatMap { case (p, lines) =>
      val allowed =
        if (p.getFileName.toString != "EventStream.scala") Set.empty[Int]
        else (block(lines, "def replay(") ++ block(lines, "def run(): Unit")).toSet
      lines.indices.collect {
        case i if starts.exists(lines(i).contains) => (MainSources.at(p, i), allowed(i))
      }
    }
    assert(hits.count(_._2) >= 4, s"the scan must see replay's and the merge run's starts: $hits")
    val offenders = hits.filterNot(_._2).map(_._1)
    assert(offenders.isEmpty, offenders.mkString("stream started outside replay: ", ", ", ""))
  }
}
