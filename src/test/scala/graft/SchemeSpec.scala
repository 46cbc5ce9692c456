package graft

import org.apache.spark.sql.functions._

/** A custom-scheme Hadoop FileSystem ("graftfs://", a RawLocalFileSystem
  * in disguise) registered at the Hadoop-conf level — the same
  * mechanism s3a:// and hdfs:// use. Everything path-shaped in the
  * engine must work through it unchanged: a `java.io.File` or
  * hardcoded `file:` assumption anywhere in Staging/Sinks/Layout
  * would throw or silently read the wrong tree here. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

class SchemeSpec extends SparkSpec {

  private def withGraftFs[A](body: String => A): A = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val base = TestSpark.tempDir("graft_scheme")
    body(s"graftfs://$base")
  }

  test("compact reads, sizes, and rewrites through a non-file scheme") {
    withGraftFs { base =>
      val ev = Tables.load(spark, sf001, "events")
        .select("event_id", "event_type", "value")
      ev.repartition(16).write.mode("overwrite").parquet(s"$base/fragged")
      val nOut = ops.Layout.compact(spark, s"$base/fragged", s"$base/compacted")
      assert(nOut === 1, "sf0.001 events must compact to one target file")
      val back = spark.read.parquet(s"$base/compacted")
      assert(back.count() === ev.count())
      assert(back.inputFiles.forall(_.startsWith("graftfs:")),
        back.inputFiles.take(3).mkString(","))
      assert(back.inputFiles.length < 16)
      // values round-trip exactly, not just the row count
      val sumBefore = ev.agg(sum(round(col("value") * 100, 0).cast("long")))
        .head().getLong(0)
      val sumAfter = back.agg(sum(round(col("value") * 100, 0).cast("long")))
        .head().getLong(0)
      assert(sumAfter === sumBefore)
    }
  }

  test("partitioned parquet sink + partition pruning through a non-file scheme") {
    withGraftFs { base =>
      val o = Tables.load(spark, sf001, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      ops.Sinks.partitionedParquet(o, s"$base/orders_by_status", "o_orderstatus")
      val back = spark.read.parquet(s"$base/orders_by_status")
      assert(back.count() === o.count())
      assert(back.inputFiles.forall(_.startsWith("graftfs:")),
        back.inputFiles.take(3).mkString(","))
      val pruned = back.filter(col("o_orderstatus") === "F")
      // execute THIS plan instance so its scan metrics populate
      // (count() would build and execute a separate plan)
      val qe = pruned.queryExecution
      assert(qe.executedPlan.executeCollect().length.toLong ===
        o.filter(col("o_orderstatus") === "F").count())
      // pruning proof: the scan reads one partition's file, not all
      // three status partitions (inputFiles is relation-level, so the
      // executed scan's metric is the honest signal)
      val scan = qe.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .get
      assert(scan.metrics("numFiles").value === 1,
        s"expected 1 pruned file, scanned ${scan.metrics("numFiles").value}")
    }
  }

  test("csv sink round-trips through a non-file scheme") {
    withGraftFs { base =>
      val n = Tables.load(spark, sf001, "nation")
      ops.Sinks.csvResults(n, s"$base/nation_csv")
      val back = spark.read.option("header", "true")
        .option("inferSchema", "true").csv(s"$base/nation_csv")
      assert(back.count() === n.count())
      assert(back.columns.sorted.toSeq === n.columns.sorted.toSeq)
    }
  }

  test("staging base is overridable and stages through a non-file scheme") {
    withGraftFs { base =>
      // cluster knob (VERDICT r16 item 6): on a real cluster staged
      // stores must live on shared storage; the session conf reroutes
      // every Staging.dir caller without touching the operators
      val before = spark.conf.getOption("spark.graft.staging.dir")
      spark.conf.set("spark.graft.staging.dir", s"$base/staged")
      try {
        val path = Staging.dir(spark, "graft_scheme_probe")
        assert(path.startsWith(s"$base/staged/graft_scheme_probe_"),
          path)
        assert(!Staging.ready(spark, path), "fresh path must not be ready")
        Tables.load(spark, sf001, "nation").select("n_nationkey", "n_name")
          .write.mode("overwrite").parquet(path)
        assert(Staging.ready(spark, path),
          "_SUCCESS through the custom scheme must mark the store ready")
        assert(spark.read.parquet(path).count() === 25)
      } finally restoreStaging(before)
      // the previous base is back the moment the override is gone; with
      // no conf, the environment override (next in precedence) or the
      // local tmpdir is the documented default
      val expectedBase = before.orElse(sys.env.get("GRAFT_STAGING_DIR"))
        .getOrElse(System.getProperty("java.io.tmpdir")).stripSuffix("/")
      assert(Staging.dir(spark, "x").startsWith(expectedBase))
    }
  }

  /** Runs `body` with the staging base on a fresh graftfs directory, so
    * every store path is new to this application. */
  private def withFreshStaging[A](body: => A): A = withGraftFs { base =>
    val before = spark.conf.getOption("spark.graft.staging.dir")
    spark.conf.set("spark.graft.staging.dir", s"$base/staged")
    try body finally restoreStaging(before)
  }

  private def restoreStaging(before: Option[String]): Unit =
    before.fold(spark.conf.unset("spark.graft.staging.dir"))(
      spark.conf.set("spark.graft.staging.dir", _))

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("a store whose build died midway is not ready and is rebuilt") {
    withFreshStaging {
      val path = Staging.keyed(spark, "graft_spec_half", "k")
      var builds = 0
      // the write job fails on its last row: tasks may have written
      // part files, and the store directory exists, but no _SUCCESS
      val err = intercept[Exception] {
        Staging.store(spark, "graft_spec_half", "k") {
          builds += 1
          spark.range(0, 100, 1, 4).select(
            when(col("id") === 99, raise_error(lit("build died")))
              .otherwise(col("id")).as("id"))
        }
      }
      assert(err.getMessage.contains("build died"), err.getMessage)
      val p = new org.apache.hadoop.fs.Path(path)
      assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
        "the failed write must leave the store directory behind")
      assert(!Staging.ready(spark, path))
      val back = Staging.store(spark, "graft_spec_half", "k") {
        builds += 1
        spark.range(0, 100, 1, 4).toDF("id")
      }
      assert(builds === 2)
      assert(Staging.ready(spark, path))
      assert(ids(back) === (0L until 100L))
    }
  }

  test("store paths are injective in the raw key") {
    withFreshStaging {
      // both keys sanitize to the same slug
      val (k1, k2) = ("/x/sf0.1", "/x/sf0_1")
      assert(Staging.keyed(spark, "graft_spec_keyed", k1) !=
        Staging.keyed(spark, "graft_spec_keyed", k2))
      val a = Staging.store(spark, "graft_spec_keyed", k1)(spark.range(0, 3).toDF("id"))
      val b = Staging.store(spark, "graft_spec_keyed", k2)(spark.range(10, 12).toDF("id"))
      assert(ids(a) === Seq(0L, 1L, 2L))
      assert(ids(b) === Seq(10L, 11L))
    }
  }

  test("two threads staging one key build it exactly once") {
    withFreshStaging {
      val builds = new java.util.concurrent.atomic.AtomicInteger(0)
      val start = new java.util.concurrent.CountDownLatch(1)
      val rows = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          start.await()
          rows.add(ids(Staging.store(spark, "graft_spec_race", "k") {
            builds.incrementAndGet()
            // hold the build open so the other thread arrives mid-build
            Thread.sleep(300)
            spark.range(0, 5).toDF("id")
          }))
        })
      }
      threads.foreach(_.start())
      start.countDown()
      threads.foreach(_.join(60000))
      assert(builds.get === 1)
      assert(rows.size === 2)
      rows.forEach(r => assert(r === (0L until 5L)))
    }
  }
}
