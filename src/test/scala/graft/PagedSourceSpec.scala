package graft

import graft.ops.Ingest

/** DataSource V2 paginated connector: partition-per-page planning,
  * truncation cap, null/missing-key parsing, and end-to-end
  * equivalence with the from_json pipeline. */
class PagedSourceSpec extends SparkSpec {

  private def read(pageSize: Int, maxRecords: Int) =
    spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", pageSize).option("max_records", maxRecords).load()

  test("reads the full fixture with the declared explicit schema") {
    val df = read(3, 500)
    assert(df.count() == Ingest.fixture.size)
    assert(df.schema == Ingest.samSchema)
  }

  test("partition count = ceil(records/page_size) (parallel page fetch)") {
    assert(read(3, 500).rdd.getNumPartitions == 3) // 9 records / 3 per page
    assert(read(4, 500).rdd.getNumPartitions == 3)
    assert(read(100, 500).rdd.getNumPartitions == 1)
  }

  test("max_records truncation (reference MAX_RECORDS cap, :54)") {
    assert(read(2, 5).count() == 5)
    assert(read(2, 5).rdd.getNumPartitions == 3) // 2+2+1
  }

  test("JSON null and missing keys surface as SQL NULL") {
    val df = read(100, 500)
    val n4 = df.filter(df("noticeId") === "N004").collect().head
    assert(n4.isNullAt(n4.fieldIndex("typeOfSetAsideDescription")))
    val n7 = df.filter(df("noticeId") === "N007").collect().head
    assert(n7.isNullAt(n7.fieldIndex("officeAddress")))
    assert(n7.isNullAt(n7.fieldIndex("naicsCode")))
  }

  test("JSON-lines path option pages real volume across partitions") {
    // 1200 generated SAM-shaped records — far past the 9-row fixture,
    // so parallel page fetch is exercised with real data movement
    val f = java.nio.file.Files.createTempFile("graft_paged", ".jsonl")
    val lines = (0 until 1200).map { i =>
      s"""{"noticeId":"G%04d","title":"  Notice $i  ","solicitationNumber":"S$i",""".format(i) +
        s""""fullParentPathName":"AGENCY ${i % 7}","postedDate":"2024-0${i % 9 + 1}-15",""" +
        s""""typeOfSetAsideDescription":"${if (i % 3 == 0) "Service-Disabled Veteran-Owned Small Business Set-Aside" else "Total Small Business"}",""" +
        s""""naicsCode":"5415${i % 10}","officeAddress":{"city":"City${i % 5}","state":"s${i % 50}"},"uiLink":"https://x/${i}"}"""
    }
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    try {
      val df = spark.read.format("graft.sources.PagedJsonSource")
        .option("page_size", 250).option("max_records", 100000)
        .option("path", f.toString).load()
      assert(df.rdd.getNumPartitions == 5) // ceil(1200/250)
      assert(df.count() == 1200)
      // records parse against the explicit schema wherever they land
      assert(df.filter(df("officeAddress.city") === "City3").count() == 240)
      assert(df.filter(df("typeOfSetAsideDescription").contains("Veteran-Owned")).count() == 400)
      // the cap truncates the file exactly like the fixture
      val capped = spark.read.format("graft.sources.PagedJsonSource")
        .option("page_size", 250).option("max_records", 900)
        .option("path", f.toString).load()
      assert(capped.count() == 900)
      assert(capped.rdd.getNumPartitions == 4)
    } finally java.nio.file.Files.delete(f)
  }

  // ---- real-HTTP transport: the reference's pager over a live socket ----

  /** In-process HTTP server answering GET ?limit=&offset= with SAM
    * pages drawn from `records`, via per-offset behavior overrides. */
  private def withServer(records: Seq[String],
      behavior: Int => Option[com.sun.net.httpserver.HttpExchange => Unit])(
      body: String => Unit): Unit = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/search", (ex: com.sun.net.httpserver.HttpExchange) => {
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val params = q.split("&").filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap
      val limit = params("limit").toInt
      val offset = params("offset").toInt
      behavior(offset) match {
        case Some(custom) => custom(ex)
        case None =>
          val page = records.slice(offset, offset + limit)
          val payload = s"""{"totalRecords":${records.size},"opportunitiesData":[${page.mkString(",")}]}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, payload.length)
          ex.getResponseBody.write(payload)
          ex.close()
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}/search")
    finally server.stop(0)
  }

  private def httpRead(url: String, pageSize: Int = 4,
      maxRecords: Int = 500, timeoutMs: Int = 10000) =
    spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", pageSize).option("max_records", maxRecords)
      .option("timeout_ms", timeoutMs).option("url", url).load()

  test("HTTP happy path: serial offset pager drains all pages (reference :29-54)") {
    withServer(Ingest.fixture, _ => None) { url =>
      val rows = httpRead(url, pageSize = 4).collect()
      assert(rows.length == Ingest.fixture.size) // 4+4+1: short page ends loop
      val direct = read(100, 500).collect()
      assert(rows.map(_.toString).sorted.toSeq == direct.map(_.toString).sorted.toSeq,
        "HTTP transport must parse identically to the fixture transport")
      // max_records cap applies to the HTTP pager too (:54)
      assert(httpRead(url, pageSize = 4, maxRecords = 5).count() == 5)
    }
  }

  test("HTTP mid-pagination 500: partial results kept, read succeeds (reference :41-43)") {
    withServer(Ingest.fixture, offset =>
      if (offset == 4) Some { ex =>
        ex.sendResponseHeaders(500, -1); ex.close()
      } else None) { url =>
      val rows = httpRead(url, pageSize = 4).collect()
      assert(rows.length == 4, s"expected the pre-failure prefix, got ${rows.length}")
      assert(rows.map(_.getString(0)).toSet == Set("N001", "N002", "N003", "N004"))
    }
  }

  test("HTTP timeout propagates and fails the read (reference :40)") {
    withServer(Ingest.fixture, offset =>
      if (offset == 0) Some { ex =>
        Thread.sleep(3000)
        ex.sendResponseHeaders(200, -1); ex.close()
      } else None) { url =>
      val e = intercept[Exception] { httpRead(url, timeoutMs = 250).collect() }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Seq.empty else t +: causes(t.getCause)
      assert(causes(e).exists(_.isInstanceOf[java.net.SocketTimeoutException]),
        s"expected SocketTimeoutException in cause chain, got $e")
    }
  }

  test("source -> transform chain == from_json pipeline output") {
    val viaSource = SparkEntry.queries("q_rest_ingest")(spark, "")
      .collect().map(_.toSeq).toSeq
    val viaJson = Ingest.pipeline(spark).collect().map(_.toSeq).toSeq
    assert(viaSource == viaJson)
    assert(viaSource.size == 5)
  }

  test("column pruning pushes into the source: the scan reads only projected fields") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).load()
      .select("title", "naicsCode")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    val read = scans.head.scan.readSchema().fieldNames.toSeq
    assert(read == Seq("title", "naicsCode"),
      s"source read schema not pruned: $read")
    // pruned results identical to the full-scan projection
    val full = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).load().collect()
      .map(r => (r.getAs[String]("title"), r.getAs[String]("naicsCode"))).toSeq
    val pruned = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pruned == full)
  }

  test("runtime filtering: late join-key filters prune rows; declined under LIMIT") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.{EqualTo, In}
    val f = java.nio.file.Files.createTempFile("paged_runtime", ".jsonl")
    val lines = (0 until 20).map(i => s"""{"noticeId":"n$i","title":"t$i"}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head.scan
    val base = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).option("path", f.toString)
    try {
      // plain scan advertises its columns and applies a late In filter;
      // the read below replays BatchScanExec's own runtime-filter flow:
      // filter(...) then RE-planned partitions through the factory
      val df = base.load()
      val scan = scanOf(df)
      val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
      assert(rf.filterAttributes().map(_.describe()).contains("noticeId"))
      rf.filter(Array[org.apache.spark.sql.sources.Filter](In("noticeId", Array("n3", "n7"))))
      val batch = scan.toBatch
      val factory = batch.createReaderFactory()
      val got = batch.planInputPartitions().flatMap { pt =>
        val r = factory.createReader(pt)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (r.next()) buf += r.get().getUTF8String(0).toString
        r.close(); buf
      }.toSeq
      assert(got == Seq("n3", "n7"), s"late filter not applied: $got")
      // a pushed LIMIT pins WHICH raw rows the scan emits: the scan
      // must advertise nothing and ignore late filters
      val lim = base.load().limit(7)
      val lrf = scanOf(lim).asInstanceOf[SupportsRuntimeFiltering]
      assert(lrf.filterAttributes().isEmpty,
        "limit-pushed scan must not advertise runtime-filter attributes")
      lrf.filter(Array[org.apache.spark.sql.sources.Filter](EqualTo("noticeId", "n3")))
      assert(lim.collect().map(_.getAs[String]("noticeId")).toSeq ==
        (0 until 7).map(i => s"n$i"))
    } finally java.nio.file.Files.delete(f)
  }

  test("limit pushes into the pager: pages past the limit are never planned") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // 20-record JSON-lines file, page_size 3: a full scan plans 7
    // pages; limit(7) must plan exactly ceil(7/3) = 3
    val f = java.nio.file.Files.createTempFile("paged_limit", ".jsonl")
    val lines = (0 until 20).map(i => s"""{"noticeId":"n$i","title":"t$i"}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    val base = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).option("path", f.toString)
    assert(scanOf(base.load()).inputRDD.getNumPartitions == 7)
    val limited = base.load().limit(7)
    assert(scanOf(limited).inputRDD.getNumPartitions == 3,
      limited.queryExecution.executedPlan.toString)
    val got = limited.collect().map(_.getAs[String]("noticeId")).toSeq
    assert(got == (0 until 7).map(i => s"n$i"))
    java.nio.file.Files.delete(f)
  }

  test("OFFSET pushes into the pager: skipped pages are never planned") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val f = java.nio.file.Files.createTempFile("paged_offset", ".jsonl")
    val lines = (0 until 20).map(i => s"""{"noticeId":"n$i","title":"t$i"}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    val base = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).option("path", f.toString)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.getAs[String]("noticeId")).toSeq
    try {
      // page-aligned offset: pages 0,1 never planned (7 - 2 = 5 left)
      val aligned = base.load().offset(6)
      assert(scanOf(aligned).inputRDD.getNumPartitions == 5,
        aligned.queryExecution.executedPlan.toString)
      assert(ids(aligned) == (6 until 20).map(i => s"n$i"))
      // the Offset operator is gone from the plan (fully pushed)
      assert(!aligned.queryExecution.executedPlan.toString.contains("Offset"),
        aligned.queryExecution.executedPlan.toString)

      // UNALIGNED offset (7 % 3 != 0): page 2 is planned with an
      // in-page drop of 1; pages 0-1 still skipped
      val unaligned = base.load().offset(7)
      assert(scanOf(unaligned).inputRDD.getNumPartitions == 5)
      assert(ids(unaligned) == (7 until 20).map(i => s"n$i"))

      // df.offset(n).limit(m) == rows [n, n+m)
      val offLim = base.load().offset(7).limit(5)
      assert(ids(offLim) == (7 until 12).map(i => s"n$i"))
      // df.limit(m).offset(n) == rows [n, m)
      val limOff = base.load().limit(12).offset(7)
      assert(ids(limOff) == (7 until 12).map(i => s"n$i"))

      // SQL LIMIT m OFFSET n == rows [n, n+m)
      base.load().createOrReplaceTempView("paged_offset_v")
      val sqlRows = spark.sql(
        "SELECT noticeId FROM paged_offset_v LIMIT 4 OFFSET 10")
        .collect().map(_.getString(0)).toSeq
      assert(sqlRows == (10 until 14).map(i => s"n$i"))

      // offset past the data -> zero partitions, zero rows
      val past = base.load().offset(25)
      assert(ids(past).isEmpty)

      // max_records caps BEFORE the query offset: rows [4, 10)
      val capped = spark.read.format("graft.sources.PagedJsonSource")
        .option("page_size", 3).option("max_records", 10)
        .option("path", f.toString).load().offset(4)
      assert(ids(capped) == (4 until 10).map(i => s"n$i"))
    } finally java.nio.file.Files.delete(f)
  }

  test("HTTP pager starts at the pushed offset: prior pages never requested") {
    val seen = scala.collection.mutable.Set[Int]()
    withServer(Ingest.fixture, offset => { seen.synchronized { seen += offset }; None }) { url =>
      val rows = httpRead(url, pageSize = 3).offset(5)
        .collect().map(_.getString(0)).toSeq
      assert(rows == Ingest.fixture.indices.drop(5).map(i => f"N${i + 1}%03d"))
      assert(seen.synchronized(seen.toSet) == Set(5, 8),
        s"pager must begin at the pushed offset, requested: $seen")
      // offset + max_records: cap counted from stream row 0 -> [2, 6)
      seen.synchronized(seen.clear())
      val capped = httpRead(url, pageSize = 3, maxRecords = 6).offset(2)
        .collect().map(_.getString(0)).toSeq
      assert(capped == Seq("N003", "N004", "N005", "N006"))
    }
  }

  test("FILTER pushes into the source: FilterExec gone, null semantics exact") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def load() = read(3, 500)
    def filterExecs(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case f: FilterExec => f }
    // equality on a nullable field: fully pushed -> no FilterExec
    val eq = load().filter(col("naicsCode") === "541511")
    assert(filterExecs(eq).isEmpty, eq.queryExecution.executedPlan.toString)
    val expectedEq = load().collect()
      .filter(r => r.getAs[String]("naicsCode") == "541511").map(_.toString).sorted.toSeq
    assert(eq.collect().map(_.toString).sorted.toSeq == expectedEq)
    // NULL fields drop under EqualTo (IS TRUE semantics), surface under isNull
    assert(load().filter(col("officeAddress.city") === "Washington").collect()
      .forall(_.getAs[org.apache.spark.sql.Row]("officeAddress") != null))
    val nulls = load().filter(col("naicsCode").isNull)
    assert(filterExecs(nulls).isEmpty)
    assert(nulls.collect().map(_.getAs[String]("noticeId")).toSet ==
      load().collect().filter(_.getAs[String]("naicsCode") == null)
        .map(_.getAs[String]("noticeId")).toSet)
    // contains + And: pushed as one conjunction
    val conj = load().filter(col("typeOfSetAsideDescription").contains("Veteran") &&
      col("naicsCode").isNotNull)
    assert(filterExecs(conj).isEmpty)
    // Not is NOT pushable (IS TRUE evaluator can't express IS FALSE):
    // FilterExec stays and results remain exact, nulls dropped
    val not = load().filter(!(col("naicsCode") === "541511"))
    assert(filterExecs(not).nonEmpty, not.queryExecution.executedPlan.toString)
    assert(not.collect().map(_.getAs[String]("noticeId")).toSet ==
      load().collect().filter(r => r.getAs[String]("naicsCode") != null &&
        r.getAs[String]("naicsCode") != "541511").map(_.getAs[String]("noticeId")).toSet)
    // filter + limit: LIMIT counts FILTERED rows, so the source
    // declines the limit push (all pages still planned) yet results
    // are exact
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }.head
    val fl = load().filter(col("typeOfSetAsideDescription").isNotNull).limit(2)
    assert(scanOf(fl).inputRDD.getNumPartitions == 3,
      "limit must not push past a pushed filter")
    assert(fl.count() == 2)
    // filter + count(*): the planning-time count would count RAW
    // records — aggregate push declines, result is the filtered count
    val fc = load().filter(col("naicsCode").isNotNull).count()
    assert(fc == load().collect().count(_.getAs[String]("naicsCode") != null))
  }

  test("HTTP pager applies pushed filters without breaking the raw-stream cap") {
    import org.apache.spark.sql.functions.col
    withServer(Ingest.fixture, _ => None) { url =>
      val rows = httpRead(url, pageSize = 4)
        .filter(col("typeOfSetAsideDescription").contains("Veteran"))
        .collect()
      val expected = read(100, 500).collect().filter { r =>
        val v = r.getAs[String]("typeOfSetAsideDescription")
        v != null && v.contains("Veteran")
      }
      assert(rows.map(_.toString).sorted.toSeq ==
        expected.map(_.toString).sorted.toSeq)
      // cap truncates the RAW stream before filtering: 5 raw records
      // contain fewer Veteran rows than the full fixture
      val capped = httpRead(url, pageSize = 4, maxRecords = 5)
        .filter(col("typeOfSetAsideDescription").contains("Veteran")).count()
      val cappedExpected = read(100, 5).collect().count { r =>
        val v = r.getAs[String]("typeOfSetAsideDescription")
        v != null && v.contains("Veteran")
      }
      assert(capped == cappedExpected)
    }
  }

  test("streaming pager: unaligned byte batches never split, drop, or double-read a record") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // variable-length lines so no batch boundary can be line-aligned
    val f = java.nio.file.Files.createTempFile("paged_stream", ".jsonl")
    val lines = (0 until 100).map(i =>
      s"""{"noticeId":"S%03d","title":"${"x" * (i % 17)}"}""".format(i))
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    try {
      val stream = spark.readStream.format("graft.sources.PagedJsonSource")
        .option("path", f.toString)
        .option("page_size", 7)
        .option("stream_batch_bytes", 173) // prime, guaranteed mid-line
        .load()
      val sink = "paged_stream_sink"
      val sq = stream.select("noticeId")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      val got = spark.table(sink).collect().map(_.getString(0)).sorted.toSeq
      assert(got == (0 until 100).map(i => "S%03d".format(i)),
        s"exactly-once across byte boundaries: got ${got.size} rows")
      assert(sq.recentProgress.count(_.numInputRows > 0) >= 5,
        "the byte cap must split the backlog into many micro-batches")
      // pushed filters apply on the stream path too
      val fsink = "paged_stream_fsink"
      val fq = spark.readStream.format("graft.sources.PagedJsonSource")
        .option("path", f.toString).option("stream_batch_bytes", 500)
        .load()
        .filter(col("noticeId") > "S089")
        .writeStream.format("memory").queryName(fsink)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      fq.awaitTermination()
      // string > is not in the pushdown whitelist, so this exercises
      // the residual path; an IN filter exercises the pushed path
      assert(spark.table(fsink).count() == 10)
      val psink = "paged_stream_psink"
      val pq = spark.readStream.format("graft.sources.PagedJsonSource")
        .option("path", f.toString).option("stream_batch_bytes", 500)
        .load()
        .filter(col("noticeId").isin("S007", "S042", "S099"))
        .writeStream.format("memory").queryName(psink)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
      pq.awaitTermination()
      assert(spark.table(psink).collect().map(_.getAs[String]("noticeId")).sorted.toSeq ==
        Seq("S007", "S042", "S099"))
    } finally java.nio.file.Files.delete(f)
  }

  test("COUNT(*) pushes to the source: answered at planning, zero records parsed") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val f = java.nio.file.Files.createTempFile("paged_count", ".jsonl")
    val lines = (0 until 23).map(i => s"""{"noticeId":"n$i"}""")
    java.nio.file.Files.write(f, String.join("\n", lines: _*).getBytes)
    val df = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).option("path", f.toString).load()
    val cnt = df.groupBy().count()
    val scans = cnt.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, cnt.queryExecution.executedPlan.toString)
    // the scan's output IS the aggregate — one metadata partition,
    // not ceil(23/3) = 8 page readers
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("count(*)"),
      scans.head.scan.readSchema().treeString)
    assert(scans.head.inputRDD.getNumPartitions == 1)
    assert(cnt.collect().head.getLong(0) == 23L)
    // max_records still caps the pushed answer
    val capped = spark.read.format("graft.sources.PagedJsonSource")
      .option("page_size", 3).option("max_records", 10).option("path", f.toString)
      .load().count()
    assert(capped == 10L)
    java.nio.file.Files.delete(f)
  }

  test("batch write protocol: only committed attempts promote, abort leaves nothing, partition order holds") {
    import graft.sources.{PagedJsonBatchWrite, StagedFileMessage}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = TestSpark.tempDir("graft_w")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("noticeId",
        org.apache.spark.sql.types.StringType)))
    def row(v: String) = InternalRow(UTF8String.fromString(v))
    val bw = new PagedJsonBatchWrite(dir, "q1", schema)
    val factory = bw.createBatchWriterFactory(null)
    // partition 1: attempt A commits; attempt B (zombie) writes but
    // never commits; partition 0 commits after 1 — order must still
    // come out 0 then 1
    val w1a = factory.createWriter(1, 11L)
    w1a.write(row("p1"))
    val m1 = w1a.commit()
    val w1b = factory.createWriter(1, 12L)
    w1b.write(row("zombie"))
    // no commit for w1b — its staged file must not be promoted
    val w0 = factory.createWriter(0, 13L)
    w0.write(row("p0a")); w0.write(row("p0b"))
    val m0 = w0.commit()
    bw.commit(Array(m1, m0))
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "records.jsonl"))
    assert(lines.size == 3, lines.toString)
    assert(lines.get(0).contains("p0a") && lines.get(1).contains("p0b") &&
      lines.get(2).contains("p1"), lines.toString)
    assert(!lines.toString.contains("zombie"), "zombie attempt promoted")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_SUCCESS")), "UTF-8").trim
    assert(manifest == "3", manifest)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_staging")))
    // an aborted job leaves the committed log untouched and no staging
    val bw2 = new PagedJsonBatchWrite(dir, "q2", schema)
    val f2 = bw2.createBatchWriterFactory(null)
    val wx = f2.createWriter(0, 20L)
    wx.write(row("doomed"))
    wx.abort()
    bw2.abort(Array.empty)
    val after = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "records.jsonl"))
    assert(after.size == 3 && !after.toString.contains("doomed"))
    assert(!new java.io.File(dir).listFiles().exists(_.getName.startsWith("_staging")))
  }

  test("write -> read roundtrip preserves tricky JSON content exactly") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft_rt")
    val tricky = Seq(
      ("""q"uote""", "back\\slash"), ("new\nline", "tab\there"),
      ("unicode é中", "plain")).zipWithIndex
      .map { case ((a, b), i) => (i.toString, a, b) }
    val df = tricky.toDF("noticeId", "title", "solicitationNumber")
      .selectExpr("noticeId", "title", "solicitationNumber",
        "CAST(NULL AS STRING) AS fullParentPathName",
        "'2025-01-01' AS postedDate",
        "CAST(NULL AS STRING) AS typeOfSetAsideDescription",
        "'1' AS naicsCode",
        "named_struct('city', title, 'state', solicitationNumber) AS officeAddress",
        "'u' AS uiLink")
    df.write.format("graft.sources.PagedJsonSource")
      .mode("append").option("path", dir).save()
    val back = spark.read.format("graft.sources.PagedJsonSource")
      .option("path", s"$dir/records.jsonl").option("page_size", 2)
      .option("max_records", 100).load()
      .select("noticeId", "title", "solicitationNumber",
        "officeAddress.city", "officeAddress.state")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).sortBy(_._1)
    val want = tricky.map { case (i, a, b) => (i, a, b, a, b) }.sortBy(_._1)
    assert(back.toSeq == want, s"roundtrip mangled content: ${back.toSeq}")
  }
}
