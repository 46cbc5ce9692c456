package graft

import org.apache.spark.sql.functions._
import graft.functions.ZOrderValue

/** Z-order expression correctness + the layout property the operator
  * exists for: clustered writes tighten per-file key ranges on BOTH
  * dimensions (⇒ min/max pruning works for 2-D box predicates). */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Bit-at-a-time reference interleave. */
  private def refInterleave(a: Long, b: Long): Long =
    (0 until 32).foldLeft(0L) { (acc, i) =>
      acc | ((a >> i) & 1L) << (2 * i) | ((b >> i) & 1L) << (2 * i + 1)
    }

  test("ZOrderValue matches the bit-at-a-time reference (known + random values)") {
    assert(ZOrderValue.interleave(0L, 0L) == 0L)
    assert(ZOrderValue.interleave(1L, 0L) == 1L)
    assert(ZOrderValue.interleave(0L, 1L) == 2L)
    assert(ZOrderValue.interleave(0xFFFFFFFFL, 0L) == 0x5555555555555555L)
    assert(ZOrderValue.interleave(0L, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val a = rnd.nextLong() & 0xFFFFFFFFL
      val b = rnd.nextLong() & 0xFFFFFFFFL
      assert(ZOrderValue.interleave(a, b) == refInterleave(a, b), s"($a,$b)")
    }
  }

  test("ZOrderValue expression (codegen path) == object method") {
    val rows = (1 to 500).map(i => (i.toLong * 7919 % 4096, i.toLong * 104729 % 4096))
      .toDF("a", "b")
    val got = rows.select(ZOrderValue(col("a"), col("b")).as("z"))
      .as[Long].collect()
    val want = rows.as[(Long, Long)].collect()
      .map { case (a, b) => ZOrderValue.interleave(a, b) }
    assert(got.toSeq == want.toSeq)
  }

  test("z-ordered write tightens per-file ranges on the second dimension") {
    // 64×64 uniform grid; 16 output files. A linear sort on x leaves
    // every file spanning y's full range; Z-order tiles the plane so
    // each file covers ~a quarter of it per dimension.
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val tmp = TestSpark.root.toString
    val zPath = s"$tmp/graft_layout_z"
    val linPath = s"$tmp/graft_layout_lin"
    ops.Layout.zorderWrite(grid, col("x"), col("y"), zPath, 16)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(linPath)
    def sumYRanges(path: String): Long = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(files.length == 16, s"$path: ${files.length} files")
      files.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("y").cast("long"), max("y").cast("long")).head()
        r.getLong(1) - r.getLong(0)
      }.sum
    }
    val zSum = sumYRanges(zPath)
    val linSum = sumYRanges(linPath)
    // linear: every file spans y∈[0,63] ⇒ sum = 16·63 = 1008.
    // z-order: 16 equal-count Z-ranges tile 4×4 ⇒ y-range ≈ 15/file.
    assert(linSum >= 15L * 16, s"linear layout unexpectedly tight: $linSum")
    assert(zSum * 2 < linSum, s"z-order did not tighten ranges: z=$zSum lin=$linSum")
  }

  test("compaction collapses a fragmented directory, content-preserving") {
    val tmp = TestSpark.root.toString
    val fragged = s"$tmp/graft_spec_fragmented"
    val compacted = s"$tmp/graft_spec_compacted"
    val src = Tables.load(spark, sf001, "events").select("event_id", "value")
    src.repartition(32).write.mode("overwrite").parquet(fragged)
    def parts(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(fragged) == 32)
    val nOut = ops.Layout.compact(spark, fragged, compacted)
    assert(nOut == 1 && parts(compacted) == 1, s"nOut=$nOut parts=${parts(compacted)}")
    val a = spark.read.parquet(compacted)
      .agg(count("*"), sum("event_id"), sum(round(col("value") * 100, 0).cast("long")))
      .head()
    val b = src
      .agg(count("*"), sum("event_id"), sum(round(col("value") * 100, 0).cast("long")))
      .head()
    assert(a == b, s"content changed: $a vs $b")
  }

  test("compaction sizing is scheme-independent (explicit file:// URI input)") {
    // java.io.File(URI) chokes on authority-qualified URIs; the
    // Hadoop FileSystem path must size any scheme the reader accepts
    val tmp = TestSpark.root.toString
    val fragged = s"file://$tmp/graft_spec_fragged_uri"
    val compacted = s"$tmp/graft_spec_compacted_uri"
    Tables.load(spark, sf001, "events").select("event_id", "value")
      .repartition(8).write.mode("overwrite").parquet(fragged)
    val nOut = ops.Layout.compact(spark, fragged, compacted)
    assert(nOut == 1)
    assert(spark.read.parquet(compacted).count() ==
      Tables.load(spark, sf001, "events").count())
  }

  test("consistent hashing: movement is bounded near 1/8 and only toward the new shard") {
    val rows = ops.Layout.consistentHash.fn(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // a tiny key set can leave a shard empty — shards present must
    // still be a subset of 0..7 with conserved key census
    assert(rows.map(_._1).forall(s => s >= 0L && s <= 7L), rows.mkString(", "))
    val total = rows.map(_._2).sum
    assert(total == rows.map(_._3).sum, "key census must be conserved")
    // the query's own abort already proves old->old moves = 0; pin
    // the shape here too: only shard 7 gains
    rows.filter(_._1 != 7L).foreach { r =>
      assert(r._4 == 0L, s"old shard ${r._1} gained ${r._4}")
    }
    val s7 = rows.find(_._1 == 7L).get
    assert(s7._2 == 0L, "shard 7 must not exist before")
    val moved = s7._4
    // expected movement = 8/64 of keys; generous [1/24, 1/2] band for
    // the handful of sf0.001 keys
    assert(moved * 24L >= total && moved * 2L <= total,
      s"moved $moved of $total outside the consistent-hash band")
  }

  test("weighted consistent hashing: steal-only, census conserved, capacities surfaced") {
    val rows = ops.Layout.weightedConsistentHash.fn(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val caps = (ops.Layout.WchCaps :+ ops.Layout.WchNewShard).toMap
    rows.foreach { case (sh, cap, _, _, gained) =>
      assert(caps(sh) == cap, s"shard $sh capacity $cap != ${caps(sh)}")
      if (sh != ops.Layout.WchNewShard._1)
        assert(gained == 0L, s"old shard $sh gained $gained")
    }
    assert(rows.map(_._3).sum == rows.map(_._4).sum, "census conserved")
    val s7 = rows.find(_._1 == ops.Layout.WchNewShard._1)
    assert(s7.forall(_._3 == 0L), "new shard must hold nothing before")
  }
}
