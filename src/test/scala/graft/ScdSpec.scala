package graft

import org.apache.spark.sql.functions._

/** SCD Type-2 build: interval algebra on a hand-built history plus
  * corpus-level invariants of the driver query. */
class ScdSpec extends SparkSpec {
  import spark.implicits._

  test("scd2 collapses unchanged runs and stitches intervals") {
    // key 1: change at v2 only → [0,1], [2,current]
    // key 2: never changes     → [0,current]
    // key 3: changes every version → three one-version intervals
    val snaps = Seq(
      (1L, 0L, 100L, "A"), (1L, 1L, 100L, "A"), (1L, 2L, 150L, "A"),
      (2L, 0L, 7L, "B"), (2L, 1L, 7L, "B"), (2L, 2L, 7L, "B"),
      (3L, 0L, 1L, "X"), (3L, 1L, 2L, "X"), (3L, 2L, 2L, "Y"))
      .toDF("key", "ver", "cents", "status")
    val got = ops.Scd.scd2(snaps, "key", "ver", Seq("cents", "status"), 99L)
      .select("key", "eff_from", "eff_to", "cents", "status", "is_current")
      .as[(Long, Long, Long, Long, String, Long)]
      .collect().toSet
    assert(got == Set(
      (1L, 0L, 1L, 100L, "A", 0L), (1L, 2L, 99L, 150L, "A", 1L),
      (2L, 0L, 99L, 7L, "B", 1L),
      (3L, 0L, 0L, 1L, "X", 0L), (3L, 1L, 1L, 2L, "X", 0L),
      (3L, 2L, 99L, 2L, "Y", 1L)))
  }

  test("q_scd2 invariants: intervals tile [0,2] per key, one current row each") {
    val df = SparkEntry.queries("q_scd2")(spark, sf001).cache()
    try {
      val keys = df.select("key").distinct().count()
      // exactly one current row per key, and it ends at the mark
      assert(df.filter(col("is_current") === 1).count() == keys)
      assert(df.filter(col("is_current") === 1 && col("eff_to") =!= 99).count() == 0)
      // every key's earliest interval starts at version 0
      assert(df.groupBy("key").agg(min("eff_from").as("f"))
        .filter(col("f") =!= 0).count() == 0)
      // intervals are contiguous: next eff_from = prior eff_to + 1
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy("eff_from")
      val gaps = df
        .withColumn("prev_to", lag(col("eff_to"), 1).over(w))
        .filter(col("prev_to").isNotNull && col("eff_from") =!= col("prev_to") + 1)
      assert(gaps.count() == 0)
      // the repriced+restatused keys (lcm 35) carry three intervals
      assert(df.filter(col("key") % 35 === 0).groupBy("key").count()
        .filter(col("count") =!= 3).count() == 0)
    } finally df.unpersist()
  }

  test("bitemporal: corrections rewrite history only forward in tx time; reads are point-consistent") {
    import spark.implicits._
    // key 1: fact (valid 2, v=100) known at tx 3, corrected to 150 at
    // tx 5, corrected again to 160 at tx 6; fact (valid 4, v=200) at
    // tx 5. key 2: single fact, never corrected.
    val versions = Seq(
      (1L, 2L, 3L, 100L), (1L, 2L, 5L, 150L), (1L, 2L, 6L, 160L),
      (1L, 4L, 5L, 200L), (2L, 1L, 2L, 999L))
      .toDF("key", "valid_from", "tx_from", "value")
    val bt = ops.Scd.bitemporal(versions)
    def read(t: Long, v: Long): Map[Long, Long] =
      ops.Scd.asOf(bt, t, v).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // before the fact is known: nothing
    assert(read(2, 2).get(1L).isEmpty)
    // known-at trajectories of (key 1, valid 2)
    assert(read(3, 2)(1L) == 100L)
    assert(read(5, 2)(1L) == 150L)
    assert(read(6, 2)(1L) == 160L)
    assert(read(98, 2)(1L) == 160L)
    // valid-time axis: at V=3 the valid-2 fact still applies; at V=4
    // the newer fact shadows it (once known)
    assert(read(6, 3)(1L) == 160L)
    assert(read(4, 4)(1L) == 100L, "valid-4 fact unknown at tx 4")
    assert(read(6, 4)(1L) == 200L)
    // untouched key reads the same value at every tx after learning
    assert(read(3, 1)(2L) == 999L && read(98, 5)(2L) == 999L)
  }

  test("incremental absorb == full rebuild at two-batch depth; preconditions throw") {
    val facts = Seq(
      (1L, 1L, 2L, 100L), (1L, 2L, 3L, 110L), (2L, 1L, 2L, 500L))
      .toDF("key", "valid_from", "tx_from", "value")
    val base = ops.Scd.bitemporal(facts)
    val d1 = Seq((1L, 1L, 5L, 150L))
      .toDF("key", "valid_from", "tx_from", "value")
    val d2 = Seq((1L, 1L, 6L, 160L), (2L, 1L, 6L, 550L))
      .toDF("key", "valid_from", "tx_from", "value")
    // every call runs in a scope that releases what it kept, thrown
    // or not: no frame it persisted outlives the call
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val persistedBefore = persisted
    CacheHandles.scoped {
      val incr = ops.Scd.absorbCorrections(
        ops.Scd.absorbCorrections(base, d1), d2)
      val full = ops.Scd.bitemporal(
        facts.unionByName(d1).unionByName(d2))
      assert(incr.exceptAll(full).count() == 0 &&
        full.exceptAll(incr).count() == 0,
        "two absorbed batches must be indistinguishable from a rebuild")
    }
    // a batch carrying two versions of one cell is rejected
    val dup = Seq((1L, 1L, 7L, 1L), (1L, 1L, 8L, 2L))
      .toDF("key", "valid_from", "tx_from", "value")
    intercept[IllegalArgumentException] {
      CacheHandles.scoped(ops.Scd.absorbCorrections(base, dup))
    }
    // a correction that does not advance tx within its cell is rejected
    val stale = Seq((1L, 1L, 2L, 1L))
      .toDF("key", "valid_from", "tx_from", "value")
    intercept[IllegalArgumentException] {
      CacheHandles.scoped(ops.Scd.absorbCorrections(base, stale))
    }
    assert(persisted === persistedBefore)
  }
}
