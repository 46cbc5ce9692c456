package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.Dedup

/** Incremental (cross-run) dedup must equal the full recompute: a
  * delta batch absorbed against persisted state — content-signature
  * store for exact dedup, band-table store for MinHash — produces
  * exactly what re-running the whole corpus would, at one-batch and
  * two-batch depth. */
class IncrementalDedupSpec extends SparkSpec {

  private def docs: DataFrame = Tables.load(spark, sf001, "documents")
    .select(col("doc_id"), col("text"))

  private def stage(name: String): String =
    s"${TestSpark.root}/graft_incdedup_spec_$name"

  private def cutOf(df: DataFrame): Long = df.agg(expr(
    "max(doc_id) - (max(doc_id) - min(doc_id) + 1) div 8").as("c"))
    .head().getLong(0)

  test("incremental exact dedup equals the full-corpus recompute") {
    val inc = Dedup.incrementalExact.fn(spark, sf001).collect().toSeq
    val full = docs
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "content_hash", "dup_cnt")
      .orderBy("keep_id")
      .collect().toSeq
    assert(inc == full, "delta+state merge diverged from full recompute")
  }

  test("one delta batch against band state equals full recompute on delta-involving pairs") {
    val corpus = Dedup.withPlanted(docs, mutate = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cut = cutOf(corpus.filter(col("doc_id") < 1000000L))
    val hist = corpus.filter(col("doc_id") <= cut)
    val stateDir = stage("one")
    Dedup.bandedSignatures(Dedup.shingleFrame(hist, 4), bands = 16, rows = 4)
      .write.mode("overwrite").parquet(stateDir)
    val inc = Dedup.deltaMinhashPairs(spark.read.parquet(stateDir),
      corpus.filter(col("doc_id") > cut), hist).collect().toSeq
    // full recompute, restricted to pairs with at least one delta
    // side: doc_b is the greater id, so a pair involves the delta
    // (ids > cut, plants included) iff doc_b > cut
    val full = Dedup.minhashPairs(corpus).filter(col("doc_b") > cut)
      .collect().toSeq
    corpus.unpersist()
    assert(inc.nonEmpty, "planted cross-boundary near-dups must surface")
    assert(inc == full, "delta-vs-state pairs diverged from full recompute")
  }

  test("two-batch loop composes: state absorbs batch 1, then dedups batch 2") {
    val corpus = Dedup.withPlanted(docs, mutate = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val naturals = corpus.filter(col("doc_id") < 1000000L)
    // two consecutive deltas: (cut0, cut1] then (cut1, ∞) — plants
    // (ids 1M+) ride in batch 2, their sources sit in settled history
    val cut1 = cutOf(naturals)
    val cut0 = naturals.filter(col("doc_id") <= cut1).agg(expr(
      "max(doc_id) - (max(doc_id) - min(doc_id) + 1) div 8").as("c"))
      .head().getLong(0)
    val hist0 = corpus.filter(col("doc_id") <= cut0)
    val d1 = corpus.filter(col("doc_id") > cut0 && col("doc_id") <= cut1)
    val d2 = corpus.filter(col("doc_id") > cut1)
    val s0 = stage("two0"); val s1 = stage("two1")
    Dedup.bandedSignatures(Dedup.shingleFrame(hist0, 4), bands = 16, rows = 4)
      .write.mode("overwrite").parquet(s0)
    val state0 = spark.read.parquet(s0)
    val p1 = Dedup.deltaMinhashPairs(state0, d1, hist0).collect().toSeq
    // state maintenance: append batch 1's bands (plain union-write —
    // what a production run persists for tomorrow)
    state0.unionByName(
      Dedup.bandedSignatures(Dedup.shingleFrame(d1, 4), bands = 16, rows = 4))
      .write.mode("overwrite").parquet(s1)
    val p2 = Dedup.deltaMinhashPairs(spark.read.parquet(s1), d2,
      corpus.filter(col("doc_id") <= cut1)).collect().toSeq
    val full = Dedup.minhashPairs(corpus).filter(col("doc_b") > cut0)
      .collect().toSeq
    corpus.unpersist()
    assert((p1 ++ p2).sortBy(r => (r.getLong(0), r.getLong(1))) ==
      full.sortBy(r => (r.getLong(0), r.getLong(1))),
      "two-batch incremental union diverged from full recompute")
  }

  test("shingle-set store path equals the history-text path pair-for-pair") {
    val corpus = Dedup.withPlanted(docs, mutate = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cut = cutOf(corpus.filter(col("doc_id") < 1000000L))
    val hist = corpus.filter(col("doc_id") <= cut)
    val delta = corpus.filter(col("doc_id") > cut)
    val stateDir = stage("store")
    val histSh = Dedup.shingleFrame(hist, 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.bandedSignatures(histSh, bands = 16, rows = 4)
      .write.mode("overwrite").parquet(s"$stateDir/bands")
    histSh.groupBy("doc_id").agg(collect_set(col("h1")).as("sh"))
      .write.mode("overwrite").parquet(s"$stateDir/shingle_sets")
    histSh.unpersist()
    val viaStore = Dedup.deltaMinhashPairsWithStore(
      spark.read.parquet(s"$stateDir/bands"), delta,
      spark.read.parquet(s"$stateDir/shingle_sets")).collect().toSeq
    val viaText = Dedup.deltaMinhashPairs(
      spark.read.parquet(s"$stateDir/bands"), delta, hist).collect().toSeq
    corpus.unpersist()
    assert(viaStore.nonEmpty, "planted cross-boundary near-dups must surface")
    assert(viaStore == viaText,
      "shingle-set store verify diverged from history-text verify")
  }

  test("incremental SimHash equals the full recompute on delta-involving pairs") {
    val inc = Dedup.incrementalSimhash.fn(spark, sf001).collect().toSeq
    val corpus = Dedup.withPlanted(docs, mutate = false)
    val cut = cutOf(corpus.filter(col("doc_id") < 1000000L))
    // doc_b is the greater id, so a pair involves the delta iff
    // doc_b > cut (plants at 1M+ included)
    val full = Dedup.simhashPairs(corpus).filter(col("doc_b") > cut)
      .collect().toSeq
    assert(inc.nonEmpty, "planted cross-boundary simhash dups must surface")
    assert(inc == full, "delta-vs-state simhash pairs diverged from full recompute")
  }

  test("declared incremental MinHash query recovers all ten planted cross-boundary pairs") {
    val out = Dedup.incrementalMinhash.fn(spark, sf001)
    val planted = out.filter(col("doc_b") >= 1000000L &&
      col("doc_a") === col("doc_b") - 1000000L).count()
    assert(planted == 10L, s"expected 10 planted pairs, got $planted")
  }
}
