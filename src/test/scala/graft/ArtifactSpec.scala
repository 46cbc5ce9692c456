package graft

import org.apache.spark.sql.functions._
import graft.llm.{Bpe, Ivf}

/** Trained artifacts must survive a parquet round trip BIT-IDENTICALLY
  * — the production loop the in-JVM memos stand in for: a tokenizer or
  * quantizer is trained once, persisted, and loaded by every later job
  * (and on a cluster, by every later APPLICATION — the memo cannot
  * cross a JVM). Exact longs and exact doubles in parquet make the
  * round trip lossless, so "reload then use" must equal "train then
  * use" with zero tolerance. */
class ArtifactSpec extends SparkSpec {
  import spark.implicits._

  test("BPE merge list round-trips through parquet; encoding through it is unchanged") {
    val docs = Tables.load(spark, sf001, "documents")
    val trained = Bpe.trainMerges(docs, k = 8)
    val dir = TestSpark.tempDir("graft_bpe_artifact")
    trained.zipWithIndex
      .map { case ((l, r, pc), i) => (i + 1L, l, r, pc) }
      .toDF("rank", "l", "r", "pc")
      .write.mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(reloaded == trained)
    // applying the reloaded merges to a probe word table equals
    // applying the trained ones, fold for fold
    val probe = Seq("aaaa", "banana", "scan", "a").toDF("w")
      .withColumn("syms", Bpe.charSyms(col("w")))
    def apply(ms: Seq[(String, String, Long)]) =
      ms.foldLeft(probe) { case (df, (l, r, _)) =>
        df.withColumn("syms", Bpe.applyMerge(col("syms"), l, r))
      }.select("w", "syms").collect().map(_.toString).toSeq
    assert(apply(reloaded) == apply(trained))
  }

  test("IVF centroids round-trip through parquet bit-identically") {
    val emb = Tables.load(spark, sf001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val trained = Ivf.trainCentroids(emb, k = 8, iters = 3, sampleN = 400)
    val dir = TestSpark.tempDir("graft_ivf_artifact")
    trained.zipWithIndex.flatMap { case (c, ci) =>
      c.zipWithIndex.map { case (v, di) => (ci.toLong, di.toLong, v) }
    }.toSeq.toDF("cluster", "dim", "v").write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
    val reloaded = Array.fill(trained.length)(new Array[Double](trained(0).length))
    rows.foreach { case (c, d, v) => reloaded(c)(d) = v }
    // exact double equality — parquet doubles are lossless
    assert(reloaded.map(_.toSeq).toSeq == trained.map(_.toSeq).toSeq)
    // cluster assignment through reloaded centroids is identical
    val a = emb.select(Ivf.clusterOf(col("v"), trained).as("c"))
      .collect().map(_.getInt(0)).toSeq
    val b = emb.select(Ivf.clusterOf(col("v"), reloaded).as("c"))
      .collect().map(_.getInt(0)).toSeq
    assert(a == b)
  }
}
