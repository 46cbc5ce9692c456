package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.keep

/** IVF-PQ — the composed two-level ANN index every production vector
  * system ships (coarse inverted lists from [[Ivf]], product-quantized
  * RESIDUAL codes from [[Pq]]): probe bounds how much of the corpus a
  * query touches, compression bounds what each touched row costs.
  *
  * Residual encoding is the part that makes the composition more than
  * the sum: PQ codebooks are trained on `v − centroid(v)` — the
  * within-cell displacement, which has far less variance than the raw
  * vectors — so the same 4-byte code budget quantizes a much tighter
  * distribution. Search reconstructs `centroid + decode(code)` inside
  * probed lists only, shortlists by asymmetric cosine, and exact
  * reranking restores true ordering among survivors.
  *
  * All determinism machinery is inherited: bounded ordered training
  * samples, fixed Lloyd's iterations, ordered float folds — so
  * centroids, codebooks, and therefore every code are bit-identical
  * run to run. Scale shape: training ships only k centroids + m×k
  * codebook cells to the driver; indexing is one map pass; a query
  * touches ~nprobe/K of the corpus reading codes (4 B/vector), not
  * floats — at 100 TB that is the difference between a 400 GB and a
  * 25 TB scan, on top of the 16× probe cut. */
object IvfPq {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Recall audit, same scheme as [[Ivf.annIvf]]/[[Pq.annPq]]: plant
    * exact copies of the 8 query vectors, emit only exact-confirmed
    * IVF-PQ hits — the row count IS the recall (of 40 slots).
    * Approximate + engine-internal ⇒ rows-only; floors asserted
    * INSIDE the query via [[RecallAudit.annAudit]] (8/8 planted
    * copies always, plus total ≥35 — observed 39 at sf0.01, 37 at
    * sf0.1), so the driver's `err` field catches silent
    * degradation. */
  val annIvfPq: Q = Q(
    "q_ann_ivfpq",
    (s, dir) => RecallAudit.annAudit(s, dir, floor = RecallAudit.IvfPqFloor, what = "IVF-PQ") {
      (q, corpus) =>
      val centroids = Ivf.trainCentroidsMemo(s"$dir#ann", corpus)
      val centLit = typedLit(centroids.map(_.toSeq).toSeq)
      // residual frame: cluster assignment + within-cell displacement,
      // persisted because it feeds BOTH codebook training and indexing
      val resid = keep(corpus
        .withColumn("cluster", Ivf.clusterOf(col("v"), centroids))
        .withColumn("res", zip_with(col("v"),
          element_at(centLit, col("cluster") + 1), (a, b) => a - b)))
      try {
        val codebooks = Pq.trainCodebooksMemo(s"$dir#ann-resid",
          resid.select(col("vec_id"), col("res").as("v")))
        // the index: (cluster, 4-byte residual code) per vector; search
        // reconstructs centroid + decode(code) inside probed lists only
        val recon = resid
          .select(col("vec_id"), col("cluster"),
            Pq.encode(col("res"), codebooks).as("code"))
          .select(col("vec_id"), col("cluster"),
            zip_with(Pq.reconstruct(col("code"), codebooks),
              element_at(centLit, col("cluster") + 1), (a, b) => a + b).as("rv"))
        // quantization error stacks on top of probe misses here, so both
        // query-side knobs open slightly wider than the single-level
        // indexes (nprobe 8 vs IVF's 6, shortlist 80 vs PQ's 20); both
        // scale with queries, not corpus
        val probes = q.withColumn("cluster",
          explode(Ivf.probeClusters(col("qv"), centroids, nprobe = 8)))
        val wApprox = Window.partitionBy("query_id")
          .orderBy(col("psim").desc, col("vec_id").asc)
        val short = recon.join(broadcast(probes), Seq("cluster"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("psim", Similarity.cosine(col("rv"), col("qv")))
          .withColumn("prank", row_number().over(wApprox))
          .filter(col("prank") <= 80)
          .select("query_id", "vec_id", "qv")
        val wExact = Window.partitionBy("query_id")
          .orderBy(col("sim").desc, col("vec_id").asc)
        short.join(corpus, Seq("vec_id"))
          .withColumn("sim", Similarity.cosine(col("v"), col("qv")))
          .withColumn("rank", row_number().over(wExact).cast("long"))
          .filter(col("rank") <= 5)
          .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      } finally resid.unpersist()
      // unpersist is lazy and the search plan hasn't materialized yet:
      // codebook training already ran its jobs against the cached
      // residuals, and the one search-side consumer (recon) recomputes
      // them map-side from the still-cached corpus — a cheap pass that
      // buys back a corpus-sized cache entry per invocation without
      // adding a driver action barrier mid-query
    },
    None)

  val all: Seq[Q] = Seq(annIvfPq)
}
