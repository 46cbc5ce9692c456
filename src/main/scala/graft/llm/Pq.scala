package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.keep

/** Product quantization (PQ) — the compressed-vector ANN path next to
  * sign-LSH ([[Similarity.annTopK]]) and IVF ([[Ivf]]).
  *
  * PQ splits each d-dim vector into m subspaces and k-means-quantizes
  * each subspace independently: a vector becomes m small codes
  * (m=8, k=16 ⇒ 8×4 bits = 4 BYTES per 64-dim vector, a 64×
  * compression over float32). Search scores the exact query against
  * RECONSTRUCTED base vectors (asymmetric distance), so the corpus
  * scan reads codes, not vectors — at 100 TB that is the difference
  * between scanning 400 GB of codes and 25 TB of floats, which is
  * why PQ is the memory tier under every production ANN system
  * (IVF-PQ composes the two: coarse lists from [[Ivf]], residual
  * codes from here).
  *
  * Training mirrors [[Ivf.trainCentroids]]: DISTRIBUTED Lloyd's on a
  * bounded deterministic sample — each round assigns every sample
  * vector to its m sub-codes in one pass ([[graft.functions.PqEncode]]
  * with the current codebooks), explodes to (subspace, code,
  * sub-vector), and takes per-cell means with a groupBy aggregate
  * whose sum folds in ascending `vec_id` order, so codebooks are
  * bit-identical run to run and to a sequential driver loop (pinned
  * in IvfPqTrainingSpec). Only the m×k codebook cells return to the
  * driver — never sample vectors — so training scales to any corpus.
  * Codebooks ship as plan literals; encoding and search run fully
  * distributed.
  */
object Pq {

  /** Per-subspace codebooks: m × k × (d/m), trained by deterministic
    * distributed Lloyd's (sample = unbiased md5-bucket filter of
    * ~sampleN expected rows ([[Ivf.trainingSample]]), seeds = first k
    * sub-vectors by id, fixed iterations, ordered folds — no RNG). */
  def trainCodebooks(emb: DataFrame, m: Int = 8, k: Int = 16,
      iters: Int = 5, sampleN: Int = 2000): Array[Array[Array[Double]]] = {
    // same unbiased md5-bucket sample as the coarse quantizer's
    // ([[Ivf.trainingSample]]), iterated in the same sample-sized
    // cloned session ([[Ivf.sampleSession]])
    val sample = keep(Ivf.sampleSession(
      Ivf.trainingSample(emb.select(col("vec_id"), col("v")), sampleN), sampleN))
    try {
      val d = sample.select(size(col("v"))).head().getInt(0)
      require(d % m == 0, s"dim $d not divisible by m=$m")
      val sub = d / m
      var cb: Array[Array[Array[Double]]] = {
        val seeds = sample.orderBy("vec_id").limit(k)
          .select("v").collect().map(_.getSeq[Double](0).toArray)
        Array.tabulate(m)(j =>
          seeds.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub)))
      }
      for (_ <- 0 until iters) {
        // one distributed pass assigns ALL m subspaces (fused encode),
        // then a single groupBy((subspace, code)) re-centers every
        // codebook cell; m×k mean rows come back to the driver
        val next = sample
          .select(col("vec_id"), col("v"),
            posexplode(encode(col("v"), cb)))
          .select(col("vec_id"), col("pos"), col("col").as("code"),
            slice(col("v"), col("pos") * lit(sub) + lit(1), lit(sub)).as("sv"))
          .groupBy("pos", "code")
          .agg(count(lit(1)).as("n"), Ivf.orderedMeanAgg(sub))
          .select(col("pos"), col("code"),
            transform(col("s"), x => x / col("n")).as("mean"))
          .collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray).toMap
        cb = Array.tabulate(m)(j =>
          Array.tabulate(k)(c => next.getOrElse((j, c), cb(j)(c))))
      }
      cb
    } finally sample.unpersist()
  }

  /** Driver-side memo of trained codebooks — same soundness argument
    * and keying contract as [[Ivf.trainCentroidsMemo]] (training is
    * bit-identical for a fixed input construction; the tag must name
    * the construction: "ann-raw" = codebooks over the annAudit corpus
    * vectors, "ann-resid" = codebooks over its IVF residuals). Holds
    * m×k×(d/m) doubles per entry, never data. */
  private val codebookMemo =
    scala.collection.concurrent.TrieMap[String, Array[Array[Array[Double]]]]()
  def trainCodebooksMemo(key: String, emb: DataFrame, m: Int = 8,
      k: Int = 16, iters: Int = 5, sampleN: Int = 2000): Array[Array[Array[Double]]] =
    codebookMemo.getOrElseUpdate(s"$key#$m#$k#$iters#$sampleN",
      trainCodebooks(emb, m, k, iters, sampleN))

  /** PQ code of a vector column: array of m sub-codes, each the
    * argmin-L2 centroid of its subspace — the fused
    * [[graft.functions.PqEncode]] expression (the declarative
    * 128-dot-product tree form paid more in codegen compilation than
    * execution; see PqCodec scaladoc). */
  def encode(v: Column, codebooks: Array[Array[Array[Double]]]): Column =
    graft.functions.PqEncode(v, codebooks)

  /** Reconstructed (decoded) vector from a PQ code column: the
    * concatenation of each subspace's selected centroid. */
  def reconstruct(code: Column, codebooks: Array[Array[Array[Double]]]): Column =
    flatten(array(codebooks.zipWithIndex.map { case (cents, j) =>
      element_at(typedLit(cents.map(_.toSeq).toSeq), element_at(code, j + 1) + 1)
    }: _*))

  /** Two-stage PQ search: (1) asymmetric scan — exact query vectors
    * scored against the RECONSTRUCTED corpus (same broadcast-queries ×
    * streamed-corpus shape as [[Similarity.exactTopK]]; the scan side
    * reads codes, not vectors) — keeps a per-query shortlist; (2)
    * exact rerank — original vectors are fetched ONLY for shortlist
    * members (a semi-join-sized lookup, queries×shortlist rows) and
    * the final top-k is ordered by true cosine. This is the
    * production PQ pipeline: the compressed scan bounds I/O, the
    * rerank restores exact ordering among survivors, and recall is
    * limited only by shortlist membership. */
  def pqTopK(q: DataFrame, base: DataFrame,
      codebooks: Array[Array[Array[Double]]], k: Int = 5,
      shortlist: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coded = base.select(col("vec_id"), encode(col("v"), codebooks).as("code"))
    val recon = coded.select(col("vec_id"),
      reconstruct(col("code"), codebooks).as("rv"))
    val wApprox = Window.partitionBy("query_id")
      .orderBy(col("psim").desc, col("vec_id").asc)
    val short = recon.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("psim", Similarity.cosine(col("rv"), col("qv")))
      .withColumn("prank", row_number().over(wApprox))
      .filter(col("prank") <= shortlist)
      .select("query_id", "vec_id", "qv")
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    short.join(base, Seq("vec_id"))
      .withColumn("sim", Similarity.cosine(col("v"), col("qv")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Recall audit, same scheme as [[Ivf.annIvf]]: plant exact copies
    * of the 8 query vectors, run PQ search and the exact baseline
    * over the same persisted corpus, emit only exact-confirmed PQ
    * hits — the row count IS the recall measurement (of 40 slots).
    * Approximate + engine-internal ⇒ rows-only; floors asserted
    * INSIDE the query via [[RecallAudit.annAudit]] (8/8 planted
    * copies always, plus total ≥34 — observed 39 at sf0.01, 36 at
    * sf0.1: plain PQ's shortlist covers a shrinking corpus fraction
    * as data grows, the steepest scale slope of the four indexes
    * because it has no probe structure to lean on), so the driver's
    * `err` field catches silent degradation; reconstruction quality
    * is pinned in PqSpec. */
  val annPq: Q = Q(
    "q_ann_pq",
    (s, dir) => RecallAudit.annAudit(s, dir, floor = RecallAudit.PqFloor, what = "PQ") {
      (q, corpus) =>
        val codebooks = trainCodebooksMemo(s"$dir#ann-raw", corpus)
        // shortlist 300: rerank cost is queries×300 exact cosines —
        // negligible, and selection is a window over the scan the
        // compressed pass does anyway — while recall becomes limited
        // only by whether the true neighbor survives 64× compression
        // into the top PQ scores (150 left ~15% of true top-5 below
        // the cut at the 2k-corpus scale; 300 recovers 36/40 there)
        pqTopK(q, corpus, codebooks, k = 5, shortlist = 300)
    },
    None)

  val all: Seq[Q] = Seq(annPq)
}
