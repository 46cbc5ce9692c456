package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Count-based word embeddings trained IN-ENGINE: symmetric window-1
  * co-occurrence → PPMI → truncated eigendecomposition, the classical
  * SVD-of-PPMI factorization that word2vec was later shown to
  * implicitly perform (Levy & Goldberg 2014). No external model, no
  * gradient loop — one corpus scan of pair counts plus a bounded
  * driver-side eigensolve, which is exactly the split of cluster vs
  * driver work a 100 TB corpus needs.
  *
  * The eigensolve never touches the full V×V PPMI matrix: a PIVOT
  * vocabulary (the top-P words by pair frequency) anchors the basis —
  * the P×P pivot PPMI block is collected and eigensolved on the
  * driver ([[Pca.jacobiEigen]], deterministic sweep order), and EVERY
  * word then gets its embedding by projecting its PPMI row restricted
  * to pivot columns onto the scaled basis (the Nyström/landmark
  * extension). P is 16 here so the projection path genuinely runs
  * (the corpus vocabulary is larger); at production scale P≈2048
  * keeps the driver block at ~32 MB while the projection stays a
  * broadcast join over the (word, pivot) pair table.
  *
  * Scale shape: adjacent pairs come from a doc-partitioned lead
  * window (scan-shaped); pair counts are ONE vocabulary-keyed shuffle
  * (map-side combinable); the driver collects P² bounded rows; the
  * projection joins the pair table against a broadcast P·d basis
  * frame and aggregates per word. Nothing corpus-pair-shaped exists.
  *
  * Declared without an oracle (the eigensolve is not SQL); the
  * in-query self-checks throw on a degraded basis, and WordEmbedSpec
  * proves the geometry learns — planted co-occurrence cliques embed
  * closer within than across.
  */
object WordEmbed {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private val P = 16 // pivot vocabulary size
  private val D = 8  // embedding dimension

  /** Symmetric window-1 co-occurrence pairs of `docs(doc_id, text)`. */
  private def symPairs(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
    bi.select(col("tok").as("u"), col("nxt").as("v"))
      .unionAll(bi.select(col("nxt").as("u"), col("tok").as("v")))
  }

  /** Train on `docs(doc_id, text)`; returns (tok, e1..eD micro).
    * Factored so WordEmbedSpec can feed planted-clique corpora. */
  private[graft] def embed(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val pairs = keep(symPairs(docs)
      .groupBy("u", "v").agg(count(lit(1)).as("n_uv")))
    val marg = pairs.groupBy(col("u")).agg(sum(col("n_uv")).as("n_u"))
    val totRow = marg.agg(sum(col("n_u")).as("n")).head()
    val nTot = totRow.getLong(0)
    // pivot vocabulary: top-P by marginal count, name-tiebroken
    val pivots = marg.orderBy(col("n_u").desc, col("u").asc).limit(P)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val pEff = pivots.length // min(P, vocabulary) — tiny corpora
    val pivotIdx = pivots.map(_._1).zipWithIndex.toMap
    val pivotMarg = pivots.map(_._2)
    // pEff×pEff pivot PPMI block on the driver (bounded by P, not corpus)
    val block = pairs
      .filter(col("u").isInCollection(pivotIdx.keys.toSeq) &&
        col("v").isInCollection(pivotIdx.keys.toSeq))
      .collect()
    val ppmi = Array.ofDim[Double](pEff, pEff)
    block.foreach { r =>
      val (i, j) = (pivotIdx(r.getString(0)), pivotIdx(r.getString(1)))
      val x = r.getLong(2).toDouble * nTot / (pivotMarg(i).toDouble * pivotMarg(j))
      ppmi(i)(j) = math.max(0.0, math.log(x))
    }
    val (eig, vecs) = Pca.jacobiEigen(ppmi)
    val order = (0 until pEff).sortBy(i => (-eig(i), i)).take(math.min(D, pEff))
    val top = order.map { i =>
      val v = vecs(i)
      val m = v.indices.maxBy(j => (math.abs(v(j)), -j))
      (eig(i), if (v(m) < 0) v.map(-_) else v)
    }
    // self-checks: orthonormal basis, sorted positive spectrum
    for (a <- top.indices; b <- a until top.length) {
      val dot = (0 until pEff).map(j => top(a)._2(j) * top(b)._2(j)).sum
      val want = if (a == b) 1.0 else 0.0
      Audit.check(s"word-embed basis |v$a . v$b - $want|", math.abs(dot - want), Audit.atMost(1e-9))
    }
    Audit.check("word-embed spectrum inversions",
      top.sliding(2).count(w => w.length == 2 && w(0)._1 < w(1)._1), Audit.equal(0))
    Audit.check("word-embed leading eigenvalue (bound: least double above 0)",
      top.head._1, Audit.atLeast(Math.nextUp(0.0)))
    // Nyström projection of EVERY word: e_u[k] = Σ_j ppmi(u, j) ·
    // U_k(j) / √λ_k over pivot columns j — a broadcast P·D basis
    // frame joined to the (word, pivot) pair slice, then one
    // word-keyed aggregate. λ ≤ 0 components contribute 0.
    import spark.implicits._
    val basis = top.zipWithIndex.flatMap { case ((lam, v), k) =>
      (0 until pEff).map(j => (pivots(j)._1, pivots(j)._2, k + 1,
        if (lam > 1e-12) v(j) / math.sqrt(lam) else 0.0))
    }.toDF("v", "n_j", "k", "b")
    val terms = pairs
      .join(broadcast(basis), Seq("v"))
      .join(marg, Seq("u"))
      .select(col("u"), col("k"),
        (greatest(lit(0.0),
          log(col("n_uv").cast("double") * lit(nTot.toDouble) /
            (col("n_u").cast("double") * col("n_j")))) * col("b")).as("term"))
    val eCols = (1 to D).map(k =>
      round(sum(when(col("k") === k, col("term")).otherwise(0.0)) * 1e6, 0)
        .cast("long").as(s"e$k"))
    // `pairs` stays kept for the caller's scope: the marginals, the
    // pivot collect, and this projection all read it
    terms.groupBy("u").agg(eCols.head, eCols.tail: _*)
      .withColumnRenamed("u", "tok")
      .orderBy("tok")
  }

  /** Rows-only by contract: the embedding basis is a trained model —
    * pivot-block eigenvectors from the same iterative Jacobi sweep as
    * [[graft.llm.Pca]] (driver-side FP, data-dependent rotation
    * order), scaled into a Nyström projection — so no single SQL
    * statement reproduces it (the q_pca_project note applies
    * verbatim). WordEmbedSpec pins the PPMI matrix and the projection
    * on hand-built corpora with known co-occurrence structure. */
  val wordEmbed: Q = Q(
    "q_word_embed",
    (s, dir) => embed(t(s, dir, "documents").select(col("doc_id"), col("text"))),
    None)

  val all: Seq[Q] = Seq(wordEmbed)
}
