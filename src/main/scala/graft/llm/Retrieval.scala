package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.CacheHandles.keep

/** Sparse text retrieval — BM25 scoring over the documents corpus.
  *
  * The retrieval counterpart to the dense paths ([[Similarity]] /
  * [[Ivf]] / [[Pq]]): a training-data pipeline uses BM25 both for
  * corpus search and as the lexical side of hybrid retrieval /
  * hard-negative mining. Everything is declarative DataFrame ops, so
  * the whole pipeline is one Catalyst plan.
  *
  * Scale shape: the per-(doc, term) frame is corpus-sized, so the
  * FIRST operation against it is a broadcast semi-join with the query
  * terms — document-frequency and score work touch only matching
  * postings after that. Doc-length and postings join co-partition on
  * doc_id; the final top-k is a per-query window over scored docs.
  *
  * Determinism: per-term BM25 contributions are rounded to integer
  * MICRO units before the per-doc sum (the [[TextStats]] micro-nats
  * trick), so cross-engine float summation order cannot perturb the
  * hash; ties in the top-k break on doc_id.
  */
object Retrieval {

  // BM25 free parameters (the standard Robertson defaults, k1=1.2
  // b=0.75) appear as the same decimal literals here and in the
  // oracle SQL: both engines parse them to identical doubles, whereas
  // a computed k1+1 can land 1 ulp away from a parsed 2.2 (the sum
  // falls exactly on a rounding boundary).

  /** Fixed query workload: common terms exercise low-idf scoring,
    * 'dup' (df≈5% of docs) exercises the rare-term path. */
  val queryList: Seq[(Int, String)] = Seq(
    0 -> "hash join table",
    1 -> "scan filter query dup",
    2 -> "stream window batch")

  /** (doc_id, tok) postings: whitespace tokens of trimmed text,
    * empty tokens dropped (empty docs contribute no postings). */
  private def postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")

  /** BM25 top-k per query: score = Σ_terms idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N−df+½)/(df+½)). */
  def bm25TopK(s: SparkSession, docs: DataFrame, k: Int = 10): DataFrame = {
    import s.implicits._
    val post = postings(docs)
    val dl = post.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
    val qterms = queryList.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("tok"))
    // prune the corpus-sized postings to query terms BEFORE the tf
    // aggregate: the broadcast hash join is map-side, so the tf
    // shuffle carries only matching postings — aggregating first
    // would shuffle the whole corpus's (doc, tok) pairs to compute
    // counts the prune then throws away
    val tf = post.join(broadcast(qterms.select("tok").distinct()), Seq("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    scoreMatched(tf.join(broadcast(qterms), Seq("tok")), dl, stats, k)
  }

  /** BM25 scoring against a PREBUILT index (tf posting table + doc
    * lengths + 1-row stats) — the query-time half of
    * [[bm25Incremental]]: the index prunes to query terms via a
    * broadcast semi (a token-keyed point lookup on a tok-bucketed
    * index at scale), then scores identically to [[bm25TopK]]. */
  def bm25FromIndex(s: SparkSession, tfIdx: DataFrame, dl: DataFrame,
      stats: DataFrame, k: Int = 10): DataFrame = {
    import s.implicits._
    val qterms = queryList.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("tok"))
    scoreMatched(tfIdx.join(broadcast(qterms), Seq("tok")), dl, stats, k)
  }

  /** Shared scoring tail over matched (query_id, doc_id, tok, tf). */
  private def scoreMatched(matched: DataFrame, dl: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    val df_ = matched.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val scored = matched
      .join(broadcast(df_), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("m", round(
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") * col("n") / col("s"))) *
          lit(1000000.0), 0).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.groupBy("query_id", "doc_id")
      .agg(sum(col("m")).as("score_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_micro")
      .orderBy("query_id", "rank")
  }

  /** INCREMENTAL BM25 index maintenance — the inverted index IS the
    * state: tf postings, doc lengths, and the (N, Σdl) stats row are
    * all ADDITIVE across disjoint document batches, so absorbing a
    * delta is one postings pass over the delta plus a plain union
    * (documents are disjoint — no cell merge even needed; stats sum).
    * The corpus is never re-tokenized. The oracle is [[bm25]]'s
    * full-corpus recompute verbatim — the driver hash re-proves
    * index+delta ≡ full scoring every round, idf and avgdl included
    * (both shift when the delta lands; a stale-stats bug cannot
    * hide). */
  // lazy: shares bm25's oracle verbatim, and bm25 initializes later
  // in this object (forced via `all`, by which point both exist)
  lazy val bm25Incremental: Q = Q(
    "q_bm25_incremental",
    (s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val cut = graft.Staging.historyCut(docs, "doc_id")
      val stateDir = graft.Staging.keyed(s, "graft_bm25_state", dir)
      graft.Staging.once(s, s"$stateDir/dl") {
        val hist = postings(docs.filter(col("doc_id") <= cut))
        hist.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
          .write.mode("overwrite").parquet(s"$stateDir/tf")
        hist.groupBy("doc_id").agg(count(lit(1)).as("dl"))
          .write.mode("overwrite").parquet(s"$stateDir/dl")
      }
      val deltaPost = postings(docs.filter(col("doc_id") > cut))
      val tfIdx = s.read.parquet(s"$stateDir/tf").unionByName(
        deltaPost.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
      val dl = s.read.parquet(s"$stateDir/dl").unionByName(
        deltaPost.groupBy("doc_id").agg(count(lit(1)).as("dl")))
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
      bm25FromIndex(s, tfIdx, dl, stats)
    },
    bm25.oracle)

  val bm25: Q = Q(
    "q_bm25_topk",
    (s, dir) => bm25TopK(s, Tables.load(s, dir, "documents")),
    Some("""
      WITH post AS (
        SELECT doc_id, t AS tok
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
              FROM documents)
        WHERE t <> ''),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             FROM post GROUP BY doc_id, tok),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM post GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl),
      q AS (
        SELECT 0 AS query_id, unnest(['hash','join','table']) AS tok
        UNION ALL
        SELECT 1, unnest(['scan','filter','query','dup'])
        UNION ALL
        SELECT 2, unnest(['stream','window','batch'])),
      matched AS (SELECT q.query_id, tf.doc_id, tf.tok, tf.tf
                  FROM tf JOIN q ON tf.tok = q.tok),
      df_ AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM matched GROUP BY tok),
      scored AS (
        SELECT m.query_id, m.doc_id,
               CAST(round(
                 ln(1.0 + (stats.n - df_.df + 0.5) / (df_.df + 0.5)) *
                 m.tf * 2.2 /
                 (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl * stats.n / stats.s)) *
                 1000000.0) AS BIGINT) AS m
        FROM matched m
        JOIN df_ ON m.tok = df_.tok
        JOIN dl ON m.doc_id = dl.doc_id
        CROSS JOIN stats),
      agg AS (SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
              FROM scored GROUP BY query_id, doc_id),
      ranked AS (SELECT query_id, doc_id, score_micro,
                        CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
                 FROM agg)
      SELECT query_id, rank, doc_id, score_micro
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** Query documents for the doc-as-query ("more like this") family:
    * each query is an existing corpus doc, so BOTH the lexical side
    * (its tokens) and the dense side (its embedding — vec_id is
    * doc_id) are defined without an external embedder. */
  val queryDocIds: Seq[Long] = Seq(0L, 1L, 2L)

  /** Lexical ranking for doc-as-query BM25: the query's term set is
    * the DISTINCT tokens of the query doc; document frequency is
    * computed over all matching docs BEFORE the self-doc exclusion so
    * idf stays the true corpus idf. Same broadcast-prune-first shape
    * as [[bm25TopK]]. Emits (query_id, doc_id, lex_rank ≤ k). */
  def lexRanked(s: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    val post = postings(docs)
    val qterms = post.filter(col("doc_id").isInCollection(queryDocIds))
      .select(col("doc_id").as("query_id"), col("tok")).distinct()
    val dl = post.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("s"))
    // same prune-before-aggregate shape as [[bm25TopK]]
    val tf = post.join(broadcast(qterms.select("tok").distinct()), Seq("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val matched = tf.join(broadcast(qterms), Seq("tok"))
    val df_ = matched.groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
    val scored = matched
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(df_), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("m", round(
        log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") * col("n") / col("s"))) *
          lit(1000000.0), 0).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    scored.groupBy("query_id", "doc_id")
      .agg(sum(col("m")).as("score_micro"))
      .withColumn("lex_rank", row_number().over(w).cast("long"))
      .filter(col("lex_rank") <= k)
      .select("query_id", "doc_id", "lex_rank")
  }

  // The doc-as-query RANKING STORES: both rankers
  // are pure functions of the corpus, and nine-plus retrieval
  // queries rebuilt each of them independently (BM25 postings pass /
  // exact-cosine pass per query) — the [[graft.ops.Graph.coPairs]]
  // device applied to the retrieval family. Staged once at k = 20
  // (the family max): rank is a per-query row_number over the FULL
  // candidate order on both sides, so any smaller caller k is a
  // prefix FILTER of the staged ranking, row-identical to a direct
  // smaller-k compute. Rank/id longs round-trip parquet bit-exactly.
  // Same staleness contract as [[graft.Staging]].

  /** Store-backed [[lexRanked]] (k ≤ 20). */
  def lexRankedMemo(s: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= 20, s"ranking store is staged at k=20, asked $k")
    graft.Staging.store(s, "graft_rank_lex20", dir)(
      lexRanked(s, Tables.load(s, dir, "documents"), 20))
      .filter(col("lex_rank") <= k)
  }

  /** Store-backed [[denseRanked]] (k ≤ 20). */
  def denseRankedMemo(s: SparkSession, dir: String, k: Int): DataFrame = {
    require(k <= 20, s"ranking store is staged at k=20, asked $k")
    graft.Staging.store(s, "graft_rank_dense20", dir)(denseRanked(s, dir, 20))
      .filter(col("dense_rank") <= k)
  }

  /** Dense ranking for the same query docs: exact cosine top-k via
    * [[Similarity.exactTopK]] (broadcast queries, streamed corpus).
    * Emits (query_id, doc_id, dense_rank ≤ k). */
  def denseRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id").isInCollection(queryDocIds))
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val par = graft.Checkpoints.width(s)
    Similarity.exactTopK(q, emb.repartition(par), k)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
  }

  // Shared oracle-SQL fragments for the doc-as-query family (DuckDB
  // dialect ∩ nothing Spark-side — these are oracle-only CTEs).
  private val lexRankedSql: String = """
      post AS (
        SELECT doc_id, t AS tok
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
              FROM documents)
        WHERE t <> ''),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             FROM post GROUP BY doc_id, tok),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM post GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl),
      q AS (SELECT DISTINCT doc_id AS query_id, tok FROM post WHERE doc_id IN (0, 1, 2)),
      matched AS (SELECT q.query_id, tf.doc_id, tf.tok, tf.tf
                  FROM tf JOIN q ON tf.tok = q.tok),
      df_ AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM matched GROUP BY tok),
      scored AS (
        SELECT m.query_id, m.doc_id,
               CAST(round(
                 ln(1.0 + (stats.n - df_.df + 0.5) / (df_.df + 0.5)) *
                 m.tf * 2.2 /
                 (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl * stats.n / stats.s)) *
                 1000000.0) AS BIGINT) AS m
        FROM matched m
        JOIN df_ ON m.tok = df_.tok
        JOIN dl ON m.doc_id = dl.doc_id
        CROSS JOIN stats
        WHERE m.doc_id <> m.query_id),
      agg AS (SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
              FROM scored GROUP BY query_id, doc_id),
      lex AS (SELECT query_id, doc_id, lex_rank FROM (
                SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS lex_rank
                FROM agg) WHERE lex_rank <= 20)"""

  private def denseRankedSql(k: Int): String = s"""
      dense AS (SELECT query_id, doc_id, dense_rank FROM (
                SELECT q.vec_id AS query_id, b.vec_id AS doc_id,
                       CAST(row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                                         CAST(q.embedding AS DOUBLE[])) DESC,
                                  b.vec_id ASC) AS BIGINT) AS dense_rank
                FROM embeddings b CROSS JOIN embeddings q
                WHERE q.vec_id IN (0, 1, 2) AND b.vec_id <> q.vec_id)
                WHERE dense_rank <= $k)"""

  /** Hybrid retrieval: reciprocal-rank fusion (RRF, Cormack et al.'s
    * k=60) of the lexical and dense rankings. Each side contributes
    * round(1e6/(60+rank)) — an integer — so the fused score is an
    * exact integer sum regardless of join/sum order. Candidates from
    * either side survive (full outer join); top-10 per query. */
  def hybridTopK(s: SparkSession, dir: String): DataFrame = {
    val lex = lexRankedMemo(s, dir, 20)
    val den = denseRankedMemo(s, dir, 20)
    val contrib = (r: Column) =>
      coalesce(round(lit(1000000.0) / (lit(60) + r), 0).cast("long"), lit(0L))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    lex.join(den, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro", contrib(col("lex_rank")) + contrib(col("dense_rank")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "doc_id", "rrf_micro")
      .orderBy("query_id", "rank")
  }

  val hybrid: Q = Q(
    "q_hybrid_rrf",
    (s, dir) => hybridTopK(s, dir),
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(20)},
      fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(CAST(round(1000000.0 / (60 + l.lex_rank)) AS BIGINT), 0) +
               coalesce(CAST(round(1000000.0 / (60 + d.dense_rank)) AS BIGINT), 0) AS rrf_micro
        FROM lex l FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
      ranked AS (SELECT query_id, doc_id, rrf_micro,
                        CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rank
                 FROM fused)
      SELECT query_id, rank, doc_id, rrf_micro
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** Hard-negative mining: lexical top-20 candidates the dense ranker
    * does NOT place in its top-5 — lexically plausible but
    * semantically distant, the classic negatives for contrastive
    * retrieval training. Anti-join keeps it one shuffle over the
    * (already tiny) candidate sets. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    lexRankedMemo(s, dir, 20)
      .join(denseRankedMemo(s, dir, 5), Seq("query_id", "doc_id"), "left_anti")
      .select("query_id", "lex_rank", "doc_id")
      .orderBy("query_id", "lex_rank")
  }

  val negatives: Q = Q(
    "q_hard_negatives",
    (s, dir) => hardNegatives(s, dir),
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(5)}
      SELECT l.query_id, l.lex_rank, l.doc_id
      FROM lex l
      WHERE NOT EXISTS (SELECT 1 FROM dense d
                        WHERE d.query_id = l.query_id AND d.doc_id = l.doc_id)
      ORDER BY l.query_id, l.lex_rank"""))

  /** Hashing-trick TF-IDF featurization: every token is hashed into a
    * fixed 32-bucket feature space (md5-derived, engine-portable), so
    * the feature map has CONSTANT width no matter how large the
    * vocabulary grows — the standard featurizer when the vocabulary
    * is unbounded or streaming (no vocabulary table to build, ship,
    * or keep consistent). Bucket idf is ln((N+1)/(df+1)) in floored
    * integer micro-nats (the [[TextStats]] lmSurprisal discipline, so
    * the log-derived totals stay hash-portable); per-document output
    * pins the non-zero feature count, the dominant feature (ties to
    * the lower bucket), and the exact total feature mass.
    *
    * Scale shape: one explode → (doc, bucket) two-level aggregate
    * (shuffle carries at most docs×32 rows after map-side combine),
    * a 32-row idf table broadcast back, and one per-doc aggregate.
    * Nothing is vocabulary-sized, which is the point of the trick. */
  val hashedTfidf: Q = Q(
    "q_hashed_tfidf",
    (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val hex = md5(col("tok").cast("binary"))
      def nib(i: Int) = {
        val a = ascii(substring(hex, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val tf = d.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .select(col("doc_id"), ((nib(1) * 16 + nib(2)) % 32).cast("long").as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
      val nTot = d.agg(count(lit(1)).as("n_tot"))
      val idf = tf.groupBy("b").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nTot))
        .select(col("b"), floor(lit(1000000.0) *
          log((col("n_tot") + 1).cast("double") / (col("df") + 1).cast("double")))
          .cast("long").as("idf_micro"))
      tf.join(broadcast(idf), "b")
        .select(col("doc_id"), col("b"), (col("tf") * col("idf_micro")).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          max(struct(col("w"), (-col("b")).as("nb"))).as("top"),
          sum(col("w")).as("total_micro"))
        .select(col("doc_id"), col("nnz"), (-col("top.nb")).as("top_bucket"),
          col("top.w").as("top_micro"), col("total_micro"))
        .orderBy("doc_id")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
      tf AS (
        SELECT doc_id,
               ((ascii(substr(md5(tok), 1, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
                (ascii(substr(md5(tok), 2, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 2, 1)) >= 97 THEN 87 ELSE 48 END)) % 32 AS b,
               CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY doc_id, b),
      n AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
      idf AS (
        SELECT b, CAST(floor(1000000.0 *
                 ln(CAST(n_tot + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)))
               AS BIGINT) AS idf_micro
        FROM (SELECT b, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY b)
        CROSS JOIN n),
      w AS (
        SELECT doc_id, b, tf * idf_micro AS w
        FROM tf JOIN idf USING (b))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
             arg_max(b, w * 32 - b) AS top_bucket,
             max(w) AS top_micro,
             CAST(sum(w) AS BIGINT) AS total_micro
      FROM w GROUP BY doc_id ORDER BY doc_id"""))

  /** NDCG@10 ranking-quality evaluation — the retrieval family's eval
    * metric: how well does the LEXICAL ranker approximate the DENSE
    * (embedding-cosine) ranking it is standing in for? Graded
    * relevance labels come from the dense ranking's tiers (dense rank
    * 1–3 → rel 3, 4–10 → rel 2, 11–20 → rel 1, unranked → 0), gains
    * are the standard 2^rel − 1, and each position's discount is
    * 1/ln(rank+1) — the exact NDCG a retrieval pipeline reports when
    * judging a cheap first-stage ranker against its expensive
    * ground-truth stage.
    *
    * Determinism: gains are exact small integers; each positional
    * discount is ONE rounded integer micro term
    * round(1e6/ln(rank+1)), so DCG/IDCG are exact BIGINT dot
    * products, and NDCG is surfaced as exact integer parts-per-
    * million via BIGINT division (`div` / `//` truncate identically
    * on positives) — no float sum ever crosses an engine boundary.
    *
    * Scale shape: the rankers carry the real cost (their plans are
    * justified at [[lexRanked]]/[[denseRanked]]); everything here
    * joins k·|queries|-row frames — label join is broadcast-sized,
    * the ideal-ordering window is over ≤20 rows per query. */
  val ndcgEval: Q = Q(
    "q_ndcg_eval",
    (s, dir) => {
      val relTier = when(col("dense_rank") <= 3, 3L)
        .when(col("dense_rank") <= 10, 2L).otherwise(1L)
      val rel = denseRankedMemo(s, dir, 20)
        .select(col("query_id"), col("doc_id"), relTier.as("rel"))
      def gain(r: Column) =
        round(pow(lit(2.0), r), 0).cast("long") - 1L
      def disc(rank: Column) =
        round(lit(1000000.0) / log(rank.cast("double") + lit(1.0)), 0).cast("long")
      val dcg = lexRankedMemo(s, dir, 20).filter(col("lex_rank") <= 10)
        .join(broadcast(rel), Seq("query_id", "doc_id"), "left")
        .select(col("query_id"),
          (gain(coalesce(col("rel"), lit(0L))) * disc(col("lex_rank"))).as("term"))
        .groupBy("query_id").agg(sum(col("term")).as("dcg_micro"))
      val wIdeal = Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("doc_id").asc)
      val idcg = rel
        .withColumn("irank", row_number().over(wIdeal).cast("long"))
        .filter(col("irank") <= 10)
        .select(col("query_id"), (gain(col("rel")) * disc(col("irank"))).as("term"))
        .groupBy("query_id").agg(sum(col("term")).as("idcg_micro"))
      dcg.join(idcg, "query_id")
        .select(col("query_id"), col("dcg_micro"), col("idcg_micro"),
          expr("dcg_micro * 1000000 div idcg_micro").as("ndcg_ppm"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(20)},
      rel AS (
        SELECT query_id, doc_id,
               CASE WHEN dense_rank <= 3 THEN 3
                    WHEN dense_rank <= 10 THEN 2 ELSE 1 END AS rel
        FROM dense),
      dcg AS (
        SELECT l.query_id,
               CAST(sum((CAST(round(pow(2.0, coalesce(r.rel, 0))) AS BIGINT) - 1) *
                        CAST(round(1000000.0 / ln(l.lex_rank + 1.0)) AS BIGINT))
                 AS BIGINT) AS dcg_micro
        FROM lex l LEFT JOIN rel r
          ON l.query_id = r.query_id AND l.doc_id = r.doc_id
        WHERE l.lex_rank <= 10
        GROUP BY l.query_id),
      ideal AS (
        SELECT query_id, rel,
               CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS irank
        FROM rel),
      idcg AS (
        SELECT query_id,
               CAST(sum((CAST(round(pow(2.0, rel)) AS BIGINT) - 1) *
                        CAST(round(1000000.0 / ln(irank + 1.0)) AS BIGINT))
                 AS BIGINT) AS idcg_micro
        FROM ideal WHERE irank <= 10 GROUP BY query_id)
      SELECT d.query_id, d.dcg_micro, i.idcg_micro,
             CAST(d.dcg_micro * 1000000 // i.idcg_micro AS BIGINT) AS ndcg_ppm
      FROM dcg d JOIN idcg i ON d.query_id = i.query_id
      ORDER BY d.query_id"""))

  /** MRR / hit@k ranking evaluation — the early-precision companion
    * to [[ndcgEval]] (which grades the whole top-10; MRR grades how
    * fast the FIRST relevant document surfaces, the metric that
    * matters for retrieval-augmented generation where only the first
    * hit enters the context window). Ground truth is the dense
    * cosine top-10 (doc-as-query, self excluded); the graded system
    * is the lexical BM25 ranking.
    *
    * Determinism: ranks are exact integers from both rankers, the
    * reciprocal rank is surfaced as 1000000 div rank (BIGINT
    * truncation, identical in both engines), and hits are 0/1 maxes —
    * no float ever crosses an engine boundary.
    *
    * Scale shape: identical to [[ndcgEval]] — the rankers carry the
    * cost; this stage joins two k·|queries|-row frames (broadcast-
    * sized) and aggregates per query. */
  val mrrEval: Q = Q(
    "q_mrr_eval",
    (s, dir) => {
      val rel = denseRankedMemo(s, dir, 10)
        .select(col("query_id"), col("doc_id"), lit(1L).as("rel"))
      lexRankedMemo(s, dir, 20)
        .join(broadcast(rel), Seq("query_id", "doc_id"), "left")
        .groupBy("query_id")
        .agg(
          coalesce(min(when(col("rel") === 1L, col("lex_rank"))), lit(0L))
            .as("first_rel_rank"),
          sum(coalesce(col("rel"), lit(0L))).as("n_rel_in20"),
          max(when(col("rel") === 1L && col("lex_rank") <= 1, 1L).otherwise(0L)).as("hit1"),
          max(when(col("rel") === 1L && col("lex_rank") <= 5, 1L).otherwise(0L)).as("hit5"),
          max(when(col("rel") === 1L && col("lex_rank") <= 10, 1L).otherwise(0L)).as("hit10"))
        .select(col("query_id"), col("first_rel_rank"),
          when(col("first_rel_rank") > 0,
            expr("1000000 div first_rel_rank")).otherwise(0L).as("rr_micro"),
          col("n_rel_in20"), col("hit1"), col("hit5"), col("hit10"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(10)}
      SELECT l.query_id,
             CAST(coalesce(min(CASE WHEN d.doc_id IS NOT NULL THEN l.lex_rank END), 0) AS BIGINT)
               AS first_rel_rank,
             CAST(CASE WHEN coalesce(min(CASE WHEN d.doc_id IS NOT NULL THEN l.lex_rank END), 0) > 0
                  THEN 1000000 // min(CASE WHEN d.doc_id IS NOT NULL THEN l.lex_rank END)
                  ELSE 0 END AS BIGINT) AS rr_micro,
             CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_in20,
             CAST(max(CASE WHEN d.doc_id IS NOT NULL AND l.lex_rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hit1,
             CAST(max(CASE WHEN d.doc_id IS NOT NULL AND l.lex_rank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hit5,
             CAST(max(CASE WHEN d.doc_id IS NOT NULL AND l.lex_rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hit10
      FROM lex l LEFT JOIN dense d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id
      GROUP BY l.query_id
      ORDER BY l.query_id"""))

  /** POSITIONAL PHRASE SEARCH — the inverted-index operation BM25
    * can't answer: "these words, ADJACENT, in this order". The plan
    * is the real positional-postings shape: one posexplode pass
    * builds (doc, token, position) postings, each phrase prunes its
    * term postings by a broadcast semi-join (same discipline as the
    * BM25 scorer — the corpus-sized postings never shuffle unpruned),
    * and adjacency is an equi-join on (doc, pos+1). A trigram phrase
    * is the same join applied twice — the AND-merge of classic IR,
    * stated declaratively. The oracle recomputes via 1-based array
    * indexing (toks[i], toks[i+1]) — a different formulation that
    * must agree occurrence-for-occurrence.
    *
    * Output per phrase: matching docs and total occurrences (overlap
    * counted, e.g. "a a a" contains "a a" twice — both formulations
    * agree by construction). */
  /** One phrase's (n_docs, n_occurrences) over a (doc_id, pos, tok)
    * postings frame — factored so the spec can pin overlap semantics
    * on synthetic postings. */
  private[graft] def phraseStats(post: DataFrame, ph: String): DataFrame = {
    val terms = ph.split(" ")
    val first = post.filter(col("tok") === terms.head)
      .select(col("doc_id"), col("pos"))
    val matched = terms.tail.zipWithIndex.foldLeft(first) {
      case (acc, (term, i)) =>
        acc.join(
          post.filter(col("tok") === term)
            .select(col("doc_id"), (col("pos") - (i + 1)).as("pos")),
          Seq("doc_id", "pos"))
    }
    matched.agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(lit(ph).as("phrase"), col("n_docs"), col("n_occurrences"))
  }

  val phraseSearch: Q = Q(
    "q_phrase_search",
    (s, dir) => {
      val phrases = Seq("table hash", "customer join", "slow key filter")
      val post = keep(Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
        .filter(col("tok") =!= "")) // probed once per phrase term
      phrases.map(ph => phraseStats(post, ph))
        .reduce(_.unionByName(_)).orderBy("phrase")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      c AS (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM d),
      hits AS (
        SELECT 'table hash' AS phrase, doc_id FROM c
        WHERE i + 1 <= len(toks) AND toks[i] = 'table' AND toks[i+1] = 'hash'
        UNION ALL
        SELECT 'customer join', doc_id FROM c
        WHERE i + 1 <= len(toks) AND toks[i] = 'customer' AND toks[i+1] = 'join'
        UNION ALL
        SELECT 'slow key filter', doc_id FROM c
        WHERE i + 2 <= len(toks) AND toks[i] = 'slow' AND toks[i+1] = 'key'
          AND toks[i+2] = 'filter'),
      ph AS (SELECT * FROM (VALUES ('table hash'), ('customer join'),
                            ('slow key filter')) t(phrase))
      SELECT ph.phrase,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(doc_id) AS BIGINT) AS n_occurrences
      FROM ph LEFT JOIN hits ON ph.phrase = hits.phrase
      GROUP BY ph.phrase ORDER BY ph.phrase"""))

  /** N-SOURCE WEIGHTED reciprocal-rank fusion — [[hybrid]] generalized
    * from the 2-way full-outer-join spelling to the union-and-regroup
    * shape that scales to any retriever count: each source emits
    * (query, doc, w·round(1e6/(60+rank))) contribution rows, the fuse
    * is ONE groupBy-sum over their union. With N sources a chain of
    * full outer joins is N−1 shuffles of widening null-padded rows;
    * the union is a single aggregate over k·|queries|·N tiny rows —
    * the associative formulation is the one you'd run at 100 TB fan-in.
    *
    * Sources over the fixed [[queryList]] workload, weights encoding
    * a precision prior:
    *   - BM25 top-20 (weight 3) — the graded lexical ranker;
    *   - adjacent-bigram PHRASE ranker (weight 2): docs ranked by
    *     total occurrences of the query's consecutive term pairs
    *     (the positional-postings evidence BM25's bag-of-words
    *     scoring cannot see);
    *   - hashed-TFIDF dot product (weight 1): the 32-bucket
    *     hashing-trick featurization scored query·doc — exact BIGINT
    *     arithmetic end to end.
    *
    * Determinism: every per-source contribution is an integer (the
    * one rounded division per rank), each source's ranks tie-break on
    * doc_id, and the fused sum is order-free BIGINT. Scale shape: the
    * corpus-sized positional postings are pruned by broadcast
    * semi-joins on the query bigram vocabulary BEFORE the adjacency
    * self-join; the tfidf side's shuffle is (doc × 32)-bounded; the
    * fuse touches only candidate rows. */
  val rrfWeighted: Q = Q(
    "q_rrf_weighted",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val post = keep(docs.select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
        .filter(col("tok") =!= "")) // probed by the phrase side (twice) and the tfidf tf side
      // source 1: BM25 top-20
      val bm = bm25TopK(s, docs, 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      // source 2: adjacent-bigram phrase ranker
      val bigrams = queryList.flatMap { case (qid, qtext) =>
        val ts = qtext.split(" ")
        ts.zip(ts.tail).map { case (a, b) => (qid, a, b) }
      }.toDF("query_id", "t1", "t2")
      val lhs = post.join(broadcast(
          bigrams.select(col("t1").as("tok")).distinct()), Seq("tok"))
        .select(col("doc_id"), col("pos"), col("tok").as("t1"))
      val rhs = post.join(broadcast(
          bigrams.select(col("t2").as("tok")).distinct()), Seq("tok"))
        .select(col("doc_id"), (col("pos") - 1).as("pos"), col("tok").as("t2"))
      val wPh = Window.partitionBy("query_id")
        .orderBy(col("n_occ").desc, col("doc_id").asc)
      val ph = lhs.join(rhs, Seq("doc_id", "pos"))
        .join(broadcast(bigrams), Seq("t1", "t2"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_occ"))
        .withColumn("rank", row_number().over(wPh).cast("long"))
        .filter(col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
      // source 3: hashed-TFIDF dot product (32-bucket hashing trick)
      val hex = md5(col("tok").cast("binary"))
      def nib(i: Int) = {
        val a = ascii(substring(hex, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val bucket = ((nib(1) * 16 + nib(2)) % 32).cast("long")
      val tf = post.select(col("doc_id"), bucket.as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("tf"))
      val nTot = docs.agg(count(lit(1)).as("n_tot"))
      val idf = tf.groupBy("b").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nTot))
        .select(col("b"), floor(lit(1000000.0) *
          log((col("n_tot") + 1).cast("double") / (col("df") + 1).cast("double")))
          .cast("long").as("idf_micro"))
      val qb = queryList.toDF("query_id", "qtext")
        .select(col("query_id"), explode(split(col("qtext"), " ")).as("tok"))
        .select(col("query_id"), bucket.as("b"))
        .groupBy("query_id", "b").agg(count(lit(1)).as("qtf"))
      val wTf = Window.partitionBy("query_id")
        .orderBy(col("dot").desc, col("doc_id").asc)
      val tfidfR = tf.join(broadcast(idf), Seq("b"))
        .join(broadcast(qb), Seq("b"))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("qtf") * col("tf") * col("idf_micro")).as("dot"))
        .withColumn("rank", row_number().over(wTf).cast("long"))
        .filter(col("rank") <= 20)
        .select("query_id", "doc_id", "rank")
      val contrib = (r: Column, w: Int) =>
        lit(w.toLong) * round(lit(1000000.0) / (lit(60) + r), 0).cast("long")
      val contribs = bm
        .select(col("query_id"), col("doc_id"), contrib(col("rank"), 3).as("c"))
        .unionByName(ph.select(col("query_id"), col("doc_id"),
          contrib(col("rank"), 2).as("c")))
        .unionByName(tfidfR.select(col("query_id"), col("doc_id"),
          contrib(col("rank"), 1).as("c")))
      val wF = Window.partitionBy("query_id")
        .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      contribs.groupBy("query_id", "doc_id")
        .agg(sum(col("c")).as("rrf_micro"))
        .withColumn("rank", row_number().over(wF).cast("long"))
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "rrf_micro")
        .orderBy("query_id", "rank")
    },
    Some("""
      WITH post AS (
        SELECT doc_id, t AS tok
        FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
              FROM documents)
        WHERE t <> ''),
      tfl AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
              FROM post GROUP BY doc_id, tok),
      dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
             FROM post GROUP BY doc_id),
      stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS s FROM dl),
      q AS (
        SELECT 0 AS query_id, unnest(['hash','join','table']) AS tok
        UNION ALL
        SELECT 1, unnest(['scan','filter','query','dup'])
        UNION ALL
        SELECT 2, unnest(['stream','window','batch'])),
      matched AS (SELECT q.query_id, tfl.doc_id, tfl.tok, tfl.tf
                  FROM tfl JOIN q ON tfl.tok = q.tok),
      df_ AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM matched GROUP BY tok),
      scoredbm AS (
        SELECT m.query_id, m.doc_id,
               CAST(round(
                 ln(1.0 + (stats.n - df_.df + 0.5) / (df_.df + 0.5)) *
                 m.tf * 2.2 /
                 (m.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl * stats.n / stats.s)) *
                 1000000.0) AS BIGINT) AS m
        FROM matched m
        JOIN df_ ON m.tok = df_.tok
        JOIN dl ON m.doc_id = dl.doc_id
        CROSS JOIN stats),
      bm AS (SELECT query_id, doc_id, rank FROM (
               SELECT query_id, doc_id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
               FROM (SELECT query_id, doc_id, CAST(sum(m) AS BIGINT) AS score_micro
                     FROM scoredbm GROUP BY query_id, doc_id))
             WHERE rank <= 20),
      bg AS (
        SELECT 0 AS query_id, 'hash' AS t1, 'join' AS t2
        UNION ALL SELECT 0, 'join', 'table'
        UNION ALL SELECT 1, 'scan', 'filter'
        UNION ALL SELECT 1, 'filter', 'query'
        UNION ALL SELECT 1, 'query', 'dup'
        UNION ALL SELECT 2, 'stream', 'window'
        UNION ALL SELECT 2, 'window', 'batch'),
      darr AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      pairs AS (
        SELECT doc_id, toks[i] AS t1, toks[i+1] AS t2
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM darr)
        WHERE i + 1 <= len(toks)),
      ph AS (SELECT query_id, doc_id, rank FROM (
               SELECT query_id, doc_id,
                      CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY n_occ DESC, doc_id ASC) AS BIGINT) AS rank
               FROM (SELECT bg.query_id, p.doc_id, CAST(count(*) AS BIGINT) AS n_occ
                     FROM pairs p JOIN bg ON p.t1 = bg.t1 AND p.t2 = bg.t2
                     GROUP BY bg.query_id, p.doc_id))
             WHERE rank <= 20),
      tfb AS (
        SELECT doc_id,
               ((ascii(substr(md5(tok), 1, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
                (ascii(substr(md5(tok), 2, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 2, 1)) >= 97 THEN 87 ELSE 48 END)) % 32 AS b,
               CAST(count(*) AS BIGINT) AS tf
        FROM post GROUP BY doc_id, b),
      ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
      idf AS (
        SELECT b, CAST(floor(1000000.0 *
                 ln(CAST(n_tot + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)))
               AS BIGINT) AS idf_micro
        FROM (SELECT b, CAST(count(*) AS BIGINT) AS df FROM tfb GROUP BY b)
        CROSS JOIN ntot),
      qb AS (
        SELECT query_id,
               ((ascii(substr(md5(tok), 1, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
                (ascii(substr(md5(tok), 2, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 2, 1)) >= 97 THEN 87 ELSE 48 END)) % 32 AS b,
               CAST(count(*) AS BIGINT) AS qtf
        FROM q GROUP BY query_id, b),
      tfr AS (SELECT query_id, doc_id, rank FROM (
                SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                         ORDER BY dot DESC, doc_id ASC) AS BIGINT) AS rank
                FROM (SELECT qb.query_id, t.doc_id,
                             CAST(sum(qb.qtf * t.tf * idf.idf_micro) AS BIGINT) AS dot
                      FROM tfb t JOIN idf USING (b) JOIN qb USING (b)
                      GROUP BY qb.query_id, t.doc_id))
              WHERE rank <= 20),
      contribs AS (
        SELECT query_id, doc_id,
               3 * CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM bm
        UNION ALL
        SELECT query_id, doc_id,
               2 * CAST(round(1000000.0 / (60 + rank)) AS BIGINT) FROM ph
        UNION ALL
        SELECT query_id, doc_id,
               1 * CAST(round(1000000.0 / (60 + rank)) AS BIGINT) FROM tfr),
      fused AS (SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro
                FROM contribs GROUP BY query_id, doc_id),
      ranked AS (SELECT query_id, doc_id, rrf_micro,
                        CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS rank
                 FROM fused)
      SELECT query_id, rank, doc_id, rrf_micro
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank"""))

  /** One unrolled greedy MMR step as a CTE trio (remaining set →
    * argmax pick → grown selection), shared only by the oracle —
    * the Spark side runs the identical greedy loop on the k-bounded
    * collected candidate frame. */
  private def mmrStepCte(i: Int): String = {
    val prevSel = s"sel${i - 1}"
    s"""c$i AS MATERIALIZED (
        SELECT c.vec_id, c.rel,
               (SELECT max(s.sim) FROM simp s JOIN $prevSel p ON s.vb = p.vec_id
                WHERE s.va = c.vec_id) AS maxsim
        FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM $prevSel)),
      p$i AS MATERIALIZED (
        SELECT CAST($i AS BIGINT) AS step, vec_id, rel, maxsim,
               rel - maxsim AS score2
        FROM c$i ORDER BY rel - maxsim DESC, vec_id LIMIT 1),
      sel$i AS MATERIALIZED (SELECT vec_id FROM $prevSel UNION ALL SELECT vec_id FROM p$i)"""
  }

  /** MMR DIVERSIFIED RERANKING (maximal marginal relevance) — the
    * standard redundancy-vs-relevance rerank over a dense retrieval
    * shortlist: from the query's top-20 cosine candidates, greedily
    * pick 5, each step maximizing λ·rel − (1−λ)·max-sim-to-selected.
    * λ = 1/2 makes the DOUBLED objective a pure integer difference
    * (rel_micro − maxsim_micro — the [[graft.llm.Classifier.gbStep]]
    * halving trick), so every step's argmax, pick, and score ride the
    * driver hash with the (score DESC, vec_id ASC) total order.
    *
    * Cosine exactness: embeddings quantize to micro-unit BIGINTs
    * (round(1e6·x), exact); dot products and squared norms are exact
    * BIGINT sums; each similarity is ONE fixed-order IEEE chain
    * 1e6·(dot / (√n2_a · √n2_b)) rounded to a micro integer — the
    * established cross-engine contract — with all-zero vectors pinned
    * to sim 0 on both engines.
    *
    * Scale shape: relevance is one broadcast-query scan (the
    * [[Similarity.exactTopK]] shape) with a TakeOrdered top-20 —
    * never a global sort or unpartitioned window; everything after is
    * k-bounded (20 candidates, 190 pairwise sims, 5 greedy steps on
    * the driver — the PCA eigensolve argument: the iterative argmax
    * over a k² frame is driver work by construction, and shipping it
    * to executors would just round-trip 400 rows). */
  val mmrRerank: Q = Q(
    "q_mmr_rerank",
    (s, dir) => {
      val embm = Tables.load(s, dir, "embeddings").select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * lit(1e6), 0).cast("long")).as("xm"))
        .withColumn("n2",
          aggregate(transform(col("xm"), v => v * v), lit(0L), (a, v) => a + v))
      val qR = embm.filter(col("vec_id") === 0L).select("xm", "n2").head()
      val qxm: Seq[Long] = qR.getSeq[Long](0)
      val qn2: Long = qR.getLong(1)
      val dot = aggregate(zip_with(col("xm"), typedLit(qxm), (a, b) => a * b),
        lit(0L), (a, v) => a + v)
      val rel = when(col("n2") === 0L || lit(qn2) === 0L, 0L)
        .otherwise(round(lit(1e6) * (dot.cast("double") /
          (sqrt(col("n2").cast("double")) * lit(math.sqrt(qn2.toDouble)))), 0)
          .cast("long"))
      val cands = embm.filter(col("vec_id") =!= 0L)
        .withColumn("rel", rel)
        .orderBy(col("rel").desc, col("vec_id"))
        .limit(20)
        .select("vec_id", "rel", "xm", "n2")
        .collect() // k-bounded shortlist: 20 rows of 64 longs
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getLong(3)))
      def simMicro(a: (Long, Long, Seq[Long], Long),
          b: (Long, Long, Seq[Long], Long)): Long =
        if (a._4 == 0L || b._4 == 0L) 0L
        else {
          val d = a._3.zip(b._3).map { case (x, y) => x * y }.sum
          BigDecimal(1e6 * (d.toDouble /
            (math.sqrt(a._4.toDouble) * math.sqrt(b._4.toDouble))))
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        }
      // the greedy trace, exactly the oracle's unrolled CTE chain
      var selected = Vector.empty[(Long, Long, Seq[Long], Long)]
      val trace = (1 to 5).map { step =>
        val remaining = cands.filterNot(c => selected.exists(_._1 == c._1))
        val scoredC = remaining.map { c =>
          val maxsim =
            if (selected.isEmpty) 0L else selected.map(simMicro(c, _)).max
          (c, maxsim, c._2 - maxsim)
        }
        val pick = scoredC.minBy { case (c, _, sc) => (-sc, c._1) }
        selected :+= pick._1
        (step.toLong, pick._1._1, pick._1._2, pick._2, pick._3)
      }
      import s.implicits._
      trace.toDF("step", "vec_id", "rel_micro", "maxsim_micro", "score2_micro")
        .orderBy("step")
    },
    Some(s"""
      WITH em AS MATERIALIZED (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(1e6 * x) AS BIGINT)) AS xm
        FROM embeddings),
      el AS MATERIALIZED (SELECT vec_id, generate_subscripts(xm, 1) AS i, unnest(xm) AS x
             FROM em),
      n2t AS MATERIALIZED (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2 FROM el
              GROUP BY vec_id),
      qel AS MATERIALIZED (SELECT i, x AS qx FROM el WHERE vec_id = 0),
      qn AS MATERIALIZED (SELECT n2 AS qn2 FROM n2t WHERE vec_id = 0),
      dots AS MATERIALIZED (
        SELECT el.vec_id, CAST(sum(el.x * qel.qx) AS BIGINT) AS dot
        FROM el JOIN qel USING (i) WHERE el.vec_id <> 0 GROUP BY el.vec_id),
      relt AS MATERIALIZED (
        SELECT d.vec_id,
               CASE WHEN n.n2 = 0 OR qn.qn2 = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(1e6 * (CAST(d.dot AS DOUBLE) /
                      (sqrt(CAST(n.n2 AS DOUBLE)) * sqrt(CAST(qn.qn2 AS DOUBLE)))))
                      AS BIGINT) END AS rel
        FROM dots d JOIN n2t n USING (vec_id), qn),
      cand AS MATERIALIZED (SELECT vec_id, rel FROM relt ORDER BY rel DESC, vec_id LIMIT 20),
      cel AS MATERIALIZED (SELECT el.* FROM el JOIN cand USING (vec_id)),
      cdot AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb, CAST(sum(a.x * b.x) AS BIGINT) AS dot
        FROM cel a JOIN cel b USING (i) WHERE a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id),
      simh AS MATERIALIZED (
        SELECT c.va, c.vb,
               CASE WHEN na.n2 = 0 OR nb.n2 = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(1e6 * (CAST(c.dot AS DOUBLE) /
                      (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))))
                      AS BIGINT) END AS sim
        FROM cdot c JOIN n2t na ON na.vec_id = c.va
                    JOIN n2t nb ON nb.vec_id = c.vb),
      simp AS MATERIALIZED (SELECT va, vb, sim FROM simh
               UNION ALL SELECT vb, va, sim FROM simh),
      p1 AS MATERIALIZED (
        SELECT CAST(1 AS BIGINT) AS step, vec_id, rel,
               CAST(0 AS BIGINT) AS maxsim, rel AS score2
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
      sel1 AS MATERIALIZED (SELECT vec_id FROM p1),
      ${(2 to 5).map(mmrStepCte).mkString(",\n      ")}
      SELECT step, vec_id, rel AS rel_micro, maxsim AS maxsim_micro,
             score2 AS score2_micro
      FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
            UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
            UNION ALL SELECT * FROM p5)
      ORDER BY step"""))

  /** LATE-INTERACTION rerank (ColBERT-lite) over the BM25 shortlist —
    * the two-stage retrieval architecture: a cheap first-stage ranker
    * (BM25 top-20, [[lexRanked]]) produces candidates; a finer
    * token-LEVEL scorer reranks only those. ColBERT's MaxSim is
    * score(q,d) = Σ_{query tokens} max_{doc tokens} ⟨E(qt), E(dt)⟩;
    * with the [[hashedTfidf]] featurizer's token embeddings (idf-
    * scaled one-hot bucket vectors) the inner max collapses EXACTLY:
    * ⟨qt, dt⟩ = idf(b)² iff both tokens hash to bucket b, so
    * maxsim(qt, d) = idf(b(qt))² · [d has any token in b(qt)] — every
    * score an exact BIGINT, the whole rerank hash-oracled. The
    * architecture (shortlist → per-token late interaction → rerank)
    * is the real ColBERT plumbing; only the token encoder is the
    * hashing trick instead of a transformer (documented stand-in,
    * same contract as the multimodal decode stubs).
    *
    * Scale shape: the shortlist bounds everything — candidates are
    * 20/query; doc bucket sets are (doc × 32)-bounded and pruned by a
    * semi-join to shortlisted docs BEFORE the interaction join; query
    * tokens broadcast. Envelope: Σ idf_micro² ≤ 40·(ln N·10⁶)² —
    * BIGINT-safe through N ≈ 10¹⁹ docs. */
  val lateInteraction: Q = Q(
    "q_late_interaction",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val post = docs.select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val hex = md5(col("tok").cast("binary"))
      def nib(i: Int) = {
        val a = ascii(substring(hex, i, 1))
        a - when(a >= 97, 87).otherwise(48)
      }
      val bucket = ((nib(1) * 16 + nib(2)) % 32).cast("long")
      val withB = post.select(col("doc_id"), col("tok"), bucket.as("b"))
      val docBuckets = withB.select("doc_id", "b").distinct()
      val nTot = docs.agg(count(lit(1)).as("n_tot"))
      val idf = docBuckets.groupBy("b").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nTot))
        .select(col("b"), floor(lit(1000000.0) *
          log((col("n_tot") + 1).cast("double") / (col("df") + 1).cast("double")))
          .cast("long").as("idf_micro"))
      val qtok = withB.filter(col("doc_id").isInCollection(queryDocIds))
        .select(col("doc_id").as("query_id"), col("tok"), col("b")).distinct()
        .join(broadcast(idf), Seq("b"))
      val shortlist = lexRankedMemo(s, dir, 20)
      val candBuckets = docBuckets
        .join(shortlist.select(col("doc_id")).distinct(), Seq("doc_id"),
          "left_semi")
      val li = shortlist
        .join(broadcast(qtok), Seq("query_id"))
        .join(candBuckets.withColumn("present", lit(1L)), Seq("doc_id", "b"),
          "left")
        .groupBy("query_id", "doc_id", "lex_rank")
        .agg(sum(when(col("present").isNotNull,
          col("idf_micro") * col("idf_micro")).otherwise(0L)).as("li_score"))
      li.withColumn("li_rank", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("li_score").desc, col("lex_rank").asc)).cast("long"))
        .select(col("query_id"), col("li_rank"), col("doc_id"),
          col("lex_rank"), col("li_score"))
        .orderBy("query_id", "li_rank")
    },
    Some(s"""
      WITH $lexRankedSql,
      bt AS (
        SELECT doc_id, tok,
               ((ascii(substr(md5(tok), 1, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
                (ascii(substr(md5(tok), 2, 1)) -
                 CASE WHEN ascii(substr(md5(tok), 2, 1)) >= 97 THEN 87 ELSE 48 END)) % 32 AS b
        FROM post),
      db AS (SELECT DISTINCT doc_id, b FROM bt),
      n2 AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM documents),
      idf2 AS (
        SELECT b, CAST(floor(1000000.0 *
                 ln(CAST(n_tot + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)))
               AS BIGINT) AS idf_micro
        FROM (SELECT b, CAST(count(*) AS BIGINT) AS df FROM db GROUP BY b) dfq
        CROSS JOIN n2),
      qt AS (
        SELECT DISTINCT bt.doc_id AS query_id, bt.tok, bt.b, idf2.idf_micro
        FROM bt JOIN idf2 USING (b)
        WHERE bt.doc_id IN (0, 1, 2)),
      li AS (
        SELECT l.query_id, l.doc_id, l.lex_rank,
               CAST(sum(CASE WHEN EXISTS (
                   SELECT 1 FROM db WHERE db.doc_id = l.doc_id AND db.b = qt.b)
                 THEN qt.idf_micro * qt.idf_micro ELSE 0 END) AS BIGINT)
                 AS li_score
        FROM lex l JOIN qt ON qt.query_id = l.query_id
        GROUP BY l.query_id, l.doc_id, l.lex_rank)
      SELECT query_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY li_score DESC, lex_rank ASC) AS BIGINT) AS li_rank,
             doc_id, lex_rank, li_score
      FROM li
      ORDER BY query_id, li_rank"""))

  /** RANK-BIASED OVERLAP (Webber, Moffat & Zobel 2010) between the
    * lexical and dense rankers — the ranker-agreement diagnostic the
    * fusion family needs next to [[hybrid]] (RRF assumes the rankers
    * disagree usefully; RBO MEASURES how much): RBO@k =
    * (1−p)·Σ_{d≤k} p^{d−1}·|A_{1..d} ∩ B_{1..d}|/d with p = 0.9 —
    * top-weighted, so two lists that agree at rank 1 but diverge in
    * the tail score high, the property plain set-overlap misses.
    *
    * Exactness via the LITERAL-TABLE discipline (the periodogram trig
    * recipe): the irrational weights (1−p)·p^{d−1} are tabulated ONCE
    * in Scala as nano-unit literals and injected into BOTH engines,
    * so no engine ever raises a float to a power; prefix overlaps X_d
    * are integers (membership d ≥ rank exploded per side, one
    * (query, depth, doc) equi-join), and each term is one floor
    * division X_d·w_d ÷ d. Queries with empty intersections stay in
    * the output via the query-id base frame (rbo 0).
    *
    * Scale shape: both rankers are the audited broadcast-prune /
    * exact-top-k shapes; everything after is k²-bounded per query
    * (≤ 10 depths × 10 docs). */
  val RboK = 10
  val RboWeightsNano: Seq[(Int, Long)] = (1 to RboK).map { d =>
    d -> BigDecimal(0.1 * math.pow(0.9, d - 1) * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
  }

  /** RBO over two (query_id, doc_id, rank ≤ [[RboK]]) rank frames —
    * factored so RetrievalSpec can feed hand rankings with known
    * closed-form RBO. */
  def rboOf(lex: DataFrame, den: DataFrame): DataFrame = {
    val s = lex.sparkSession
    import s.implicits._
    def prefixes(df: DataFrame, rankCol: String) =
      df.select(col("query_id"), col("doc_id"),
        explode(sequence(col(rankCol).cast("int"), lit(RboK))).as("d"))
    val x = prefixes(lex, "lex_rank")
      .join(prefixes(den, "dense_rank"), Seq("query_id", "d", "doc_id"))
      .groupBy("query_id", "d").agg(count(lit(1)).as("x"))
    val wdf = RboWeightsNano.toDF("d", "w")
    val agg = x.join(broadcast(wdf), "d")
      .groupBy("query_id")
      .agg(sum(when(col("d") === RboK, col("x"))).as("overlap_at_k"),
        sum(expr("(x * w) div d")).as("rbo_nano"))
    lex.select("query_id").distinct()
      .join(agg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
        coalesce(col("rbo_nano"), lit(0L)).as("rbo_nano"))
      .orderBy("query_id")
  }

  val rbo: Q = Q(
    "q_rbo",
    (s, dir) => {
      rboOf(lexRankedMemo(s, dir, RboK), denseRankedMemo(s, dir, RboK))
    },
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(RboK)},
      lex10 AS (SELECT query_id, doc_id, lex_rank FROM lex WHERE lex_rank <= $RboK),
      lexp AS (SELECT query_id, doc_id, d.range AS d
               FROM lex10, range(1, ${RboK + 1}) d WHERE lex_rank <= d.range),
      denp AS (SELECT query_id, doc_id, d.range AS d
               FROM dense, range(1, ${RboK + 1}) d WHERE dense_rank <= d.range),
      x AS (SELECT l.query_id, l.d, CAST(count(*) AS BIGINT) AS x
            FROM lexp l JOIN denp dn
              ON dn.query_id = l.query_id AND dn.d = l.d AND dn.doc_id = l.doc_id
            GROUP BY l.query_id, l.d),
      w(d, w) AS (SELECT * FROM (VALUES ${RboWeightsNano
        .map { case (d, w) => s"($d, CAST($w AS BIGINT))" }.mkString(", ")}) t(d, w)),
      rboagg AS (SELECT query_id,
                     CAST(sum(CASE WHEN x.d = $RboK THEN x.x END) AS BIGINT)
                       AS overlap_at_k,
                     CAST(sum((x.x * w.w) // x.d) AS BIGINT) AS rbo_nano
              FROM x JOIN w ON w.d = x.d GROUP BY query_id),
      base AS (SELECT DISTINCT query_id FROM lex10)
      SELECT b.query_id,
             CAST(coalesce(a.overlap_at_k, 0) AS BIGINT) AS overlap_at_k,
             CAST(coalesce(a.rbo_nano, 0) AS BIGINT) AS rbo_nano
      FROM base b LEFT JOIN rboagg a ON a.query_id = b.query_id
      ORDER BY b.query_id"""))

  /** AVERAGE PRECISION@10 — the third leg of the ranking-eval triad
    * ([[ndcgEval]] grades the whole graded top-10, [[mrrEval]] the
    * first hit; AP integrates precision over EVERY hit, the metric
    * TREC reports and PR-curve areas reduce to). Ground truth is the
    * dense cosine top-10 (binary relevance); the graded system is
    * the lexical BM25 ranking, same doc-as-query protocol.
    *
    * Determinism: the running hit count is an integer window sum
    * over the unique lex_rank order; each hit's precision term is
    * ONE truncated division (1e6·cum) div rank — positive, so `div`
    * and `//` agree — and AP is the term sum divided by the fixed
    * R = 10 relevant docs every query has by construction. No float
    * crosses an engine boundary.
    *
    * Scale shape: identical to the siblings — the rankers carry the
    * cost, this stage joins two k·|queries|-row broadcast-sized
    * frames and window-sums over ≤10 rows per query. */
  val apEval: Q = Q(
    "q_avg_precision",
    (s, dir) => {
      val rel = denseRankedMemo(s, dir, 10)
        .select(col("query_id"), col("doc_id"), lit(1L).as("rel"))
      val wCum = Window.partitionBy("query_id").orderBy(col("lex_rank").asc)
      lexRankedMemo(s, dir, 20).filter(col("lex_rank") <= 10)
        .join(broadcast(rel), Seq("query_id", "doc_id"), "left")
        .withColumn("r", coalesce(col("rel"), lit(0L)))
        .withColumn("cum", sum(col("r")).over(wCum))
        .withColumn("prec_micro",
          when(col("r") === 1L, expr("(1000000 * cum) div lex_rank"))
            .otherwise(0L))
        .groupBy("query_id")
        .agg(sum(col("r")).as("n_hits"),
          sum(col("prec_micro")).as("sum_prec_micro"))
        .select(col("query_id"), col("n_hits"), col("sum_prec_micro"),
          expr("sum_prec_micro div 10").as("ap_micro"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(10)},
      j AS (
        SELECT l.query_id, l.lex_rank,
               CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS r
        FROM lex l LEFT JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
        WHERE l.lex_rank <= 10),
      c AS (
        SELECT query_id, lex_rank, r,
               CAST(sum(r) OVER (PARTITION BY query_id
                 ORDER BY lex_rank) AS BIGINT) AS cum
        FROM j)
      SELECT query_id, CAST(sum(r) AS BIGINT) AS n_hits,
             CAST(sum(CASE WHEN r = 1 THEN (1000000 * cum) // lex_rank
                           ELSE 0 END) AS BIGINT) AS sum_prec_micro,
             CAST(sum(CASE WHEN r = 1 THEN (1000000 * cum) // lex_rank
                           ELSE 0 END) // 10 AS BIGINT) AS ap_micro
      FROM c GROUP BY query_id ORDER BY query_id"""))

  /** CONDORCET / COPELAND RANK AGGREGATION — the social-choice
    * alternative to score fusion: where RRF ([[hybrid]]) ADDS
    * reciprocal ranks, a Condorcet method holds a pairwise-majority
    * TOURNAMENT among candidates (a beats b if a majority of rankers
    * order a above b; unranked = worse than any ranked, two unranked
    * tie). Copeland score = dominated-minus-dominating opponents —
    * robust to one ranker's wild scores in a way additive fusion is
    * not; the Borda tally (Σ positions-from-bottom) breaks Copeland
    * ties, doc_id breaks both. The flag marks a true CONDORCET
    * WINNER (dominates every opponent). Voters: the lexical top-20,
    * dense top-20, and RRF-hybrid top-10 over the same doc-as-query
    * protocol.
    *
    * All-integer: ranks are exact, comparisons count votes, no score
    * arithmetic survives into the tally. Scale shape: the rankers
    * carry the cost; the candidate set is ≤40 per query, so the
    * pairwise tournament is a ≤1.6k-row-per-query self-join over a
    * broadcast-sized frame — O(candidates²), constant in corpus. */
  val condorcetFusion: Q = Q(
    "q_condorcet_fusion",
    (s, dir) => {
      val lex = lexRankedMemo(s, dir, 20)
      val den = denseRankedMemo(s, dir, 20)
      val hyb = hybridTopK(s, dir).select(col("query_id"), col("doc_id"),
        col("rank").as("hyb_rank"))
      val cand = lex.join(den, Seq("query_id", "doc_id"), "full_outer")
        .join(hyb, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          coalesce(col("lex_rank"), lit(999L)).as("rl"),
          coalesce(col("dense_rank"), lit(999L)).as("rd"),
          coalesce(col("hyb_rank"), lit(999L)).as("rh"))
      val n = cand.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
      val pairs = cand.as("a").join(cand.as("b"),
          col("a.query_id") === col("b.query_id") &&
            col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.query_id").as("query_id"), col("a.doc_id").as("doc_id"),
          ((col("a.rl") < col("b.rl")).cast("long") +
           (col("a.rd") < col("b.rd")).cast("long") +
           (col("a.rh") < col("b.rh")).cast("long")).as("ab"),
          ((col("b.rl") < col("a.rl")).cast("long") +
           (col("b.rd") < col("a.rd")).cast("long") +
           (col("b.rh") < col("a.rh")).cast("long")).as("ba"))
      val cop = pairs.groupBy("query_id", "doc_id")
        .agg(sum(when(col("ab") > col("ba"), 1L)
          .when(col("ab") < col("ba"), -1L).otherwise(0L)).as("copeland"))
      val borda = cand.select(col("query_id"), col("doc_id"),
        (when(col("rl") <= 20, lit(21L) - col("rl")).otherwise(0L) +
         when(col("rd") <= 20, lit(21L) - col("rd")).otherwise(0L) +
         when(col("rh") <= 10, lit(11L) - col("rh")).otherwise(0L)).as("borda"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("copeland").desc, col("borda").desc, col("doc_id").asc)
      cop.join(borda, Seq("query_id", "doc_id"))
        .join(broadcast(n), "query_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("copeland"), col("borda"),
          (col("copeland") === col("n_cand") - 1).as("condorcet_winner"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH $lexRankedSql,
      ${denseRankedSql(20)},
      hybbase AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(CAST(round(1000000.0 / (60 + l.lex_rank)) AS BIGINT), 0) +
               coalesce(CAST(round(1000000.0 / (60 + d.dense_rank)) AS BIGINT), 0)
                 AS rrf
        FROM lex l FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
      hyb AS (
        SELECT query_id, doc_id, hyb_rank FROM (
          SELECT query_id, doc_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS hyb_rank
          FROM hybbase)
        WHERE hyb_rank <= 10),
      cand AS (
        SELECT coalesce(l.query_id, d.query_id, h.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id, h.doc_id) AS doc_id,
               coalesce(l.lex_rank, 999) AS rl,
               coalesce(d.dense_rank, 999) AS rd,
               coalesce(h.hyb_rank, 999) AS rh
        FROM lex l
        FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
        FULL OUTER JOIN hyb h
          ON coalesce(l.query_id, d.query_id) = h.query_id
         AND coalesce(l.doc_id, d.doc_id) = h.doc_id),
      nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
             FROM cand GROUP BY query_id),
      cop AS (
        SELECT a.query_id, a.doc_id,
               CAST(sum(CASE
                 WHEN (CASE WHEN a.rl < b.rl THEN 1 ELSE 0 END +
                       CASE WHEN a.rd < b.rd THEN 1 ELSE 0 END +
                       CASE WHEN a.rh < b.rh THEN 1 ELSE 0 END) >
                      (CASE WHEN b.rl < a.rl THEN 1 ELSE 0 END +
                       CASE WHEN b.rd < a.rd THEN 1 ELSE 0 END +
                       CASE WHEN b.rh < a.rh THEN 1 ELSE 0 END) THEN 1
                 WHEN (CASE WHEN a.rl < b.rl THEN 1 ELSE 0 END +
                       CASE WHEN a.rd < b.rd THEN 1 ELSE 0 END +
                       CASE WHEN a.rh < b.rh THEN 1 ELSE 0 END) <
                      (CASE WHEN b.rl < a.rl THEN 1 ELSE 0 END +
                       CASE WHEN b.rd < a.rd THEN 1 ELSE 0 END +
                       CASE WHEN b.rh < a.rh THEN 1 ELSE 0 END) THEN -1
                 ELSE 0 END) AS BIGINT) AS copeland
        FROM cand a JOIN cand b
          ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
        GROUP BY a.query_id, a.doc_id),
      brd AS (
        SELECT query_id, doc_id,
               CAST(CASE WHEN rl <= 20 THEN 21 - rl ELSE 0 END +
                    CASE WHEN rd <= 20 THEN 21 - rd ELSE 0 END +
                    CASE WHEN rh <= 10 THEN 11 - rh ELSE 0 END AS BIGINT) AS borda
        FROM cand)
      SELECT query_id, rank, doc_id, copeland, borda, condorcet_winner
      FROM (
        SELECT cop.query_id, cop.doc_id, cop.copeland, brd.borda,
               cop.copeland = nc.n_cand - 1 AS condorcet_winner,
               CAST(row_number() OVER (PARTITION BY cop.query_id
                 ORDER BY cop.copeland DESC, brd.borda DESC, cop.doc_id ASC)
                 AS BIGINT) AS rank
        FROM cop
        JOIN brd ON cop.query_id = brd.query_id AND cop.doc_id = brd.doc_id
        JOIN nc ON cop.query_id = nc.query_id)
      WHERE rank <= 10
      ORDER BY query_id, rank"""))

  val all: Seq[Q] = Seq(bm25, bm25Incremental, hybrid, negatives, hashedTfidf,
    ndcgEval, mrrEval, phraseSearch, rrfWeighted, mmrRerank, lateInteraction,
    rbo, apEval, condorcetFusion)
}
