package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** Distributed BPE (byte-pair-encoding) merge training — the
  * tokenizer-training primitive of every modern LLM data pipeline,
  * in the shape that scales: merges are learned from the
  * WORD-FREQUENCY TABLE, not the corpus. The corpus is touched
  * exactly once (token explode → word counts); every Lloyd's-style
  * round after that — pair counting, argmax, merge application — runs
  * over the vocabulary-sized table, so a 100 TB corpus trains at the
  * cost of its distinct-word table (Zipf makes that millions of rows,
  * not billions), and shuffles carry (symbol-pair, count) rows only.
  *
  * Semantics match the reference BPE trainer (Sennrich et al. 2016 —
  * public): each round counts adjacent symbol pairs weighted by word
  * frequency, merges the globally most frequent pair everywhere
  * (greedy left-to-right, non-overlapping), and repeats. Words start
  * as character sequences; no end-of-word marker is added (the
  * in-word merge dynamics are identical; markers are a tokenizer
  * packaging concern).
  *
  * Determinism: the argmax tie-breaks by (count desc, left asc,
  * right asc) — a total order over pairs — and merge application is a
  * sequential left fold per word (`aggregate`, the same ordered-fold
  * device as [[Ivf.orderedMeanAgg]]), so the learned merge list is
  * bit-identical run to run and identical to a sequential driver-side
  * reference (pinned in BpeSpec). Only k (pair, count) rows ever
  * return to the driver — the legitimate iterative-driver pattern
  * ([[Ivf.trainCentroids]], [[Dedup.connectedComponents]]).
  *
  * Oracled since round 15: the k training rounds unroll into chained
  * CTEs ([[bpeRoundCte]] — the q_luby_mis device), and the greedy
  * left-to-right merge fold runs as a per-word RECURSIVE walk
  * carrying (prefix, last-symbol) state. A recursive walk, not
  * string replace(): replace consumes the boundary space of each
  * match, so it silently skips an immediately following occurrence
  * (" l r l r " merges once, not twice) and diverges from the fold
  * on l = r runs — measured before being rejected. The declared
  * queries also keep their structural floors (exactly k distinct
  * positive-support merges; round-trip + token-count bounds), and
  * BpeSpec pins the merge list against a sequential reference.
  */
object Bpe {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Word → its character-symbol sequence (array of 1-char strings). */
  private[graft] def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** Adjacent symbol pairs of a sequence as (l, r) structs; empty for
    * single-symbol sequences (`sequence(1, 0)` would count DOWN, so
    * the short case is guarded explicitly). */
  private[llm] def pairStructs(syms: Column): Column =
    when(size(syms) < 2,
      array().cast("array<struct<l:string,r:string>>"))
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("l"),
          element_at(syms, i + 1).as("r"))))

  /** Apply one merge (l, r) → l+r greedily left-to-right without
    * overlap: a sequential left fold that either fuses the incoming
    * symbol into the accumulator's last element or appends it. After
    * a fuse the last element is l+r, which can never equal l again
    * (r is non-empty), so "aaaa" under (a,a) correctly becomes
    * [aa, aa], not [aa, aa, a]-style overcounts. */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column =
    when(size(syms) < 2, syms).otherwise(
      aggregate(
        slice(syms, lit(2), size(syms) - 1),
        slice(syms, 1, 1),
        (acc, s) =>
          when(element_at(acc, -1) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(s)))))

  /** Train `k` merges over any (doc_id, text) frame. Returns the
    * ordered merge list (left, right, weighted pair count). */
  def trainMerges(docs: DataFrame, k: Int = 8): Seq[(String, String, Long)] = {
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    var tbl = keep(words
      .select(col("cnt"), charSyms(col("w")).as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    try {
      for (round <- 1 to k) {
        val best = tbl
          .select(col("cnt"), explode(pairStructs(col("syms"))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("pc"))
          .orderBy(col("pc").desc, col("l").asc, col("r").asc)
          .take(1)
        best.headOption match {
          case None => return merges.toSeq // every word fully merged
          case Some(row) =>
            val (l, r, pc) = (row.getString(0), row.getString(1), row.getLong(2))
            merges += ((l, r, pc))
            // materialize the merged table and cut lineage — the same
            // flat-plan iteration discipline as connectedComponents
            // (each round's fold would otherwise nest one level
            // deeper). Skipped after the FINAL merge: no later round
            // reads the table, so that materialization would be dead
            // work (applying the learned list is the encoder's job).
            if (round < k) {
              val next = graft.Checkpoints.cut(
                tbl.withColumn("syms", applyMerge(col("syms"), l, r)))
              tbl.unpersist()
              tbl = keep(next)
            }
        }
      }
      merges.toSeq
    } finally tbl.unpersist()
  }

  /** Driver-side memo of trained merge lists, keyed by parquet dir +
    * k — the same soundness argument as [[Ivf.trainCentroidsMemo]]:
    * training is bit-identical run to run (total-order argmax,
    * ordered folds), so for a fixed input the merge list is a pure
    * function of the parquet; memoizing changes nothing but cost, and
    * matches production (a tokenizer is trained once, then applied to
    * every shard). The memo holds k (string, string, long) triples. */
  private val mergeMemo =
    scala.collection.concurrent.TrieMap[String, Seq[(String, String, Long)]]()
  def trainMergesMemo(key: String, docs: => DataFrame, k: Int): Seq[(String, String, Long)] =
    mergeMemo.getOrElseUpdate(s"$key#$k", trainMerges(docs, k))

  /** One unrolled BPE training round, oracle-side: pair counts over
    * the previous symbol table (symbols space-joined in `seq` —
    * symbols never contain whitespace, words come from a \s+ split),
    * the total-order argmax, and the greedy merge fold as a per-word
    * recursive walk over symbol positions carrying (prefix, last)
    * state — fuse when (last, next) is the chosen pair, else emit.
    * The fold base LEFT JOINs best$r (not CROSS JOIN): when a round
    * finds no pairs (corpus exhausts merges before k), best$r is
    * empty, bl/br come through NULL, every fuse predicate is
    * non-true, and the walk passes the table through UNCHANGED —
    * mirroring the Spark trainer's early return — instead of
    * collapsing tbl$r (and every later round) to zero rows.
    * best/tbl are MATERIALIZED: each is read twice downstream, and
    * un-hinted re-inlining recomputes the whole prefix per reference
    * (measured 2.2 s → 0.1 s on the 31-word vocab). */
  private def bpeRoundCte(r: Int): String = {
    val prev = s"tbl${r - 1}"
    s"""
      pc$r AS (
        SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(cnt) AS BIGINT) AS pc
        FROM (SELECT cnt, syms, unnest(generate_series(1, len(syms)-1)) AS i
              FROM (SELECT cnt, string_split(seq, ' ') AS syms FROM $prev))
        GROUP BY 1, 2),
      best$r AS MATERIALIZED (SELECT l, r, pc FROM pc$r
        ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
      fold$r AS (
        SELECT t.seq AS src, t.cnt, 2 AS i, '' AS pre,
               string_split(t.seq, ' ')[1] AS last,
               len(string_split(t.seq, ' ')) AS n, b.l AS bl, b.r AS br
        FROM $prev t LEFT JOIN best$r b ON true
        UNION ALL
        SELECT src, cnt, i+1,
          CASE WHEN last = bl AND string_split(src, ' ')[i] = br THEN pre
               ELSE pre || CASE WHEN pre = '' THEN '' ELSE ' ' END || last END,
          CASE WHEN last = bl AND string_split(src, ' ')[i] = br THEN bl || br
               ELSE string_split(src, ' ')[i] END,
          n, bl, br
        FROM fold$r WHERE i <= n),
      tbl$r AS MATERIALIZED (
        SELECT cnt, CASE WHEN pre = '' THEN last ELSE pre || ' ' || last END AS seq
        FROM fold$r WHERE i = n + 1)"""
  }

  /** Shared oracle prefix: word counts, the char-split seed table,
    * and all `k` unrolled training rounds. */
  private def bpeOraclePrefix(k: Int): String =
    """WITH RECURSIVE
      words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents)
        WHERE w <> '' GROUP BY w),
      tbl0 AS MATERIALIZED (
        SELECT cnt, trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS seq
        FROM words),""" +
      (1 to k).map(bpeRoundCte).mkString(",")

  /** Driver query: the first 8 learned merges with their corpus
    * support, hash-oracled against the full unrolled DuckDB training
    * replay. Still self-checking: exactly k DISTINCT merges, every
    * one backed by a positive weighted pair count — a broken fold or
    * a nondeterministic argmax shows up as a short, duplicated or
    * zero-support merge list in the driver's `err` field before the
    * hash is even compared. */
  val bpeMerges: Q = Q(
    "q_bpe_merges",
    (s, dir) => {
      val k = 8
      val merges = trainMergesMemo(dir, t(s, dir, "documents"), k)
      Audit.check("BPE merges learned", merges.size, Audit.equal(k))
      Audit.check("BPE duplicate merges", k - merges.map(m => (m._1, m._2)).distinct.size,
        Audit.equal(0))
      Audit.check("BPE merges with non-positive support", merges.count(_._3 <= 0), Audit.equal(0))
      import s.implicits._
      merges.zipWithIndex
        .map { case ((l, r, pc), i) => (i + 1L, l, r, pc) }
        .toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    },
    Some(bpeOraclePrefix(8) + s""",
      merges AS (${(1 to 8).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, l AS left_sym, " +
          s"r AS right_sym, pc AS pair_count FROM best$r")
        .mkString("\n        UNION ALL ")})
      SELECT * FROM merges ORDER BY merge_rank"""))

  /** Tokenizer APPLICATION — encode the corpus with the learned merge
    * list. The scale-critical decision: merges are applied to the
    * DISTINCT-WORD table (vocabulary-sized, Zipf-bounded), then the
    * per-word token counts join back to the corpus word occurrences —
    * a 100 TB corpus is encoded at the cost of one explode + one
    * vocabulary hash-join, and the k merge folds never touch a
    * corpus-sized row. (Encoding each occurrence directly would run
    * the k-deep fold expression over every token of every document —
    * pure waste, since encoding is a function of the word alone.)
    *
    * Hash-oracled via the unrolled training replay (round 15) AND
    * the query still defends itself in one action
    * over the vocabulary frame: every encoded word must round-trip
    * (concat(symbols) == word — a broken fold can't hide), token
    * counts must lie in [1, n_chars], and at least one word must have
    * actually merged (else the merge list silently failed to apply).
    * BpeSpec pins per-word encodings against a sequential reference
    * encoder. */
  val bpeEncode: Q = Q(
    "q_bpe_encode",
    (s, dir) => {
      val k = 8
      val docs = t(s, dir, "documents")
      val merges = trainMergesMemo(dir, docs, k)
      val words = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val enc = keep(merges
        .foldLeft(words.groupBy("w").agg(count(lit(1)).as("cnt"))
          .withColumn("syms", charSyms(col("w")))) {
          case (df, (l, r, _)) => df.withColumn("syms", applyMerge(col("syms"), l, r))
        }
        .select(col("w"), col("cnt"),
          size(col("syms")).cast("long").as("n_bpe"),
          length(col("w")).cast("long").as("n_chars"),
          (concat_ws("", col("syms")) === col("w")).as("roundtrip_ok")))
      try {
        Audit.frame(enc,
          Audit.Check("BPE vocabulary words failing round-trip or token-count bounds",
            sum(when(!col("roundtrip_ok")
              || col("n_bpe") < 1L || col("n_bpe") > col("n_chars"), 1L)
              .otherwise(0L)), Audit.atMost(0)),
          Audit.Check("BPE vocabulary words compressed by a merge",
            sum(when(col("n_bpe") < col("n_chars"), 1L).otherwise(0L)), Audit.atLeast(1)))
        val out = keep(words.join(enc.select("w", "n_bpe", "n_chars"), "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_ws_tokens"),
            sum(col("n_bpe")).as("n_bpe_tokens"),
            sum(col("n_chars")).as("n_word_chars"))
          .orderBy("doc_id"))
        out.count() // materialize through the vocab cache before release
        out
      } finally enc.unpersist()
    },
    // the final round-8 table IS the fully encoded vocabulary (the
    // word is recoverable as the seq with separators removed), so the
    // encode oracle rides the same unrolled training replay
    Some(bpeOraclePrefix(8) + """,
      enc AS MATERIALIZED (
        SELECT replace(seq, ' ', '') AS w,
               CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_bpe
        FROM tbl8),
      dw AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents)
        WHERE w <> '')
      SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
             CAST(sum(enc.n_bpe) AS BIGINT) AS n_bpe_tokens,
             CAST(sum(length(dw.w)) AS BIGINT) AS n_word_chars
      FROM dw JOIN enc ON enc.w = dw.w
      GROUP BY dw.doc_id ORDER BY dw.doc_id"""))

  /** TOKENIZER FERTILITY AUDIT — pieces-per-word by language under
    * the LEARNED merge list: the "which languages does this vocab
    * tax" readout every multilingual tokenizer review starts from
    * (a vocab trained on one language's corpus over-segments the
    * others; fertility is the standard name for tokens/word). Uses
    * the same memoized k = 8 merge list as [[bpeEncode]], applied to
    * the distinct-word table once, then rolled up per document
    * language with occurrence weights.
    *
    * Hash-oracled via the unrolled training replay (round 15, like
    * [[bpeMerges]]/[[bpeEncode]]) and still self-defending:
    * the run ABORTS unless every language's fertility is ≥ 1
    * piece/word (segmentation soundness) and at least one language
    * compressed strictly below its character count (the merges did
    * real work). Scale shape: merge fold over the DISTINCT-WORD
    * table, hash join back to occurrences, language-domain rollup. */
  val bpeFertility: Q = Q(
    "q_bpe_fertility",
    (s, dir) => {
      val k = 8
      val docs = t(s, dir, "documents")
      val merges = trainMergesMemo(dir, docs, k)
      val words = docs
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "")
      val vocab = merges
        .foldLeft(words.groupBy("w").agg(count(lit(1)).as("cnt"))
          .withColumn("syms", charSyms(col("w")))) {
          case (df, (l, r, _)) => df.withColumn("syms", applyMerge(col("syms"), l, r))
        }
        .select(col("w"), size(col("syms")).cast("long").as("n_bpe"),
          length(col("w")).cast("long").as("n_chars"))
      val out = keep(words.join(vocab, "w")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_bpe")).as("n_pieces"),
          sum(col("n_chars")).as("n_word_chars"))
        .selectExpr("lang", "n_words", "n_pieces",
          "(1000000 * n_pieces) div n_words AS fertility_micro",
          "(1000000 * n_word_chars) div n_pieces AS chars_per_piece_micro")
        .orderBy("lang"))
      Audit.frame(out,
        Audit.Check("fertility languages below 1 piece per word",
          sum(when(col("fertility_micro") < 1000000L, 1L).otherwise(0L)), Audit.atMost(0)),
        Audit.Check("fertility languages compressed below raw characters",
          sum(when(col("chars_per_piece_micro") > 1000000L, 1L).otherwise(0L)),
          Audit.atLeast(1)))
      out
    },
    Some(bpeOraclePrefix(8) + """,
      enc AS MATERIALIZED (
        SELECT replace(seq, ' ', '') AS w,
               CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_bpe
        FROM tbl8),
      dw AS (
        SELECT lang, w FROM (
          SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents)
        WHERE w <> '')
      SELECT dw.lang, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(enc.n_bpe) AS BIGINT) AS n_pieces,
             CAST((1000000 * sum(enc.n_bpe)) // count(*) AS BIGINT)
               AS fertility_micro,
             CAST((1000000 * sum(length(dw.w))) // sum(enc.n_bpe) AS BIGINT)
               AS chars_per_piece_micro
      FROM dw JOIN enc ON enc.w = dw.w
      GROUP BY dw.lang ORDER BY dw.lang"""))

  val all: Seq[Q] = Seq(bpeMerges, bpeEncode, bpeFertility)
}
