package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.{keep, scoped}

/** Corpus-curation operators a training-data pipeline runs between raw
  * ingest and tokenization: boilerplate/stopword stripping, train/test
  * contamination detection, sequence packing, and a deterministic
  * seeded corpus shuffle.
  *
  * All four are fully oracled (the Spark∩DuckDB dialect can express
  * them end-to-end) and built from native expressions — higher-order
  * array functions (`filter`/`array_join`), window aggregates, and
  * hash joins. Zero UDFs, zero driver-side loops.
  *
  * Scale notes, per operator, are on each member. The common theme:
  * every shape here is a narrow scan plus at most one hash shuffle on
  * a derived key (fingerprint, shard, seeded hash) — nothing is
  * all-pairs and nothing funnels through the driver.
  */
object Curation {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Stopword/boilerplate strip: drop filler tokens and emit the
    * cleaned text's fingerprint plus kept/dropped counts.
    *
    * `filter` + `array_join` are Catalyst higher-order functions — the
    * lambda runs inside the row pipeline with no serialization
    * boundary, so at 100 TB this stays a single narrow scan stage
    * (only the declared ORDER BY shuffles, and a production pipeline
    * drops it). */
  val stopwordStrip: Q = Q(
    "q_stopword_strip",
    (s, dir) => {
      val tok = toks(col("text"))
      val kept = filter(tok, x => !x.isin("a", "the"))
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          size(kept).cast("long").as("n_kept"),
          (size(tok) - size(kept)).cast("long").as("n_dropped"),
          md5(array_join(kept, " ").cast("binary")).as("clean_sig"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x NOT IN ('a','the'))) AS BIGINT) AS n_kept,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) -
                  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x NOT IN ('a','the'))) AS BIGINT) AS n_dropped,
             md5(array_to_string(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                             x -> x NOT IN ('a','the')), ' ')) AS clean_sig
      FROM documents ORDER BY doc_id"""))

  /** Train/test contamination detection via offset-aligned content
    * fingerprints.
    *
    * The corpus is split train/test by the same deterministic
    * [[Sampling.hashBucket]] the split operator uses; three train
    * documents are re-planted into the test side (new ids) as known
    * leaks, so the query's output is non-vacuous and the oracle
    * recomputes the identical plant. Each document yields up to 8
    * md5 fingerprints of aligned 32-char windows; test fingerprints
    * hash-join train fingerprints and matches aggregate per test doc.
    *
    * Scale shape: fingerprinting is a scan (8 rows out per doc, 16
    * bytes each — constant bytes per document, never the text itself);
    * the join shuffles only (doc_id, fp) pairs on fp. This is the
    * cheap aligned first-pass contamination filter; unaligned
    * near-duplicate leakage is [[Dedup.minhashPairs]]'s job — the two
    * compose into the standard two-stage decontamination sweep. */
  val contamination: Q = Q(
    "q_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Sampling.hashBucket(col("doc_id"))
      val train = docs.where(bkt < 80).select("doc_id", "text")
      val planted = train.orderBy("doc_id").limit(3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val test = docs.where(bkt >= 90).select("doc_id", "text").unionAll(planted)
      def fps(df: DataFrame): DataFrame =
        df.select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("k"), col("text"))
          .where(length(col("text")) >= (col("k") + 1) * 32)
          .select(col("doc_id"),
            md5(expr("substr(text, k*32+1, 32)").cast("binary")).as("fp"))
          .distinct()
      fps(test).as("f")
        .join(fps(train).as("g"), "fp")
        .groupBy(col("f.doc_id").as("test_id"))
        .agg(countDistinct(col("g.doc_id")).as("n_train_docs"))
        .orderBy("test_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
                ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS bkt
        FROM documents),
      train AS (SELECT doc_id, text FROM b WHERE bkt < 80),
      planted AS (SELECT doc_id + 100000 AS doc_id, text FROM train ORDER BY doc_id LIMIT 3),
      test AS (SELECT doc_id, text FROM b WHERE bkt >= 90 UNION ALL SELECT * FROM planted),
      ks AS (SELECT k FROM generate_series(0, 7) s(k)),
      trainfp AS (SELECT DISTINCT t.doc_id, md5(substr(t.text, k.k*32+1, 32)) AS fp
                  FROM train t, ks k WHERE length(t.text) >= (k.k+1)*32),
      testfp AS (SELECT DISTINCT t.doc_id, md5(substr(t.text, k.k*32+1, 32)) AS fp
                 FROM test t, ks k WHERE length(t.text) >= (k.k+1)*32)
      SELECT f.doc_id AS test_id, CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_train_docs
      FROM testfp f JOIN trainfp g USING (fp)
      GROUP BY f.doc_id ORDER BY test_id"""))

  /** UNALIGNED decontamination: sliding word 13-gram overlap between
    * the test shard and the train shard — the second stage of the
    * standard two-stage sweep ([[contamination]]'s offset-aligned
    * fingerprints are the cheap first pass; this catches leaks that
    * any insertion/deletion shifts off the 32-char alignment grid).
    * The classic eval-decontamination rule (13-gram collision ⇒
    * flag) from the GPT-3/PaLM data pipelines.
    *
    * Three train documents are re-planted into the test side with a
    * one-token prefix — deliberately constructed so EVERY aligned
    * window misses (the prefix shifts all byte offsets) while their
    * interior 13-grams still collide: the query proves the unaligned
    * pass catches exactly what the aligned pass cannot.
    *
    * Scale shape: each doc emits (tokens − 12) 16-byte gram digests —
    * linear in corpus tokens, never the text itself; the join
    * shuffles (doc_id, digest) keyed on the digest, so skewed
    * boilerplate grams are AQE skew-split. At 100 TB the digest would
    * be xxhash64 (8 bytes, no hex); md5 here because the oracle needs
    * an engine-portable hash, same shape. */
  val ngramContamination: Q = Q(
    "q_ngram_contamination",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val bkt = Sampling.hashBucket(col("doc_id"))
      val train = docs.where(bkt < 80).select("doc_id", "text")
      val planted = train.orderBy("doc_id").limit(3)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(lit("leadshift "), col("text")).as("text"))
      val test = docs.where(bkt >= 90).select("doc_id", "text").unionAll(planted)
      val n = 13
      def grams(df: DataFrame): DataFrame =
        df.select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
          .where(size(col("w")) >= n)
          .select(col("doc_id"),
            explode(transform(sequence(lit(0), size(col("w")) - n),
              i => md5(concat_ws(" ", slice(col("w"), i + lit(1), lit(n)))
                .cast("binary")))).as("g"))
          .distinct()
      grams(test).as("f")
        .join(grams(train).as("tr"), col("f.g") === col("tr.g"))
        .groupBy(col("f.doc_id").as("test_id"))
        .agg(countDistinct(col("f.g")).as("n_hit_grams"),
          countDistinct(col("tr.doc_id")).as("n_train_docs"))
        .orderBy("test_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
                ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS bkt
        FROM documents),
      train AS (SELECT doc_id, text FROM b WHERE bkt < 80),
      planted AS (SELECT doc_id + 200000 AS doc_id, 'leadshift ' || text AS text
                  FROM train ORDER BY doc_id LIMIT 3),
      test AS (SELECT doc_id, text FROM b WHERE bkt >= 90 UNION ALL SELECT * FROM planted),
      tw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM train),
      sw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM test),
      traing AS (SELECT DISTINCT t.doc_id,
                        md5(array_to_string(t.w[s.k+1:s.k+13], ' ')) AS g
                 FROM tw t, unnest(generate_series(0, len(t.w) - 13)) AS s(k)),
      testg AS (SELECT DISTINCT t.doc_id,
                       md5(array_to_string(t.w[s.k+1:s.k+13], ' ')) AS g
                FROM sw t, unnest(generate_series(0, len(t.w) - 13)) AS s(k))
      SELECT f.doc_id AS test_id,
             CAST(count(DISTINCT f.g) AS BIGINT) AS n_hit_grams,
             CAST(count(DISTINCT g2.doc_id) AS BIGINT) AS n_train_docs
      FROM testg f JOIN traing g2 ON f.g = g2.g
      GROUP BY f.doc_id ORDER BY test_id"""))

  /** Sequence packing: concat-and-split documents into fixed token
    * budgets, the standard LM-pretraining packing scheme. Documents
    * are streamed per source shard in doc_id order; a running token
    * total assigns each document to pack `floor(prefix/budget)`.
    *
    * One window shuffle partitioned by the shard key — pack ids never
    * coordinate across shards, so 100 TB packs with shard-level
    * parallelism and no global sort. (A global packing order would
    * serialize the corpus through one partition; per-shard is what
    * production pipelines do.) */
  val packSequences: Q = Q(
    "q_pack_sequences",
    (s, dir) => {
      val n = size(toks(col("text"))).cast("long")
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), n.as("n_tok"))
        .withColumn("pack_id",
          floor((sum(col("n_tok")).over(w) - col("n_tok")) / 256.0).cast("long"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
        .orderBy("source", "pack_id")
    },
    Some("""
      SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      FROM (
        SELECT source, doc_id, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                    / 256.0) AS BIGINT) AS pack_id
        FROM (SELECT source, doc_id,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
              FROM documents)
      ) GROUP BY source, pack_id ORDER BY source, pack_id"""))

  /** Deterministic seeded corpus shuffle: order the corpus by the md5
    * of a seed + key. Reproducible across engines, re-runs, and
    * backfills (pure function of the key — no rand(), no persisted
    * permutation table), and changing the seed literal is a full
    * reshuffle.
    *
    * At scale this is exactly a distributed range-partitioned sort on
    * a uniform key — the best case for Spark's sort machinery, and the
    * uniformity of md5 guarantees balanced range partitions. No global
    * row_number (that would funnel 100 TB through one window
    * partition); training readers consume the sorted files in order. */
  val corpusShuffle: Q = Q(
    "q_corpus_shuffle",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("s42:"), col("doc_id").cast("string")).cast("binary"))
            .as("shuffle_key"))
        .orderBy("shuffle_key", "doc_id"),
    Some("""
      SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents ORDER BY shuffle_key, doc_id"""))

  /** The composed curation pipeline a training run actually executes:
    * language filter → token-count quality gate → exact dedup (keep
    * the lowest doc_id per distinct text) → deterministic train/
    * valid/test split → per-split document and token totals.
    *
    * Each stage is an operator proven elsewhere in this module /
    * [[Sampling]] / [[Dedup]]; this query pins that they COMPOSE —
    * same filters, same hash split, one declarative plan. Shape at
    * 100 TB: scan-filter (pushed predicates) → one dedup shuffle on
    * the text hash → map-side-combinable split aggregate. No stage
    * funnels through the driver. */
  val curationPipeline: Q = Q(
    "q_curation_pipeline",
    (s, dir) => {
      val nTok = size(toks(col("text"))).cast("long")
      val kept = t(s, dir, "documents")
        .where(col("lang") === "en")
        .select(col("doc_id"), col("text"), nTok.as("n_tok"))
        .where(col("n_tok").between(10, 1000))
      val deduped = kept
        .groupBy(md5(col("text").cast("binary")).as("sig"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("n_tok")).as("n_tok"))
      val b = Sampling.hashBucket(col("doc_id"))
      val split = when(b < 80, "train").when(b < 90, "valid").otherwise("test")
      deduped.select(split.as("split"), col("n_tok"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
        .orderBy("split")
    },
    Some("""
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS sum_tokens
      FROM (
        SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'valid'
                    ELSE 'test' END AS split, n_tok
        FROM (
          SELECT doc_id, n_tok,
                 (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256 +
                  ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100 AS b
          FROM (
            SELECT min(doc_id) AS doc_id, min(n_tok) AS n_tok
            FROM (
              SELECT doc_id, text,
                     CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
              FROM documents WHERE lang = 'en'
            ) WHERE n_tok BETWEEN 10 AND 1000
            GROUP BY md5(text)
          )
        )
      ) GROUP BY split ORDER BY split"""))

  /** PII redaction: regex-scrub emails then digit runs, emitting
    * redaction counts and the cleaned text's fingerprint. The corpus
    * is synthetic and clean, so deterministic "PII" is PLANTED first
    * (an email and a numeric ref derived from doc_id, identically on
    * both engines) — every row exercises both patterns, so the hash
    * check is non-vacuous on every document.
    *
    * Patterns stay in the Java∩RE2 common subset (character classes,
    * `+`) so Spark and DuckDB agree byte-for-byte. Shape: pure narrow
    * scan — regexp_replace is codegen'd per row, nothing shuffles but
    * the declared ORDER BY. */
  val redactPii: Q = Q(
    "q_redact_pii",
    (s, dir) => {
      val email = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
      val dirty = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com ref "),
        (col("doc_id") * 7).cast("string"))
      val clean = regexp_replace(
        regexp_replace(dirty, email, "<EMAIL>"), "[0-9]+", "<NUM>")
      t(s, dir, "documents")
        .select(col("doc_id"),
          (size(split(dirty, email)) - 1).cast("long").as("n_emails"),
          length(clean).cast("long").as("clean_len"),
          md5(clean.cast("binary")).as("clean_sig"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CAST(len(regexp_split_to_array(d, '[A-Za-z0-9.]+@[A-Za-z0-9.]+')) - 1 AS BIGINT) AS n_emails,
             CAST(length(regexp_replace(regexp_replace(d, '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                                        '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS clean_len,
             md5(regexp_replace(regexp_replace(d, '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
                                '[0-9]+', '<NUM>', 'g')) AS clean_sig
      FROM (
        SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
               '@example.com ref ' || CAST(doc_id * 7 AS VARCHAR) AS d
        FROM documents
      ) ORDER BY doc_id"""))

  /** Corpus bigram statistics, top-50 — the n-gram LM / collocation
    * primitive. Bigrams are built in-row from consecutive tokens (a
    * narrow transform; nothing joins on position), then counted by
    * the same vocabulary-not-corpus two-level aggregate as
    * [[TextStats.vocabTopK]]. The oracle reconstructs the identical
    * pairs via unnested start positions + 1-based list indexing — a
    * different formulation that must agree bigram-for-bigram. */
  val bigramTopK: Q = Q(
    "q_bigram_topk",
    (s, dir) =>
      t(s, dir, "documents")
        // fused byte-pass expression — the declarative HOF form
        // (transform + 2×element_at per bigram) ran on the
        // interpreted path and was this query's entire cost; see
        // [[graft.functions.WordBigrams]] (equivalence spec'd)
        .select(explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(50),
    Some("""
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      c AS (
        SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM d)
      SELECT toks[i] || ' ' || toks[i + 1] AS bigram,
             CAST(count(*) AS BIGINT) AS cnt
      FROM c GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 50"""))

  /** PMI-scored collocations — pointwise mutual information
    * ln(p(xy)/(p(x)p(y))) over in-row consecutive-token bigrams, the
    * phrase-mining primitive behind tokenizer vocab curation and
    * Word2Phrase-style preprocessing (raw bigram counts surface "of
    * the"; PMI surfaces the genuinely associated pairs).
    *
    * Determinism: PMI factors as ln((c_xy·N_uni)/(c_x·c_y)) +
    * ln(N_uni/N_big) so every BIGINT product stays within the
    * ~3·10⁹-token envelope (the [[TextStats.klDivergence]] class —
    * the naive single-ratio form c_xy·N_uni² overflows at ~10⁹
    * tokens); both engines evaluate the identical two-ln expression
    * and round once to integer micro-nats. Ties break on the bigram
    * string. A min-count floor of 5 keeps the estimator out of the
    * noise floor (PMI of singletons is maximal by construction).
    *
    * Scale shape: bigram and unigram counts are the
    * vocabulary-not-corpus two-level aggregates of [[bigramTopK]] /
    * [[TextStats.vocabTopK]]; the count joins are vocabulary-keyed;
    * the global totals ride two 1-row broadcasts; top-30 is
    * TakeOrderedAndProject. Nothing corpus-sized shuffles. */
  private[graft] def pmiOf(docs: DataFrame): DataFrame = {
      val big = docs
        .select(explode(graft.functions.WordBigrams(col("text"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
      val uni = docs
        .select(explode(toks(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val nb = big.agg(sum(col("cnt")).as("n_big"))
      val nu = uni.agg(sum(col("c")).as("n_uni"))
      big.filter(col("cnt") >= 5)
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
        .join(uni.select(col("tok").as("x"), col("c").as("cx")), "x")
        .join(uni.select(col("tok").as("y"), col("c").as("cy")), "y")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .withColumn("pmi_micro",
          round((log((col("cnt") * col("n_uni")).cast("double") /
              (col("cx") * col("cy")).cast("double")) +
            log(col("n_uni").cast("double") / col("n_big").cast("double"))) *
            lit(1000000.0), 0).cast("long"))
        .select("bigram", "cnt", "cx", "cy", "pmi_micro")
        .orderBy(col("pmi_micro").desc, col("bigram").asc)
        .limit(30)
  }

  val pmiCollocations: Q = Q(
    "q_pmi_bigrams",
    (s, dir) => pmiOf(t(s, dir, "documents")),
    Some("""
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents),
      big AS (
        SELECT toks[i] || ' ' || toks[i + 1] AS bigram,
               CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM d)
        GROUP BY 1),
      uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok),
      nb AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_big FROM big),
      nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni)
      SELECT bigram, cnt, cx.c AS cx, cy.c AS cy,
             CAST(round((ln(CAST(cnt * n_uni AS DOUBLE) /
                            CAST(cx.c * cy.c AS DOUBLE)) +
                         ln(CAST(n_uni AS DOUBLE) / CAST(n_big AS DOUBLE))) *
                        1000000.0) AS BIGINT) AS pmi_micro
      FROM big
      JOIN uni cx ON cx.tok = split_part(bigram, ' ', 1)
      JOIN uni cy ON cy.tok = split_part(bigram, ' ', 2)
      CROSS JOIN nb CROSS JOIN nu
      WHERE cnt >= 5
      ORDER BY pmi_micro DESC, bigram ASC LIMIT 30"""))

  /** Document chunking: overlapping 50-token windows with stride 40
    * (10-token overlap) — the RAG / long-context ingestion primitive.
    * Chunk count is pure integer arithmetic
    * (⌈max(n−50,0)/40⌉ + 1, computed with `div` so both engines
    * agree exactly); each chunk is a per-row array slice — a narrow
    * Generate, no shuffle beyond the declared ORDER BY, so chunking
    * a 100 TB corpus is a single scan-shaped pass. Output carries
    * each chunk's token count and content fingerprint, so the hash
    * pins boundaries, overlap, and the short-tail chunk behavior. */
  val chunkDocs: Q = Q(
    "q_chunk_docs",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), toks(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("chunk_id",
          explode(sequence(lit(1), expr("((greatest(n - 50, 0) + 39) div 40) + 1"))))
        .withColumn("chunk",
          concat_ws(" ", slice(col("toks"), (col("chunk_id") - 1) * 40 + 1, lit(50))))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(split(col("chunk"), " ")).cast("long").as("n_chunk_tokens"),
          md5(col("chunk").cast("binary")).as("chunk_sig"))
        .orderBy("doc_id", "chunk_id"),
    Some("""
      WITH d AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
               len(regexp_split_to_array(trim(text), '\s+')) AS n
        FROM documents),
      c AS (
        SELECT doc_id, toks,
               unnest(range(1, ((greatest(n - 50, 0) + 39) // 40) + 2)) AS chunk_id
        FROM d)
      SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
             CAST(len(list_slice(toks, (chunk_id - 1) * 40 + 1,
                                 (chunk_id - 1) * 40 + 50)) AS BIGINT) AS n_chunk_tokens,
             md5(array_to_string(list_slice(toks, (chunk_id - 1) * 40 + 1,
                                            (chunk_id - 1) * 40 + 50), ' ')) AS chunk_sig
      FROM c ORDER BY doc_id, chunk_id"""))

  /** Unicode NFC normalization via the custom
    * [[graft.functions.NfcNormalize]] expression (Spark has no
    * built-in normalizer; byte-keyed dedup/fingerprinting treats
    * composed é and decomposed e+U+0301 as different documents unless
    * this pass runs first). The corpus is ASCII, so the query
    * decorates every doc with a decomposed suffix — the oracle's
    * `nfc_normalize` must agree on the char collapse AND the md5 of
    * the normalized bytes, which makes the expression's output
    * hash-checked end-to-end, not just its length arithmetic. */
  val normalizeText: Q = Q(
    "q_normalize_text",
    (s, dir) =>
      t(s, dir, "documents")
        // "e" + U+0301 combining acute: two code points that NFC
        // composes into one
        .select(col("doc_id"), concat(col("text"), lit(" caf"), lit("e\u0301")).as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("chars_raw"),
          graft.functions.NfcNormalize(col("raw")).as("norm"))
        .select(col("doc_id"), col("chars_raw"),
          length(col("norm")).cast("long").as("chars_nfc"),
          md5(col("norm").cast("binary")).as("nfc_md5"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(length(raw) AS BIGINT) AS chars_raw,
             CAST(length(nfc_normalize(raw)) AS BIGINT) AS chars_nfc,
             md5(nfc_normalize(raw)) AS nfc_md5
      FROM (SELECT doc_id, text || ' caf' || 'e' || chr(769) AS raw FROM documents)
      ORDER BY doc_id"""))

  /** Corpus-level segment dedup (the cross-document analog of C4's
    * line dedup): every non-overlapping 10-token segment is kept at
    * its FIRST occurrence in corpus order and dropped everywhere
    * else — including repeats later in the same document. The harness
    * corpus has no verbatim cross-doc segments, so the query plants 5
    * exact document copies (`doc_id + 1000000`); keep-first must drop
    * every segment of every copy, and the oracle hash pins that
    * together with each original's untouched fingerprint.
    *
    * Scale shape: explode to segments → ONE hash shuffle keyed by the
    * segment digest (the same key exact dedup shuffles on; ownership
    * is a `min` over the occurrence position, map-side combinable) →
    * one groupBy back to documents. Nothing is all-pairs and the
    * segment text itself never rides the ownership shuffle — only the
    * 16-byte digest and a position long do. */
  val segmentDedup: Q = Q(
    "q_segment_dedup",
    (s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val d = base.unionAll(copies)
      val segs = d
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .withColumn("n_segs", floor(size(col("tk")) / 10).cast("long"))
        .filter(col("n_segs") > 0)
        .select(col("doc_id"), col("tk"), col("n_segs"),
          explode(sequence(lit(0L), col("n_segs") - 1)).as("seg_idx"))
        .select(col("doc_id"), col("seg_idx"),
          md5(array_join(
            slice(col("tk"), (col("seg_idx") * 10 + 1).cast("int"), lit(10)), " ")
            .cast("binary")).as("h"))
        .withColumn("pos", col("doc_id") * 1000000L + col("seg_idx"))
      val firstPos = min(col("pos")).over(Window.partitionBy(col("h")))
      segs
        .withColumn("kept", col("pos") === firstPos)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("n_dup"),
          md5(array_join(
            transform(
              array_sort(collect_list(when(col("kept"),
                struct(col("seg_idx"), col("h"))))),
              x => x.getField("h")), " ").cast("binary")).as("clean_sig"))
        .orderBy("doc_id")
    },
    Some("""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 5),
      tokd AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        FROM base),
      segs AS (
        SELECT doc_id, seg_idx,
               md5(array_to_string(list_slice(tk, seg_idx * 10 + 1, seg_idx * 10 + 10), ' ')) AS h,
               doc_id * 1000000 + seg_idx AS pos
        FROM (SELECT doc_id, tk,
                     unnest(range(CAST(len(tk) // 10 AS BIGINT))) AS seg_idx
              FROM tokd
              WHERE len(tk) >= 10)),
      owned AS (
        SELECT doc_id, seg_idx, h,
               pos = min(pos) OVER (PARTITION BY h) AS kept
        FROM segs)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
             CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
             md5(coalesce(string_agg(CASE WHEN kept THEN h END, ' ' ORDER BY seg_idx), '')) AS clean_sig
      FROM owned GROUP BY doc_id ORDER BY doc_id"""))

  /** Curriculum ordering: interleave difficulty quartiles so every
    * training window sees a mix of short and long documents — the
    * deterministic "curriculum shuffle" between a pure
    * easy-to-hard sort (which starves late training of easy examples)
    * and a random shuffle (which ignores difficulty entirely).
    *
    * Difficulty here = token count (the cheap universal proxy);
    * quartile = ntile(4) semantics under the total order (n_tokens,
    * doc_id), then position = (rank_within_quartile − 1)·4 + quartile.
    *
    * Scale shape: the naive spelling — `ntile(4)` over an
    * unpartitioned window — executes in a SINGLE task (Spark does not
    * distribute a global window), so it is exactly the plan that dies
    * at 1 B documents. Instead the global rank r comes from
    * [[graft.ops.Ranks.globalOrder]] (range-partitioned sort + local
    * rank + broadcast partition offsets — fully distributed), and
    * both the quartile and the within-quartile rank are pure
    * ARITHMETIC on r given the broadcast total N: with base = N div 4
    * and rem = N mod 4 (ntile gives the first rem buckets base+1
    * rows), bucket(r) is a two-case integer division and the bucket's
    * start offset is (b−1)·base + min(b−1, rem). No corpus-sized
    * window anywhere in the plan (guarded in PlanSpec); everything is
    * integer → full hash oracle, identical to the ntile spelling the
    * DuckDB oracle still uses. */
  /** The curriculum-ordered corpus frame (doc_id, n_tokens, bucket,
    * pos) shared by [[curriculumOrder]] (emit the schedule) and
    * [[curriculumWrite]] (materialize the layout). `pos` is a dense
    * permutation of 1..N — the interleave guarantees every length-4
    * window of the order touches all four difficulty quartiles. */
  private[graft] def curriculumOrdered(s: SparkSession, dir: String): DataFrame = {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      val tot = docs.agg(count(lit(1)).as("n_tot"))
      val ranked = graft.ops.Ranks.globalOrder(docs,
        Seq(col("n_tokens").asc, col("doc_id").asc), "r")
      ranked.crossJoin(broadcast(tot))
        .withColumn("base", expr("n_tot div 4"))
        .withColumn("rem", col("n_tot") % 4)
        // ntile(4): first `rem` buckets hold base+1 rows, the rest base
        .withColumn("bucket",
          when(col("r") <= col("rem") * (col("base") + 1L),
            expr("(r - 1) div (base + 1)") + 1L)
            .otherwise(col("rem") + expr("(r - rem * (base + 1) - 1) div base") + 1L))
        .withColumn("pos",
          (col("r") - (col("bucket") - 1L) * col("base")
            - least(col("bucket") - 1L, col("rem")) - 1L) * 4L + col("bucket"))
        .select(col("doc_id"), col("n_tokens"), col("bucket"), col("pos"))
  }

  val curriculumOrder: Q = Q(
    "q_curriculum_order",
    (s, dir) => curriculumOrdered(s, dir).orderBy("pos"),
    Some("""
      WITH sized AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      bucketed AS (
        SELECT doc_id, n_tokens,
               CAST(ntile(4) OVER (ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT) AS bucket
        FROM sized)
      SELECT doc_id, n_tokens, bucket,
             CAST((row_number() OVER (PARTITION BY bucket
                     ORDER BY n_tokens ASC, doc_id ASC) - 1) * 4 + bucket AS BIGINT) AS pos
      FROM bucketed ORDER BY pos"""))

  /** Materialize the curriculum as a physical LAYOUT: range-partition
    * the ordered corpus on `pos` and sort within partitions, so each
    * output file owns one contiguous slice of the training order — the
    * trainer streams files in name-order and replays the curriculum
    * with zero read-time shuffle. Same shuffle-to-layout device as
    * [[graft.ops.Layout.zorderWrite]] (range partition + in-partition
    * sort), applied to the 1-D training-position key; at 100 TB
    * `numFiles` becomes thousands and each range-partition task writes
    * one bounded file. The per-file contiguity/coverage invariant is
    * pinned in CurationSpec via `input_file_name()`. */
  def writeCurriculum(ordered: DataFrame, path: String, numFiles: Int): Unit =
    ordered
      .repartitionByRange(numFiles, col("pos"))
      .sortWithinPartitions("pos")
      .write.mode("overwrite").parquet(path)

  /** Driver query for [[writeCurriculum]]: write the layout, read it
    * BACK, and aggregate per difficulty quartile. The result is
    * layout-invariant — the oracle computes the same per-bucket stats
    * from the raw table with the ntile spelling — so the hash match
    * proves the shuffle-to-layout round trip is lossless end to end
    * (source → distributed rank → range-partitioned write → scan). */
  val curriculumWrite: Q = Q(
    "q_curriculum_write",
    (s, dir) => {
      val out = graft.Staging.keyed(s, "graft_curriculum_layout", dir)
      writeCurriculum(curriculumOrdered(s, dir), out, 8)
      s.read.parquet(out)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"))
        .orderBy("bucket")
    },
    Some("""
      WITH sized AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents),
      bucketed AS (
        SELECT doc_id, n_tokens,
               CAST(ntile(4) OVER (ORDER BY n_tokens ASC, doc_id ASC) AS BIGINT) AS bucket
        FROM sized),
      positioned AS (
        SELECT bucket, n_tokens,
               CAST((row_number() OVER (PARTITION BY bucket
                       ORDER BY n_tokens ASC, doc_id ASC) - 1) * 4 + bucket AS BIGINT) AS pos
        FROM bucketed)
      SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
             CAST(min(pos) AS BIGINT) AS min_pos,
             CAST(max(pos) AS BIGINT) AS max_pos
      FROM positioned GROUP BY bucket ORDER BY bucket"""))

  /** Span-corruption masking schedule (the T5/BERT denoising
    * data-prep primitive): each token flips an independent
    * deterministic 15% coin — md5 of (doc_id, position), so the mask
    * REPLAYS identically on any engine or rerun (the property that
    * makes corruption auditable: a training example can be
    * reconstructed bit-exactly from raw data + this rule). Emits the
    * per-document schedule stats: tokens, masked count, SPAN count
    * (runs of consecutive masked tokens — a lag window over token
    * positions within the doc), and masked permille.
    *
    * Scale shape: one explode, one per-doc window (partitioned by
    * doc_id — no global sort), one aggregate; all integers → full
    * hash oracle. */
  val spanCorruption: Q = Q(
    "q_span_corruption",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(trim(col("text")), "\\s+")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"))
      val hex = md5(concat(col("doc_id").cast("string"), lit(":"),
        col("pos").cast("string")).cast("binary"))
      val coin = (ascii(substring(hex, 1, 1)) * 256 +
        ascii(substring(hex, 2, 1))) % 100
      val w = Window.partitionBy("doc_id").orderBy("pos")
      toks
        .withColumn("m", (coin < 15).cast("long"))
        .withColumn("span_start",
          (col("m") === 1 &&
            coalesce(lag(col("m"), 1).over(w), lit(0L)) === 0).cast("long"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("m")).as("n_masked"),
          sum(col("span_start")).as("n_spans"))
        .select(col("doc_id"), col("n_tokens"), col("n_masked"), col("n_spans"),
          expr("(n_masked * 1000) div n_tokens").as("mask_permille"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) - 1 AS BIGINT) AS pos
        FROM documents),
      coined AS (
        SELECT doc_id, pos,
               CASE WHEN (ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 1)) * 256 +
                          ascii(substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 2, 1))) % 100 < 15
                    THEN 1 ELSE 0 END AS m
        FROM toks),
      flagged AS (
        SELECT doc_id, m,
               CASE WHEN m = 1 AND coalesce(lag(m, 1) OVER (PARTITION BY doc_id ORDER BY pos), 0) = 0
                    THEN 1 ELSE 0 END AS span_start
        FROM coined)
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(m) AS BIGINT) AS n_masked,
             CAST(sum(span_start) AS BIGINT) AS n_spans,
             CAST(sum(m) * 1000 // count(*) AS BIGINT) AS mask_permille
      FROM flagged GROUP BY doc_id ORDER BY doc_id"""))

  /** DSIR-style importance scoring for data selection (Data Selection
    * via Importance Resampling, Xie et al. 2023 — the public
    * domain-targeting recipe): every document in the RAW pool is
    * scored by its log-likelihood ratio under an add-1-smoothed
    * unigram LM of the TARGET domain versus one of the raw pool, and
    * the top-k highest-importance documents are selected — "find raw
    * web text that looks like the target domain". The target shard is
    * a deterministic md5 coin on `doc_id` (hex chars 15–16, a ~1/4
    * slice — positions disjoint from every other coin in the repo),
    * standing in for the curated domain corpus a production run would
    * supply.
    *
    * Determinism: the repo's micro-nat recipe — each token contributes
    * round(1e6·ln((ct+1)(Nr+V) / ((cr+1)(Nt+V)))) computed from exact
    * BIGINT cross products (one IEEE ln + one rounding per term, in
    * identical order on both engines), summed as BIGINT per document;
    * ties on the integer score break by doc_id. Same ~3·10⁹-token
    * envelope as [[TextStats.klDivergence]] before the cross products
    * need the ln-sum rearrangement.
    *
    * Scale shape: one token aggregate whose shuffle carries the
    * VOCABULARY (never the corpus), a vocabulary-sized join back to
    * raw tokens, a 1-row stats broadcast, and TakeOrderedAndProject
    * for the top-k — no all-pairs stage, nothing driver-side. */
  /** Per-document DSIR importance scores over the raw (non-target)
    * pool — the shared front of [[dsirSelect]] (top-k) and
    * [[importanceResample]] (weight-proportional acceptance).
    * Returns (doc_id, n_tokens, importance_micro). */
  private[llm] def dsirScores(s: SparkSession, dir: String): DataFrame = {
    val hex = md5(col("doc_id").cast("string").cast("binary"))
    val isTarget = ((ascii(substring(hex, 15, 1)) * 256 +
      ascii(substring(hex, 16, 1))) % 4 === 0)
    val toksAll = t(s, dir, "documents")
      .select(col("doc_id"), isTarget.as("is_target"),
        explode(toks(col("text"))).as("tok"))
    val counts = toksAll.groupBy("tok").agg(
      count(when(col("is_target"), 1)).as("ct"),
      count(when(!col("is_target"), 1)).as("cr"))
    val stats = counts.agg(count(lit(1)).as("vocab_n"),
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    toksAll.filter(!col("is_target"))
      .join(counts, Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(log(((col("ct") + 1) * (col("nr") + col("vocab_n"))).cast("double") /
            ((col("cr") + 1) * (col("nt") + col("vocab_n"))).cast("double")) *
          1e6, 0).cast("long").as("term_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("term_micro")).as("importance_micro"))
  }

  val dsirSelect: Q = Q(
    "q_dsir_select",
    (s, dir) =>
      dsirScores(s, dir)
        .orderBy(col("importance_micro").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("n_tokens"), col("importance_micro"),
          (col("importance_micro").cast("double") / 1e6).as("importance_nats")),
    Some("""
      WITH coined AS (
        SELECT doc_id, text,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 15, 1)) * 256 +
                ascii(substr(md5(CAST(doc_id AS VARCHAR)), 16, 1))) % 4 = 0 AS is_target
        FROM documents),
      tok AS (
        SELECT doc_id, is_target,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM coined),
      counts AS (
        SELECT tok,
               CAST(count(CASE WHEN is_target THEN 1 END) AS BIGINT) AS ct,
               CAST(count(CASE WHEN NOT is_target THEN 1 END) AS BIGINT) AS cr
        FROM tok GROUP BY tok),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS vocab_n,
               CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
        FROM counts),
      scored AS (
        SELECT t.doc_id,
               CAST(round(ln(CAST((c.ct + 1) * (nr + vocab_n) AS DOUBLE) /
                              CAST((c.cr + 1) * (nt + vocab_n) AS DOUBLE)) * 1e6)
                 AS BIGINT) AS term_micro
        FROM tok t JOIN counts c ON t.tok = c.tok CROSS JOIN stats
        WHERE NOT t.is_target)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(term_micro) AS BIGINT) AS importance_micro,
             CAST(sum(term_micro) AS DOUBLE) / 1e6 AS importance_nats
      FROM scored GROUP BY doc_id
      ORDER BY importance_micro DESC, doc_id LIMIT 100"""))

  /** DSIR importance RESAMPLING — the paper's actual selection rule
    * (top-k is the simplification): each raw-pool document is
    * accepted with probability proportional to its importance weight
    * exp(importance), capped at 1. Deterministic acceptance: the
    * per-mille threshold is round(1000·exp(imp_nats)) — one IEEE exp
    * + one rounding on the exact micro-nat integer, the same
    * both-engines contract as the repo's micro-nat ln terms — and the
    * coin is an md5 per-mille on hex chars 13–14 (positions disjoint
    * from every other coin in the repo), so both engines accept the
    * identical document set and the hash pins the whole rule.
    *
    * Scale shape: [[dsirScores]]'s vocabulary-shuffle scoring plus a
    * per-row coin compare — no new shuffle, no driver round trip; a
    * 100 TB raw pool resamples in the same pass that scores it. */
  val importanceResample: Q = Q(
    "q_importance_resample",
    (s, dir) => {
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val coin = (ascii(substring(hex, 13, 1)) * 256 +
        ascii(substring(hex, 14, 1))) % 1000
      dsirScores(s, dir)
        .withColumn("accept_permille",
          // cap in NAT space before exp: any importance ≥ 0 already
          // means certain acceptance, and exp of a large positive
          // importance would overflow to Infinity — which Spark's
          // cast caps but DuckDB's raises on, a cross-engine
          // divergence. exp(≤0) ≤ 1 can never overflow.
          least(lit(1000L),
            round(exp(least(col("importance_micro"), lit(0L)).cast("double") / 1e6)
              * 1000.0, 0).cast("long")))
        .withColumn("coin", coin.cast("long"))
        .filter(col("coin") < col("accept_permille"))
        .select(col("doc_id"), col("n_tokens"), col("importance_micro"),
          col("accept_permille"), col("coin"))
        .orderBy("doc_id")
    },
    Some("""
      WITH coined AS (
        SELECT doc_id, text,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 15, 1)) * 256 +
                ascii(substr(md5(CAST(doc_id AS VARCHAR)), 16, 1))) % 4 = 0 AS is_target
        FROM documents),
      tok AS (
        SELECT doc_id, is_target,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM coined),
      counts AS (
        SELECT tok,
               CAST(count(CASE WHEN is_target THEN 1 END) AS BIGINT) AS ct,
               CAST(count(CASE WHEN NOT is_target THEN 1 END) AS BIGINT) AS cr
        FROM tok GROUP BY tok),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS vocab_n,
               CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
        FROM counts),
      scored AS (
        SELECT t.doc_id,
               CAST(round(ln(CAST((c.ct + 1) * (nr + vocab_n) AS DOUBLE) /
                              CAST((c.cr + 1) * (nt + vocab_n) AS DOUBLE)) * 1e6)
                 AS BIGINT) AS term_micro
        FROM tok t JOIN counts c ON t.tok = c.tok CROSS JOIN stats
        WHERE NOT t.is_target),
      docs AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(term_micro) AS BIGINT) AS importance_micro
        FROM scored GROUP BY doc_id),
      gated AS (
        SELECT doc_id, n_tokens, importance_micro,
               least(1000, CAST(round(exp(CAST(least(importance_micro, 0) AS DOUBLE)
                                          / 1e6) * 1000.0) AS BIGINT)) AS accept_permille,
               CAST((ascii(substr(md5(CAST(doc_id AS VARCHAR)), 13, 1)) * 256 +
                     ascii(substr(md5(CAST(doc_id AS VARCHAR)), 14, 1))) % 1000
                 AS BIGINT) AS coin
        FROM docs)
      SELECT doc_id, n_tokens, importance_micro, accept_permille, coin
      FROM gated WHERE coin < accept_permille ORDER BY doc_id"""))

  /** DoReMi-style domain reweighting (Xie et al. 2023, the
    * group-DRO-lite form): per-SOURCE pretraining mixture weights
    * proportional to exp(excess loss) under a fixed reference model —
    * domains the reference finds surprising get upweighted, easy/
    * boilerplate domains shrink. Reference model = add-one unigram LM
    * trained on an md5-parity half of the corpus (same deterministic
    * shard coin as q_kl_divergence); every document is scored and
    * aggregated per source.
    *
    * Exactness: per-token surprisal rounds to integer micro-nats
    * before the order-free per-domain BIGINT sums (the established
    * contract); domain mean and corpus mean use integer division;
    * exp(excess) rounds to integer micro-units per domain BEFORE the
    * 20-term normalizing sum, so the softmax denominator is an exact
    * BIGINT and weight permilles are pure integer arithmetic. Excess
    * is clamped to ±2e6 micro-nats ahead of the one IEEE exp per
    * domain.
    *
    * Scale shape: LM build is a vocabulary-sized combinable count;
    * scoring joins key on the token (AQE skew-split for stopwords);
    * the domain table (20 rows) takes two windowless aggregates and
    * one 1-row broadcast. */
  val domainReweight: Q = Q(
    "q_domain_reweight",
    (s, dir) => {
      val hex = md5(col("doc_id").cast("string").cast("binary"))
      val shard = (ascii(substring(hex, 13, 1)) * 256 +
        ascii(substring(hex, 14, 1))) % 2
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), shard.as("shard"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      val counts = docs.filter(col("shard") === 0)
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      val stats = counts.agg(count(lit(1)).as("vocab_n"), sum(col("cnt")).as("total_n"))
      val lm = counts.crossJoin(broadcast(stats))
        .select(col("tok").as("lm_tok"),
          round(-log((col("cnt") + lit(1.0)) /
            (col("total_n") + col("vocab_n")).cast("double")) * 1e6, 0)
            .cast("long").as("sm"))
      val oovStats = stats.select(
        round(-log(lit(1.0) / (col("total_n") + col("vocab_n")).cast("double")) * 1e6, 0)
          .cast("long").as("oov_sm"))
      val perDomain = docs
        .join(lm, col("tok") === col("lm_tok"), "left")
        .crossJoin(broadcast(oovStats))
        .select(col("source"), col("doc_id"),
          coalesce(col("sm"), col("oov_sm")).as("sm"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          sum(col("sm")).as("total_micro"))
      val corpus = perDomain.agg(
        sum(col("total_micro")).as("g_total"), sum(col("n_tokens")).as("g_tokens"))
      val withExcess = perDomain.crossJoin(broadcast(corpus))
        .withColumn("mean_surprisal_micro", expr("total_micro div n_tokens"))
        .withColumn("excess_micro",
          expr("total_micro div n_tokens - g_total div g_tokens"))
        .withColumn("e", round(lit(1e6) *
          exp(greatest(lit(-2000000L), least(lit(2000000L), col("excess_micro")))
            .cast("double") / lit(1e6)), 0).cast("long"))
      val denom = withExcess.agg(sum(col("e")).as("e_sum"))
      withExcess.crossJoin(broadcast(denom))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("mean_surprisal_micro"), col("excess_micro"),
          expr("(1000 * e) div e_sum").as("weight_permille"))
        .orderBy("source")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, source,
               (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 13, 1)) * 256 +
                ascii(substr(md5(CAST(doc_id AS VARCHAR)), 14, 1))) % 2 AS shard,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        FROM documents),
      counts AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok WHERE shard = 0 GROUP BY tok),
      stats AS (
        SELECT CAST(count(*) AS BIGINT) AS vocab_n, CAST(sum(cnt) AS BIGINT) AS total_n
        FROM counts),
      lm AS (
        SELECT tok AS lm_tok,
               CAST(round(-ln((cnt + 1.0) / CAST(total_n + vocab_n AS DOUBLE)) * 1e6) AS BIGINT) AS sm
        FROM counts, stats),
      oov AS (
        SELECT CAST(round(-ln(1.0 / CAST(total_n + vocab_n AS DOUBLE)) * 1e6) AS BIGINT) AS oov_sm
        FROM stats),
      perdom AS (
        SELECT source, CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(coalesce(sm, oov_sm)) AS BIGINT) AS total_micro
        FROM tok t LEFT JOIN lm ON t.tok = lm.lm_tok CROSS JOIN oov
        GROUP BY source),
      corpus AS (
        SELECT CAST(sum(total_micro) AS BIGINT) AS g_total,
               CAST(sum(n_tokens) AS BIGINT) AS g_tokens FROM perdom),
      ex AS (
        SELECT source, n_docs, n_tokens,
               total_micro // n_tokens AS mean_surprisal_micro,
               total_micro // n_tokens - g_total // g_tokens AS excess_micro,
               CAST(round(1e6 * exp(greatest(-2000000, least(2000000,
                 total_micro // n_tokens - g_total // g_tokens)) / 1000000.0)) AS BIGINT) AS e
        FROM perdom, corpus),
      denom AS (SELECT CAST(sum(e) AS BIGINT) AS e_sum FROM ex)
      SELECT source, n_docs, n_tokens,
             CAST(mean_surprisal_micro AS BIGINT) AS mean_surprisal_micro,
             CAST(excess_micro AS BIGINT) AS excess_micro,
             CAST((1000 * e) // e_sum AS BIGINT) AS weight_permille
      FROM ex, denom ORDER BY source"""))

  /** Per-source dataset card — the "datasheets for datasets"
    * governance row a corpus release ships with: volume (docs,
    * tokens), language spread (distinct langs, majority lang,
    * language-distribution entropy), length profile (mean and exact
    * median chars), and duplication (docs minus distinct text
    * digests). One row per source, every column engine-exact.
    *
    * Determinism: entropy is the repo's micro-nat recipe — each lang
    * contributes c·round(ln(n/c)·1e6), summed exactly and floor-
    * divided by n; the median is the smallest length whose cumulative
    * count reaches ⌈n/2⌉, computed over the per-source distinct-length
    * table (the winsorize window envelope); the majority lang
    * tiebreaks alphabetically.
    *
    * Scale shape: three source-keyed aggregates off one corpus scan
    * each (docs stats, lang histogram, length histogram) plus a
    * digest distinct — all map-side combinable, all joined on the
    * ~|sources| keyspace. The only windows run over per-source
    * aggregated histograms, never documents. */
  val datasetCard: Q = Q(
    "q_dataset_card",
    (s, dir) => {
      val d = t(s, dir, "documents")
      val base = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+"))).cast("long").as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_distinct_texts"))
      val langHist = d.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      val wTop = Window.partitionBy("source")
        .orderBy(col("c").desc, col("lang").asc)
      val topLang = langHist
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val entropy = langHist
        .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
        .groupBy("source")
        .agg(max(col("n")).as("n"),
          sum(col("c") *
            round(log(col("n").cast("double") / col("c").cast("double")) * 1e6, 0)
              .cast("long")).as("h_num"))
        .select(col("source"), expr("h_num div n").as("lang_entropy_micro"))
      val lenHist = d.groupBy(col("source"), col("n_chars").as("len"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("source").orderBy("len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTot = Window.partitionBy("source")
      val p50 = lenHist
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wTot))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("source").agg(min(col("len")).as("p50_chars"))
      base.join(topLang, "source").join(entropy, "source").join(p50, "source")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("n_langs"), col("top_lang"), col("lang_entropy_micro"),
          expr("(n_tokens * 1000000) div n_docs").as("mean_tokens_micro"),
          col("p50_chars"),
          (col("n_docs") - col("n_distinct_texts")).as("n_dup_docs"))
        .orderBy("source")
    },
    Some("""
      WITH base AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        FROM documents GROUP BY source),
      lang_hist AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang),
      top_lang AS (
        SELECT source, lang AS top_lang FROM (
          SELECT source, lang,
                 row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, lang ASC) AS rn
          FROM lang_hist) WHERE rn = 1),
      entropy AS (
        SELECT source,
               CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1e6)
                 AS BIGINT)) // max(n) AS BIGINT) AS lang_entropy_micro
        FROM (SELECT source, c,
                     sum(c) OVER (PARTITION BY source) AS n
              FROM lang_hist)
        GROUP BY source),
      len_hist AS (
        SELECT source, n_chars AS len, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY source, n_chars),
      p50 AS (
        SELECT source, CAST(min(len) AS BIGINT) AS p50_chars FROM (
          SELECT source, len,
                 sum(c) OVER (PARTITION BY source ORDER BY len
                   ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY source) AS n
          FROM len_hist)
        WHERE cum * 2 >= n GROUP BY source)
      SELECT b.source, b.n_docs, b.n_tokens, b.n_langs, t.top_lang,
             e.lang_entropy_micro,
             CAST((b.n_tokens * 1000000) // b.n_docs AS BIGINT) AS mean_tokens_micro,
             p.p50_chars,
             CAST(b.n_docs - b.n_distinct_texts AS BIGINT) AS n_dup_docs
      FROM base b
      JOIN top_lang t ON b.source = t.source
      JOIN entropy e ON b.source = e.source
      JOIN p50 p ON b.source = p.source
      ORDER BY b.source"""))

  /** Per-source boilerplate SEGMENT removal — the C4/CCNet "strip the
    * template" pass: a fixed 5-token segmentation of every document,
    * a (source, segment) frequency table, and removal of any segment
    * text shared by ≥ 10 distinct documents of the SAME source
    * (navigation banners, footers, cookie notices — content that
    * repeats across a domain but isn't a document-level duplicate).
    * A deterministic per-source banner is planted at the head of
    * every document so the operator provably fires: the banner is the
    * one segment every doc of a source shares, detection must flag
    * exactly it, and each doc's cleaned fingerprint must equal its
    * pre-banner content — self-proving against the DuckDB oracle.
    *
    * Fixed-stride segments (not sliding n-grams) make removal
    * well-defined — every token belongs to exactly one segment, so
    * "strip flagged segments, keep the rest in order" reassembles
    * deterministically on both engines via an ordered aggregate.
    *
    * Shape at 100 TB: segmentation is a narrow per-row transform
    * (sequence/slice HOFs, no UDF); the frequency table shuffles on
    * (source, segment-text) — in production that key would be
    * xxhash64(segment) carrying 8 bytes — and is distinct-segment-
    * sized, far smaller than the corpus; the flag set joins back as a
    * hash anti-join on the same key. Nothing is pairwise; per-doc
    * reassembly is one partial-aggregatable groupBy(doc_id). */
  /** Core boilerplate pass over any (doc_id, source, text) frame —
    * factored so tests can feed hand-built corpora. `minDocs` is the
    * "shared by this many distinct docs of one source" flag
    * threshold. */
  def boilerplateStripOf(docs: DataFrame, minDocs: Int): DataFrame = {
    val w = toks(col("text"))
    // persisted not needed: the two consumers below are one narrow
    // aggregation and one join off the SAME shuffle-free projection —
    // Spark recomputes the cheap scan rather than caching corpus text
    val segs = docs
      .select(col("doc_id"), col("source"),
        posexplode(transform(
          sequence(lit(0), ((size(w) + lit(4)) / lit(5)).cast("int") - 1),
          i => concat_ws(" ", slice(w, i * 5 + 1, lit(5))))).as(Seq("seg", "seg_str")))
    // the flag table is segments-shared-by-≥minDocs — bounded by
    // (total segments / minDocs), in practice the per-source template
    // set: small enough to broadcast, which keeps the corpus-sized
    // side unshuffled for the mark join
    val flagged = segs.groupBy("source", "seg_str")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("source"), col("seg_str"), lit(1).as("boil"))
    // ONE corpus-keyed aggregation does totals, kept-counts, and the
    // ordered reassembly fingerprint — no second scan, no join-back
    segs.join(broadcast(flagged), Seq("source", "seg_str"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_seg_total"),
        count(when(col("boil").isNull, 1)).as("n_seg_kept"),
        md5(concat_ws(" ",
          transform(
            filter(
              array_sort(collect_list(struct(col("seg"), col("seg_str"),
                coalesce(col("boil"), lit(0)).as("b")))),
              x => x.getField("b") === 0),
            x => x.getField("seg_str"))).cast("binary")).as("clean_sig"))
      .orderBy("doc_id")
  }

  val boilerplateStrip: Q = Q(
    "q_boilerplate_strip",
    (s, dir) =>
      boilerplateStripOf(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            concat(concat(lit("bnr_"), col("source")),
              lit(" follow like share subscribe "), col("text")).as("text")),
        minDocs = 10),
    Some("""
      WITH d AS (
        SELECT doc_id, source,
               'bnr_' || source || ' follow like share subscribe ' || text AS text
        FROM documents),
      w AS (SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\s+') AS w FROM d),
      tok AS (SELECT doc_id, source, unnest(w) AS tok,
                     generate_subscripts(w, 1) - 1 AS pos FROM w),
      seg AS (SELECT doc_id, source, pos // 5 AS seg,
                     string_agg(tok, ' ' ORDER BY pos) AS seg_str
              FROM tok GROUP BY doc_id, source, pos // 5),
      flag AS (SELECT source, seg_str FROM seg
               GROUP BY source, seg_str HAVING count(DISTINCT doc_id) >= 10),
      kept AS (SELECT s.* FROM seg s
               WHERE NOT EXISTS (SELECT 1 FROM flag f
                 WHERE f.source = s.source AND f.seg_str = s.seg_str)),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_seg_kept,
                     md5(string_agg(seg_str, ' ' ORDER BY seg)) AS clean_sig
              FROM kept GROUP BY doc_id)
      SELECT w.doc_id, CAST((len(w.w) + 4) // 5 AS BIGINT) AS n_seg_total,
             coalesce(a.n_seg_kept, 0) AS n_seg_kept,
             coalesce(a.clean_sig, md5('')) AS clean_sig
      FROM w LEFT JOIN agg a ON w.doc_id = a.doc_id
      ORDER BY w.doc_id"""))

  /** Scaling constant for exact coverage-Shapley terms: lcm(1..20),
    * so L div k is EXACT for every possible cover size k ≤ 20 sources
    * and per-source sums are order-free integers. */
  val ShapleyL = 232792560L

  /** DATA SHAPLEY over source shards, vocabulary-coverage game — the
    * data-valuation readout (Ghorbani & Zou, ICML 2019 lineage):
    * what is each source's fair contribution to the corpus's
    * vocabulary? The game is v(S) = #types covered by the union of
    * sources in S — monotone submodular coverage, for which the
    * Shapley value has a CLOSED FORM: each type's one unit of value
    * splits equally among the sources that cover it, so
    * φ(src) = Σ_{types t ∋ src} 1/|cover(t)| — no 2²⁰ subset
    * enumeration (20 sources), one aggregate. CurationSpec proves the
    * closed form ≡ the axiomatic definition by brute-forcing all 2³
    * subsets of a 3-source fixture.
    *
    * Exactness: terms are L div k with L = lcm(1..20) — exact for
    * every cover size, so per-source sums are order-free BIGINTs and
    * the efficiency axiom Σφ = L·n_types holds to the last unit
    * (spec-pinned). Envelope: φ ≤ L·n_types ⇒ exact through a
    * ~4·10¹⁰-type vocabulary — beyond any real tokenizer corpus.
    *
    * Scale shape: one token explode → (source, type) distinct (the
    * shuffle carries source×vocabulary, Zipf-bounded), one type-keyed
    * cover-size aggregate, one broadcast-back join, one source-domain
    * rollup. Nothing is subset-enumerated, nothing is corpus². */
  /** Closed-form coverage Shapley over any (source, doc_id, text)
    * frame — factored so CurationSpec can brute-force the axiomatic
    * definition against it on a 3-source fixture. */
  private[graft] def shapleyOf(docs: DataFrame): DataFrame = {
    val tokens = docs
      .select(col("source"), col("doc_id"),
        explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val cov = tokens.select("source", "tok").distinct()
    val ks = cov.groupBy("tok").agg(count(lit(1)).as("k"))
    val occ = tokens.groupBy("source")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_token_occurrences"))
    cov.join(ks, "tok")
      .groupBy("source")
      .agg(count(lit(1)).as("n_types_covered"),
        sum(when(col("k") === 1L, 1L).otherwise(0L)).as("n_types_exclusive"),
        sum(expr(s"$ShapleyL div k")).as("shapley_lunits"))
      .join(occ, "source")
      .select(col("source"), col("n_docs"), col("n_token_occurrences"),
        col("n_types_covered"), col("n_types_exclusive"),
        col("shapley_lunits"))
      .orderBy("source")
  }

  val shapleySources: Q = Q(
    "q_shapley_sources",
    (s, dir) => shapleyOf(t(s, dir, "documents")),
    Some(s"""
      WITH tokens AS (
        SELECT source, doc_id, tok FROM (
          SELECT source, doc_id,
                 unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
          FROM documents)
        WHERE tok <> ''),
      cov AS (SELECT DISTINCT source, tok FROM tokens),
      ks AS (SELECT tok, CAST(count(*) AS BIGINT) AS k FROM cov GROUP BY tok),
      occ AS (
        SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_token_occurrences
        FROM tokens GROUP BY source),
      phi AS (
        SELECT cov.source,
               CAST(count(*) AS BIGINT) AS n_types_covered,
               CAST(sum(CASE WHEN ks.k = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_types_exclusive,
               CAST(sum($ShapleyL // ks.k) AS BIGINT) AS shapley_lunits
        FROM cov JOIN ks ON ks.tok = cov.tok
        GROUP BY cov.source)
      SELECT phi.source, n_docs, n_token_occurrences, n_types_covered,
             n_types_exclusive, shapley_lunits
      FROM phi JOIN occ ON occ.source = phi.source
      ORDER BY phi.source"""))

  /** Greedy facility-location core over points (vec_id) and a sparse
    * canonical sim pair list (vec_a < vec_b, sim ∈ [0,1]) — factored
    * so CurationSpec can drive it on a hand-built graph with an exact
    * expected trajectory. Maximizes the submodular coverage
    * F(S) = Σ_v max_{s ∈ S} sim(v, s) (sim 0 where no pair survived
    * blocking; every point covers itself at sim 1), the classic
    * (1 − 1/e) greedy. Similarities are integerized to MICRO units
    * up front so every gain aggregate is an order-free exact BIGINT
    * sum — float accumulation order can flip a near-tie argmax
    * between runs, and a selection op whose output depends on task
    * scheduling is not an operator.
    *
    * Scale shape: per step ONE candidate-keyed gain aggregate over
    * the pair list joined to the coverage table and ONE
    * coverage-update join; the driver sees k single-row argmaxes (the
    * [[Ivf.trainCentroids]] bounded-iterative contract). The coverage
    * table is vertex-sized and lazily lineage-cut per step (the
    * pageRank discipline). Submodularity makes the gain sequence
    * non-increasing — violated means a broken update, so it throws. */
  private[graft] def facilityGreedy(points: DataFrame, pairs: DataFrame,
      k: Int): DataFrame = {
    val s = points.sparkSession
    import s.implicits._
    val micro = expr("cast(round(1000000 * sim) as bigint)")
    val sym = keep(pairs
      .select(col("vec_a").as("v"), col("vec_b").as("c"), micro.as("sim_micro"))
      .unionAll(pairs
        .select(col("vec_b").as("v"), col("vec_a").as("c"), micro.as("sim_micro")))
      .unionAll(points
        .select(col("vec_id").as("v"), col("vec_id").as("c"),
          lit(1000000L).as("sim_micro"))))
    var cur = points.select(col("vec_id").as("v"), lit(0L).as("cur_micro"))
    var objective = 0L
    var prevGain = Long.MaxValue
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    for (step <- 1 to k) {
      val top = sym.join(cur, "v")
        .groupBy("c")
        .agg(sum(greatest(lit(0L), col("sim_micro") - col("cur_micro")))
          .as("gain"))
        .filter(if (chosen.isEmpty) lit(true)
          else !col("c").isInCollection(chosen))
        .orderBy(col("gain").desc, col("c").asc)
        .limit(1).collect()
      Audit.check(s"facility greedy candidates at step $step", top.length, Audit.atLeast(1))
      val (c, g) = (top(0).getLong(0), top(0).getLong(1))
      Audit.check(s"facility greedy gain at step $step (submodular: the previous gain)", g,
        Audit.atMost(prevGain))
      prevGain = g
      objective += g
      chosen += c
      out += ((step.toLong, c, g, objective))
      val cov = sym.filter(col("c") === c)
        .select(col("v"), col("sim_micro").as("nw"))
      cur = graft.Checkpoints.cut(
        cur.join(cov, Seq("v"), "left")
          .select(col("v"),
            greatest(col("cur_micro"), coalesce(col("nw"), lit(0L)))
              .as("cur_micro")),
        eager = false)
    }
    sym.unpersist()
    out.toSeq.toDF("step", "vec_id", "gain_micro", "objective_micro")
  }

  /** One greedy argmax round of the q_facility_exact oracle:
    * candidate gains = Σ_v max(0, sim − cur) over the symmetric pair
    * list joined to the coverage table, already-chosen candidates
    * excluded, argmax by (gain DESC, c ASC); then the coverage
    * update. Mirrors one [[facilityGreedy]] step exactly — the gains
    * are micro-integer sums, so the argmax is order-free on both
    * engines. */
  private def facilityRoundCte(i: Int): String = {
    val excl =
      if (i == 1) ""
      else "\n        WHERE sym.c NOT IN (" +
        (1 until i).map(j => s"SELECT c FROM p$j").mkString(" UNION ALL ") +
        ")"
    s"""
      g$i AS MATERIALIZED (
        SELECT c, CAST(sum(greatest(0, sim_micro - cur)) AS BIGINT) AS gain
        FROM sym JOIN cur${i - 1} ON sym.v = cur${i - 1}.v$excl
        GROUP BY c),
      p$i AS MATERIALIZED (
        SELECT c, gain FROM g$i ORDER BY gain DESC, c ASC LIMIT 1),
      cur$i AS MATERIALIZED (
        SELECT cur${i - 1}.v,
               greatest(cur${i - 1}.cur, coalesce(s.sim_micro, 0)) AS cur
        FROM cur${i - 1} LEFT JOIN (
          SELECT v, sim_micro FROM sym
          WHERE c = (SELECT c FROM p$i)) s
        ON s.v = cur${i - 1}.v)"""
  }

  /** FACILITY-LOCATION, EXACT CORRECTNESS PIN — [[facilityGreedy]]
    * over an EXACT cosine pair graph on a bounded deterministic
    * slice (vec_id < 200), hash-oracled end to end: the pair side is
    * all-pairs `list_cosine_similarity` (the dialect q_cosine_topk
    * proved bit-identical to the native [[Similarity.cosine]]
    * expression), micro-integerized with the same round() both
    * engines share, and the k = 8 greedy rounds unroll as argmax
    * CTEs ([[facilityRoundCte]] — the q_kcore fixed-unroll device
    * applied to a driver-side iterative selection). This pins the
    * greedy core — gain aggregation, argmax tiebreak, coverage
    * update, objective accumulation — against an independent engine;
    * [[facilitySelect]] stays the scale path over the IVF-blocked
    * graph (its pair input is not SQL-constructible — see its note).
    * The slice is bounded BECAUSE the graph is exact: all-pairs
    * cosine is quadratic by construction, which is the very reason
    * the production variant blocks first. */
  val facilityExact: Q = Q(
    "q_facility_exact",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .filter(col("vec_id") < 200)
      val pr = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
        .withColumn("sim",
          graft.llm.Similarity.cosine(col("a.v"), col("b.v")))
        .filter(col("sim") > 0)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("sim"))
      facilityGreedy(emb.select("vec_id"), pr, k = 8)
    },
    Some(s"""
      WITH pts AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < 200),
      pr AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(round(1000000 * list_cosine_similarity(a.v, b.v))
                 AS BIGINT) AS sim_micro
        FROM pts a JOIN pts b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) > 0),
      sym AS MATERIALIZED (
        SELECT va AS v, vb AS c, sim_micro FROM pr
        UNION ALL SELECT vb AS v, va AS c, sim_micro FROM pr
        UNION ALL SELECT vec_id AS v, vec_id AS c,
                         CAST(1000000 AS BIGINT) AS sim_micro FROM pts),
      cur0 AS (SELECT vec_id AS v, CAST(0 AS BIGINT) AS cur FROM pts),""" +
      (1 to 8).map(facilityRoundCte).mkString(",") + s""",
      picks AS (${(1 to 8)
        .map(i => s"SELECT $i AS step, c, gain FROM p$i")
        .mkString(" UNION ALL ")})
      SELECT CAST(step AS BIGINT) AS step, c AS vec_id,
             gain AS gain_micro,
             CAST(sum(gain) OVER (ORDER BY step) AS BIGINT)
               AS objective_micro
      FROM picks ORDER BY step"""))

  /** FACILITY-LOCATION DATA SELECTION — the diversity-aware coreset
    * (Mirzasoleiman et al. CRAIG lineage; the submodular complement
    * of [[dsirSelect]]'s importance weighting and
    * [[graft.llm.Retrieval.mmrRerank]]'s per-query diversity): pick
    * k = 8 representatives maximizing total corpus coverage under the
    * IVF-blocked cosine graph ([[Similarity.clusterNearDupPairs]] at
    * the 0.90 dbscan-family threshold, shared memoized centroids).
    *
    * Rows-only: NOT oracle-able because of its INPUT, not its greedy
    * — the pair graph is blocked by the IVF coarse quantizer, and
    * that quantizer is a TRAINED MODEL ([[graft.llm.Ivf
    * .trainCentroids]]: 5 Lloyd's rounds with driver-side
    * re-seeding, an md5-sampled training set, and ordered float mean
    * folds), which no single SQL statement over the parquet inputs
    * can reproduce — the precise step that breaks SQL expressibility
    * is the per-round centroid collect/re-broadcast, an iterative
    * driver program. The greedy rounds themselves ARE unrollable and
    * are hash-pinned by [[facilityExact]] over an exact pair graph;
    * THIS query keeps the scale path honest. Floors armed in-query: the
    * gain sequence is non-increasing (submodularity — a broken
    * coverage update throws), picks are distinct by construction, and
    * the planted 12-copy blob yields AT MOST ONE representative (its
    * members are identical, so a second pick's marginal gain is
    * exactly 0 and can never beat any uncovered point; two blob picks
    * while anything real remains uncovered = a real bug). An early
    * pick must also be a blob member — covering 12 identical points
    * at sim 1.0 dominates any singleton. */
  val facilitySelect: Q = Q(
    "q_facility_select",
    (s, dir) => scoped {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val proto = emb.filter(col("vec_id") === 0).select(col("v")).limit(1)
      val plants = s.range(12)
        .select((col("id") + lit(2000000L)).as("vec_id"))
        .crossJoin(broadcast(proto))
      val corpus = keep(emb.unionByName(plants))
      val pairs = graft.llm.Similarity.pairStoreMemo(s, s"$dir#dbscan90",
        0.90, corpus, graft.llm.Ivf.trainCentroidsMemo(s"$dir#dbscan", corpus))
      val picks = facilityGreedy(corpus, pairs, k = 8)
      val rows = picks.collect() // k-bounded by construction
      Audit.check("facility greedy picks of identical blob members",
        rows.count(_.getLong(1) >= 2000000L), Audit.atMost(1))
      // vec 0 IS the blob prototype, so "the blob got a rep" means
      // either a planted id or vector 0 itself
      Audit.check("planted blob picks among the first three representatives",
        rows.take(3).count(r => r.getLong(1) >= 2000000L || r.getLong(1) == 0L), Audit.atLeast(1))
      import s.implicits._
      rows.toIndexedSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toDF("step", "vec_id", "gain_micro", "objective_micro")
        .coalesce(1).orderBy("step")
    },
    None)

  val all: Seq[Q] =
    Seq(stopwordStrip, contamination, ngramContamination, packSequences, corpusShuffle,
      curationPipeline, redactPii, bigramTopK, pmiCollocations, chunkDocs,
      normalizeText,
      segmentDedup, curriculumOrder, curriculumWrite, spanCorruption,
      dsirSelect, importanceResample, domainReweight, datasetCard, boilerplateStrip,
      shapleySources, facilitySelect, facilityExact)
}
