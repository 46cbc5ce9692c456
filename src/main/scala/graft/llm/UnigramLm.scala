package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Audit, Q, Tables}
import graft.CacheHandles.keep

/** One EM step of the unigram-LM tokenizer (the SentencePiece
  * subword model, Kudo 2018) — the probabilistic alternative to
  * [[Bpe]]'s greedy merges: a piece inventory with probabilities, a
  * Viterbi E-step that segments every word into its maximum-
  * likelihood piece sequence, and an M-step that re-estimates piece
  * probabilities from the Viterbi counts. This query runs exactly ONE
  * hard-EM step from the standard seed (substring counts), fully
  * hash-oracled:
  *
  *  - seed inventory = ALL substrings of length ≤ 4 of the ≤ 12-char
  *    vocabulary, weighted by word frequency; piece cost in integer
  *    micro-nats, round((ln n − ln c)·10⁶) — both engines evaluate
  *    the same two lns on the same integer-valued doubles and round
  *    once (the [[Classifier]] naive-Bayes recipe);
  *  - E-step: per-word Viterbi DP best(i) = min_j best(i−j) +
  *    cost(w[i−j..i]), j ≤ 4, tie → smallest j. The word domain is
  *    LENGTH-BOUNDED, so the oracle states the same DP as an UNROLLED
  *    12-level CTE chain (the [[graft.ops.Graph.shortestPath]]
  *    frontier trick applied to string positions), then backtracks
  *    the argmin choice table 12 steps to re-derive the exact piece
  *    path — segmentation itself rides the driver hash;
  *  - M-step: Viterbi counts and integer-micro probabilities
  *    (vit_count·10⁶ div total).
  *
  * Scale shape: one corpus tokenize+count pass; EVERYTHING after is
  * vocab-domain (distinct words), never corpus-sized. The piece
  * inventory is bounded by construction (≤ 48 substrings per
  * distinct word; SentencePiece seeds then prunes to ~10⁶ pieces),
  * so it broadcasts like [[Ivf]] centroids / [[Bpe]] merges, and the
  * Viterbi is an embarrassingly parallel flatMap over the word
  * frame. Envelope: vit_count·10⁶ needs vit_count < 9.2·10¹² total
  * weighted pieces — rescale the micro unit past that.
  *
  * Reference: lambda_function.py has no tokenizer; extension surface
  * (training-data pipelines tokenize to budget corpora). */
object UnigramLm {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  val MaxLen = 12
  val MaxPiece = 4

  /** Corpus word frequencies, length-capped to the DP unroll bound
    * (both engines apply the same cap, so the cap is semantic, not a
    * truncation). */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(col("w") =!= "" && length(col("w")) <= MaxLen)
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Seed piece inventory with integer micro-nat costs:
    * (piece, c, cost) where c = Σ_w cnt_w · occurrences(piece, w). */
  def pieceCosts(words: DataFrame): DataFrame = {
    val subs = words
      .select(col("w"), col("cnt"),
        explode(sequence(lit(1), lit(MaxPiece))).as("ln"))
      .select(col("w"), col("cnt"), col("ln"),
        explode(sequence(lit(1), lit(MaxLen))).as("st"))
      .filter(col("st") + col("ln") - 1 <= length(col("w")))
      .select(expr("substring(w, cast(st as int), cast(ln as int))")
        .as("piece"), col("cnt"))
    val pieces = subs.groupBy("piece").agg(sum(col("cnt")).as("c"))
    val tot = pieces.agg(sum(col("c")).as("n"))
    pieces.crossJoin(broadcast(tot))
      .withColumn("cost",
        round((log(col("n").cast("double")) - log(col("c").cast("double")))
          * 1e6, 0).cast("long"))
      .select("piece", "c", "cost")
  }

  /** Viterbi piece paths: one row per (word, path piece) with the
    * word's corpus count. The DP mirrors the oracle exactly: strict
    * `<` with j ascending = the oracle's ORDER BY v ASC, j ASC. */
  def viterbiPaths(words: DataFrame, costs: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val costMap = costs.select("piece", "cost").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = s.sparkContext.broadcast(costMap)
    words.select(col("w"), col("cnt")).as[(String, Long)]
      .flatMap { case (w, cnt) =>
        val n = w.length
        val best = Array.fill(n + 1)(Long.MaxValue)
        best(0) = 0L
        val choice = new Array[Int](n + 1)
        var i = 1
        while (i <= n) {
          var j = 1
          while (j <= math.min(MaxPiece, i)) {
            if (best(i - j) != Long.MaxValue) {
              bc.value.get(w.substring(i - j, i)) match {
                case Some(c) if best(i - j) + c < best(i) =>
                  best(i) = best(i - j) + c
                  choice(i) = j
                case _ =>
              }
            }
            j += 1
          }
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String)]
        var pos = n
        while (pos > 0) {
          val j = choice(pos)
          out += ((w, cnt, w.substring(pos - j, pos)))
          pos -= j
        }
        out
      }.toDF("w", "cnt", "piece")
  }

  /** One hard-EM step: (piece, init_count, vit_count, prob_micro) for
    * every piece on ≥ 1 Viterbi path. */
  def emStep(words: DataFrame, costs: DataFrame): DataFrame = {
    val newc = viterbiPaths(words, costs)
      .groupBy("piece").agg(sum(col("cnt")).as("vit_count"))
    val m = newc.agg(sum(col("vit_count")).as("m"))
    newc.join(costs.select(col("piece"), col("c").as("init_count")),
        Seq("piece"))
      .crossJoin(broadcast(m))
      .select(col("piece"), col("init_count"), col("vit_count"),
        expr("(vit_count * 1000000) div m").as("prob_micro"))
      .orderBy("piece")
  }

  /** The oracle's DP chain: ${x}b$i = min-cost segmentation of the
    * first i chars under cost table `$costs`, as 12 unrolled CTEs
    * with ≤ 4 back-reference branches each — GENERATED, not
    * hand-typed, so the Spark fold and the SQL can only disagree if
    * the RECURRENCE differs; the prefix `x` lets one oracle chain two
    * independent E-steps (round 2 prunes + re-costs + re-segments). */
  private def dpCtes(x: String, costs: String): String =
    (1 to MaxLen).map { i =>
      val branches = (1 to math.min(MaxPiece, i)).map { j =>
        s"""SELECT b.w, b.best + c.cost AS v
            FROM ${x}b${i - j} b JOIN words d ON d.w = b.w AND length(d.w) >= $i
            JOIN $costs c ON c.piece = substr(d.w, ${i - j + 1}, $j)"""
      }.mkString("\n            UNION ALL\n            ")
      s"""${x}b$i AS MATERIALIZED (SELECT w, CAST(min(v) AS BIGINT) AS best FROM (
            $branches) GROUP BY w)"""
    }.mkString(",\n      ")

  private def bestUnion(x: String): String =
    (0 to MaxLen).map(i => s"SELECT w, $i AS i, best FROM ${x}b$i")
      .mkString("\n        UNION ALL\n        ")

  private def backtrackCtes(x: String): String =
    (1 to MaxLen).map { k =>
      s"""${x}p$k AS MATERIALIZED (SELECT p.w, p.cnt, p.pos - ch.j AS pos,
             substr(p.w, CAST(p.pos - ch.j + 1 AS INT), CAST(ch.j AS INT)) AS piece
           FROM ${x}p${k - 1} p JOIN ${x}choice ch ON ch.w = p.w AND ch.i = p.pos
           WHERE p.pos > 0)"""
    }.mkString(",\n      ")

  private def pathUnion(x: String): String =
    (1 to MaxLen).map(k => s"SELECT cnt, piece FROM ${x}p$k")
      .mkString("\n        UNION ALL\n        ")

  /** One full generated E-step (DP + argmin choice + backtrack +
    * path recount) under `$costs`, CTE-prefixed by `x`. Produces
    * `${x}newc(piece, vit_count)`. */
  private def eStepCtes(x: String, costs: String): String = s"""
      ${x}b0 AS (SELECT w, CAST(0 AS BIGINT) AS best FROM words),
      ${dpCtes(x, costs)},
      ${x}bestu AS MATERIALIZED (
        ${bestUnion(x)}),
      ${x}cand AS MATERIALIZED (
        SELECT d.w, pos.range AS i, j.range AS j, b.best + c.cost AS v
        FROM words d, range(1, ${MaxLen + 1}) pos, range(1, ${MaxPiece + 1}) j,
             ${x}bestu b, $costs c
        WHERE pos.range <= length(d.w) AND j.range <= pos.range
          AND b.w = d.w AND b.i = pos.range - j.range
          AND c.piece = substr(d.w, CAST(pos.range - j.range + 1 AS INT),
                               CAST(j.range AS INT))),
      ${x}choice AS MATERIALIZED (
        SELECT w, i, j FROM (
          SELECT w, i, j,
                 row_number() OVER (PARTITION BY w, i ORDER BY v ASC, j ASC) AS rn
          FROM ${x}cand) rk
        WHERE rn = 1),
      ${x}p0 AS (SELECT w, cnt, CAST(length(w) AS BIGINT) AS pos FROM words),
      ${backtrackCtes(x)},
      ${x}pathpieces AS MATERIALIZED (
        ${pathUnion(x)}),
      ${x}newc AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS vit_count
               FROM ${x}pathpieces GROUP BY piece)"""

  val unigramEm: Q = Q(
    "q_unigram_lm_em",
    (s, dir) => {
      val words = keep(wordCounts(t(s, dir, "documents")))
      val out = emStep(words, pieceCosts(words))
      val materialized = out.collect()
      words.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(
          materialized.toIndexedSeq, 1), out.schema)
        .orderBy("piece")
    },
    Some(s"""
      WITH words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents) tk
        WHERE w <> '' AND length(w) <= $MaxLen
        GROUP BY w),
      subs AS MATERIALIZED (
        SELECT substr(d.w, CAST(st.range AS INT), CAST(ln.range AS INT)) AS piece,
               d.cnt
        FROM words d, range(1, ${MaxPiece + 1}) ln, range(1, ${MaxLen + 1}) st
        WHERE st.range + ln.range - 1 <= length(d.w)),
      pieces AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
                 FROM subs GROUP BY piece),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pieces),
      costs AS MATERIALIZED (
        SELECT piece, c,
               CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(c AS DOUBLE)))
                 * 1000000) AS BIGINT) AS cost
        FROM pieces CROSS JOIN tot),
      ${eStepCtes("", "costs")},
      ntot AS (SELECT CAST(sum(vit_count) AS BIGINT) AS m FROM newc)
      SELECT n.piece, c.c AS init_count, n.vit_count,
             (n.vit_count * 1000000) // m AS prob_micro
      FROM newc n JOIN costs c ON c.piece = n.piece CROSS JOIN ntot
      ORDER BY n.piece"""))

  /** Round-2 inventory: prune round-1 pieces that earned fewer than
    * `MinCount` Viterbi hits (single-char pieces are ALWAYS kept so
    * segmentation stays total — the SentencePiece invariant), then
    * re-cost from add-one-smoothed Viterbi counts. */
  val MinCount = 2L

  def prunedCosts(costs1: DataFrame, vit1: DataFrame): DataFrame = {
    val kept = costs1.select("piece")
      .join(vit1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("vit_count"), lit(0L)).as("vit1"))
      .filter(length(col("piece")) === 1 || col("vit1") >= MinCount)
    val w2 = kept.select(col("piece"), col("vit1"),
      (col("vit1") + 1L).as("c"))
    val tot2 = w2.agg(sum(col("c")).as("n"))
    w2.crossJoin(broadcast(tot2))
      .withColumn("cost",
        round((log(col("n").cast("double")) - log(col("c").cast("double")))
          * 1e6, 0).cast("long"))
      .select("piece", "vit1", "c", "cost")
  }

  /** SECOND EM iteration WITH PRUNING — the step that makes it EM and
    * not a one-shot score: round 1's Viterbi counts become the new
    * (smoothed) unigram estimates, pieces the segmenter never used
    * are dropped from the inventory (the SentencePiece shrink step),
    * and the corpus re-segments under the re-costed table. Emits
    * (piece, vit1, vit2, prob2_micro) for every piece on a round-2
    * path; the oracle chains TWO generated E-steps — same DP, two
    * cost tables. Scale shape identical to [[unigramEm]] (the second
    * E-step adds one more vocab-domain pass, nothing corpus-sized). */
  val unigramEm2: Q = Q(
    "q_unigram_lm_em2",
    (s, dir) => {
      val words = keep(wordCounts(t(s, dir, "documents")))
      val costs1 = pieceCosts(words)
      val vit1 = viterbiPaths(words, costs1)
        .groupBy("piece").agg(sum(col("cnt")).as("vit_count"))
      val costs2 = keep(prunedCosts(costs1, vit1))
      val vit2 = viterbiPaths(words, costs2)
        .groupBy("piece").agg(sum(col("cnt")).as("vit2"))
      val m2 = vit2.agg(sum(col("vit2")).as("m"))
      val out = vit2
        .join(costs2.select(col("piece"), col("vit1")), Seq("piece"))
        .crossJoin(broadcast(m2))
        .select(col("piece"), col("vit1"), col("vit2"),
          expr("(vit2 * 1000000) div m").as("prob2_micro"))
        .orderBy("piece")
      val materialized = out.collect()
      words.unpersist()
      costs2.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(
          materialized.toIndexedSeq, 1), out.schema)
        .orderBy("piece")
    },
    Some(s"""
      WITH words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents) tk
        WHERE w <> '' AND length(w) <= $MaxLen
        GROUP BY w),
      subs AS MATERIALIZED (
        SELECT substr(d.w, CAST(st.range AS INT), CAST(ln.range AS INT)) AS piece,
               d.cnt
        FROM words d, range(1, ${MaxPiece + 1}) ln, range(1, ${MaxLen + 1}) st
        WHERE st.range + ln.range - 1 <= length(d.w)),
      pieces AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
                 FROM subs GROUP BY piece),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pieces),
      costs AS MATERIALIZED (
        SELECT piece, c,
               CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(c AS DOUBLE)))
                 * 1000000) AS BIGINT) AS cost
        FROM pieces CROSS JOIN tot),
      ${eStepCtes("", "costs")},
      kept AS MATERIALIZED (
        SELECT p.piece, CAST(coalesce(n.vit_count, 0) AS BIGINT) AS vit1
        FROM pieces p LEFT JOIN newc n ON n.piece = p.piece
        WHERE length(p.piece) = 1 OR coalesce(n.vit_count, 0) >= $MinCount),
      tot2 AS (SELECT CAST(sum(vit1 + 1) AS BIGINT) AS n FROM kept),
      costs2 AS MATERIALIZED (
        SELECT piece, vit1, CAST(vit1 + 1 AS BIGINT) AS c,
               CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(vit1 + 1 AS DOUBLE)))
                 * 1000000) AS BIGINT) AS cost
        FROM kept CROSS JOIN tot2),
      ${eStepCtes("r", "costs2")},
      ntot2 AS (SELECT CAST(sum(vit_count) AS BIGINT) AS m FROM rnewc)
      SELECT n.piece, k.vit1, n.vit_count AS vit2,
             (n.vit_count * 1000000) // m AS prob2_micro
      FROM rnewc n JOIN kept k ON k.piece = n.piece CROSS JOIN ntot2
      ORDER BY n.piece"""))

  /** Maximum-likelihood recost from a Viterbi count frame: the
    * pieces the segmenter actually used become the whole inventory
    * (support(vit) — no smoothing, no floor), cost = −ln(vit/m) in
    * integer micro-nats. This is the recost under which hard-EM
    * monotonicity is a THEOREM: the round-t segmentation uses only
    * pieces with vit ≥ 1, so it stays feasible under the shrunk
    * inventory, Gibbs' inequality gives T(seg_t, cost_{t+1}) ≤
    * T(seg_t, cost_t), and Viterbi under cost_{t+1} can only improve
    * further. ([[prunedCosts]]' add-one smoothing + MinCount floor —
    * the SentencePiece production recipe — trades that guarantee for
    * robustness; this path exists so the guarantee itself is
    * testable.) */
  def mlCosts(vit: DataFrame): DataFrame = {
    val tot = vit.agg(sum(col("vit_count")).as("n"))
    vit.crossJoin(broadcast(tot))
      .withColumn("cost",
        round((log(col("n").cast("double")) - log(col("vit_count").cast("double")))
          * 1e6, 0).cast("long"))
      .select(col("piece"), col("vit_count").as("c"), col("cost"))
  }

  /** THREE chained hard-EM iterations as a CONVERGENCE audit: the
    * per-round corpus Viterbi cost T_t = Σ_pieces vit_t·cost_t must
    * be non-increasing (hard-EM monotonicity under ML recosting, see
    * [[mlCosts]]) — a violation beyond the micro-nat rounding slack
    * THROWS in-query, so a broken E- or M-step can never ship a
    * plausible-looking cost table. Emits one row per round:
    * (round, n_pieces, m_tokens, corpus_cost_micro) — inventory
    * shrink, segmentation granularity, and the descending cost
    * trajectory all ride the driver hash.
    *
    * Rounding slack: each piece cost is rounded once to the nearest
    * micro-nat (error ≤ ½ per weighted path piece), so the exact-real
    * inequality T_{t+1} ≤ T_t can be violated by at most
    * (m_t + m_{t+1})/2 micro-nats; the audit allows m_t + m_{t+1} —
    * ~10⁻⁷ of T relative, still sharp.
    *
    * Scale shape identical to [[unigramEm2]]: each added round is one
    * more vocab-domain Viterbi flatMap + piece-keyed count, nothing
    * corpus-sized beyond the single word-count pass; the oracle
    * chains three generated E-steps (prefixes "", "r", "s") with two
    * ML recost CTEs between them. */
  val unigramEm3: Q = Q(
    "q_unigram_lm_em3",
    (s, dir) => {
      val words = keep(wordCounts(t(s, dir, "documents")))
      def vitOf(costs: DataFrame): DataFrame =
        keep(viterbiPaths(words, costs)
          .groupBy("piece").agg(sum(col("cnt")).as("vit_count")))
      def statsOf(round: Int, vit: DataFrame, costs: DataFrame): DataFrame =
        vit.join(costs.select("piece", "cost"), Seq("piece"))
          .agg(count(lit(1)).as("n_pieces"),
            sum(col("vit_count")).as("m_tokens"),
            sum(col("vit_count") * col("cost")).as("corpus_cost_micro"))
          .select(lit(round.toLong).as("round"), col("n_pieces"),
            col("m_tokens"), col("corpus_cost_micro"))
      val costs1 = pieceCosts(words)
      val vit1 = vitOf(costs1)
      val costs2 = mlCosts(vit1)
      val vit2 = vitOf(costs2)
      val costs3 = mlCosts(vit2)
      val vit3 = vitOf(costs3)
      val out = statsOf(1, vit1, costs1)
        .unionByName(statsOf(2, vit2, costs2))
        .unionByName(statsOf(3, vit3, costs3))
        .orderBy("round")
      val rows = out.collect()
      words.unpersist(); vit1.unpersist(); vit2.unpersist(); vit3.unpersist()
      // hard-EM monotonicity abort: cost must not rise past rounding slack
      rows.sliding(2).foreach { case Array(a, b) =>
        Audit.check(s"hard-EM cost of round ${b.getLong(0)} " +
          s"(bound: round ${a.getLong(0)} cost + rounding slack)",
          b.getLong(3), Audit.atMost(a.getLong(3) + a.getLong(2) + b.getLong(2)))
      }
      s.createDataFrame(s.sparkContext.parallelize(
          rows.toIndexedSeq, 1), out.schema)
        .orderBy("round")
    },
    Some(s"""
      WITH words AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
          SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
          FROM documents) tk
        WHERE w <> '' AND length(w) <= $MaxLen
        GROUP BY w),
      subs AS MATERIALIZED (
        SELECT substr(d.w, CAST(st.range AS INT), CAST(ln.range AS INT)) AS piece,
               d.cnt
        FROM words d, range(1, ${MaxPiece + 1}) ln, range(1, ${MaxLen + 1}) st
        WHERE st.range + ln.range - 1 <= length(d.w)),
      pieces AS MATERIALIZED (SELECT piece, CAST(sum(cnt) AS BIGINT) AS c
                 FROM subs GROUP BY piece),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pieces),
      costs AS MATERIALIZED (
        SELECT piece, c,
               CAST(round((ln(CAST(n AS DOUBLE)) - ln(CAST(c AS DOUBLE)))
                 * 1000000) AS BIGINT) AS cost
        FROM pieces CROSS JOIN tot),
      ${eStepCtes("", "costs")},
      m1 AS (SELECT CAST(sum(vit_count) AS BIGINT) AS m FROM newc),
      costs2 AS MATERIALIZED (
        SELECT piece, vit_count AS c,
               CAST(round((ln(CAST(m AS DOUBLE)) - ln(CAST(vit_count AS DOUBLE)))
                 * 1000000) AS BIGINT) AS cost
        FROM newc CROSS JOIN m1),
      ${eStepCtes("r", "costs2")},
      m2 AS (SELECT CAST(sum(vit_count) AS BIGINT) AS m FROM rnewc),
      costs3 AS MATERIALIZED (
        SELECT piece, vit_count AS c,
               CAST(round((ln(CAST(m AS DOUBLE)) - ln(CAST(vit_count AS DOUBLE)))
                 * 1000000) AS BIGINT) AS cost
        FROM rnewc CROSS JOIN m2),
      ${eStepCtes("s", "costs3")}
      SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS round, CAST(count(*) AS BIGINT) AS n_pieces,
               CAST(sum(n.vit_count) AS BIGINT) AS m_tokens,
               CAST(sum(n.vit_count * c.cost) AS BIGINT) AS corpus_cost_micro
        FROM newc n JOIN costs c ON c.piece = n.piece
        UNION ALL
        SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
               CAST(sum(n.vit_count) AS BIGINT),
               CAST(sum(n.vit_count * c.cost) AS BIGINT)
        FROM rnewc n JOIN costs2 c ON c.piece = n.piece
        UNION ALL
        SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
               CAST(sum(n.vit_count) AS BIGINT),
               CAST(sum(n.vit_count * c.cost) AS BIGINT)
        FROM snewc n JOIN costs3 c ON c.piece = n.piece)
      ORDER BY round"""))

  val all: Seq[Q] = Seq(unigramEm, unigramEm2, unigramEm3)
}
