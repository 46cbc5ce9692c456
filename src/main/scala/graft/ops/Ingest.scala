package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Audit, Q}

/** SAM-shaped ingest fidelity: the reference's full E1/E2 chain
  * (fetch → veteran filter `:57-63` → flatten/trim `:67-81` → dropna
  * `:86` → date parse `:87` → derive `:88-91` → naics dim join `:94-99`
  * → score `:102-114` → sort `:115`) run over an inline fixture of raw
  * API-shaped JSON (FIXTURES.md §A1 edge rows), parsed with `from_json`
  * + an explicit StructType (SURVEY.md §2h F12).
  *
  * The reference's pagination (S1) is a driver-side HTTP loop; its data
  * semantics — bag-union of page batches then truncation — are covered
  * by q_union_limit. Here the JSON→struct→flatten path and every
  * null/blank/malformed edge case are exercised end-to-end.
  *
  * Known deviation from CPython semantics (documented, SURVEY.md §7.5):
  * `dict.get(k, "")` distinguishes an absent key (→ "") from a present
  * null (→ None); `from_json` maps both to null. We treat null
  * noticeId/title/postedDate as droppable (the present-null behavior).
  *
  * Scale note: `from_json` + struct field access is whole-stage
  * codegen'd; at 100 TB this chain is a single narrow pipeline stage —
  * the only exchange is the final range-partitioned sort, and the dim
  * join is an explicit broadcast.
  */
object Ingest {

  /** Pinned "now" for the reference-scale ladder (thresholds 1/3/5/7 days). */
  val SamAsOf = "2025-05-16"

  val samSchema: StructType = StructType(Seq(
    StructField("noticeId", StringType),
    StructField("title", StringType),
    StructField("solicitationNumber", StringType),
    StructField("fullParentPathName", StringType),
    StructField("postedDate", StringType),
    StructField("typeOfSetAsideDescription", StringType),
    StructField("naicsCode", StringType),
    StructField("officeAddress", StructType(Seq(
      StructField("city", StringType),
      StructField("state", StringType)))),
    StructField("uiLink", StringType)))

  /** Raw API-shaped fixture (FIXTURES.md §A1 edge list). */
  val fixture: Seq[String] = Seq(
    // full valid SDVOSB row; padded solicitationNumber exercises trim; lowercase state
    """{"noticeId":"N001","title":"Cloud Migration","solicitationNumber":" S-001 ","fullParentPathName":"DOD.ARMY","postedDate":"2025-05-14","typeOfSetAsideDescription":"Service-Disabled Veteran-Owned Small Business Set-Aside","naicsCode":"541511","officeAddress":{"city":"Austin","state":"tx"},"uiLink":"https://sam.gov/1"}""",
    // plain Veteran-Owned match; unmapped naics -> Other
    """{"noticeId":"N002","title":"Lawn Services","solicitationNumber":"S-002","fullParentPathName":"VA","postedDate":"2025-05-10","typeOfSetAsideDescription":"Veteran-Owned Small Business Set-Aside","naicsCode":"999999","officeAddress":{"city":"Waco","state":"TX"},"uiLink":"https://sam.gov/2"}""",
    // non-veteran set-aside -> filtered out (P1)
    """{"noticeId":"N003","title":"Paving","solicitationNumber":"S-003","fullParentPathName":"DOT","postedDate":"2025-05-14","typeOfSetAsideDescription":"8(a) Set-Aside","naicsCode":"541511","officeAddress":{"city":"Reno","state":"NV"},"uiLink":"https://sam.gov/3"}""",
    // null set-aside -> filtered out by the null guard (P1)
    """{"noticeId":"N004","title":"IT Support","solicitationNumber":"S-004","fullParentPathName":"GSA","postedDate":"2025-05-14","typeOfSetAsideDescription":null,"naicsCode":"541512","officeAddress":{"city":"Ogden","state":"UT"},"uiLink":"https://sam.gov/4"}""",
    // null title -> dropped by na.drop (P3)
    """{"noticeId":"N005","title":null,"solicitationNumber":"S-005","fullParentPathName":"VA","postedDate":"2025-05-14","typeOfSetAsideDescription":"Veteran-Owned Small Business Set-Aside","naicsCode":"541511","officeAddress":{"city":"Mesa","state":"AZ"},"uiLink":"https://sam.gov/5"}""",
    // malformed postedDate -> kept, null timestamp, score 1 (F4/F6/F7);
    // blank naicsCode -> hasNAICS false, description Other (F8/J1)
    """{"noticeId":"N006","title":"Radio Parts","solicitationNumber":"S-006","fullParentPathName":"DOD.NAVY","postedDate":"not-a-date","typeOfSetAsideDescription":"Veteran-Owned Small Business Set-Aside","naicsCode":"   ","officeAddress":{"city":"Kona","state":"HI"},"uiLink":"https://sam.gov/6"}""",
    // absent officeAddress + absent naicsCode -> "" defaults (P2); same-day post -> score 5
    """{"noticeId":"N007","title":"Janitorial","solicitationNumber":"S-007","fullParentPathName":"GSA","postedDate":"2025-05-16","typeOfSetAsideDescription":"Service-Disabled Veteran-Owned Small Business Set-Aside","uiLink":"https://sam.gov/7"}""",
    // mapped naics 561730; lowercase state
    """{"noticeId":"N008","title":"Groundskeeping","solicitationNumber":"S-008","fullParentPathName":"NPS","postedDate":"2025-05-12","typeOfSetAsideDescription":"Veteran-Owned Small Business Set-Aside","naicsCode":"561730","officeAddress":{"city":"Fresno","state":"ca"},"uiLink":"https://sam.gov/8"}""",
    // absent postedDate -> dropped (present-null semantics, see scaladoc)
    """{"noticeId":"N009","title":"Fencing","solicitationNumber":"S-009","fullParentPathName":"USDA","postedDate":null,"typeOfSetAsideDescription":"Veteran-Owned Small Business Set-Aside","naicsCode":"561730","officeAddress":{"city":"Boise","state":"ID"},"uiLink":"https://sam.gov/9"}""")

  /** NAICS dimension (reference `lambda_function.py:94-98`). */
  val naicsDim: Seq[(String, String)] = Seq(
    "541511" -> "Custom Computer Programming",
    "541512" -> "Systems Design Services",
    "561730" -> "Landscaping Services")

  /** The full transform chain over an already-parsed raw frame with
    * `samSchema` columns in a struct column `r`. Factored out so tests
    * can feed their own fixtures. */
  def transform(spark: SparkSession, raw: DataFrame): DataFrame = {
    val k1 = "Veteran-Owned"
    val k2 = "Service-Disabled Veteran-Owned"
    val dim = spark.createDataFrame(naicsDim).toDF("naicsCode", "naicsDescription")
    val days = col("daysSincePostedRaw")

    raw
      // P1: null guard + case-sensitive substring disjunction (reference :57-63).
      // k1 is a substring of k2 — the OR degenerates, preserved for fidelity.
      .filter(col("r.typeOfSetAsideDescription").isNotNull &&
        (col("r.typeOfSetAsideDescription").contains(k1) ||
          col("r.typeOfSetAsideDescription").contains(k2)))
      // P2/F1: flatten + trim; absent-key default "" for non-key fields
      .select(
        trim(col("r.noticeId")).as("noticeId"),
        trim(col("r.title")).as("title"),
        trim(col("r.postedDate")).as("postedDateStr"),
        trim(coalesce(col("r.solicitationNumber"), lit(""))).as("solicitationNumber"),
        trim(coalesce(col("r.fullParentPathName"), lit(""))).as("agency"),
        trim(coalesce(col("r.typeOfSetAsideDescription"), lit(""))).as("setAside"),
        trim(coalesce(col("r.naicsCode"), lit(""))).as("naicsCode"),
        trim(coalesce(col("r.officeAddress.city"), lit(""))).as("city"),
        upper(trim(coalesce(col("r.officeAddress.state"), lit("")))).as("state"),
        trim(coalesce(col("r.uiLink"), lit(""))).as("link"))
      // P3: dropna BEFORE date parsing (reference ordering, SURVEY.md §3 E2)
      .na.drop(Seq("noticeId", "title", "postedDateStr"))
      // F4: null-on-failure parse (ANSI-safe try_ variant)
      .withColumn("postedDate", try_to_timestamp(col("postedDateStr")))
      .withColumn("daysSincePostedRaw",
        Recency.daysSince(lit(SamAsOf), col("postedDate")))
      // F5-F8 derived columns
      .withColumn("daysSincePosted", days.cast("long"))
      .withColumn("isRecent", Recency.isRecent(days, 7))
      .withColumn("hasNAICS", Recency.nonBlank(col("naicsCode")))
      // J1: broadcast dim join + default
      .join(broadcast(dim), Seq("naicsCode"), "left")
      .withColumn("naicsDescription", coalesce(col("naicsDescription"), lit("Other")))
      // F7: original reference ladder
      .withColumn("recencyScore", Recency.score(days, Seq(1, 3, 5, 7)).cast("long"))
      .select("noticeId", "title", "solicitationNumber", "agency", "postedDate",
        "setAside", "naicsCode", "city", "state", "link",
        "daysSincePosted", "isRecent", "hasNAICS", "naicsDescription", "recencyScore")
      // O1 sort with unique tiebreaker (noticeId)
      .orderBy(col("recencyScore").desc, col("postedDate").desc_nulls_last,
        col("noticeId").desc)
  }

  /** End-to-end: JSON strings → from_json(schema) → transform. */
  def pipeline(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = fixture.toDF("json")
      .select(from_json(col("json"), samSchema).as("r"))
    transform(spark, raw)
  }

  val samPipeline: Q = Q(
    "q_sam_pipeline",
    (s, _) => pipeline(s),
    Some(s"""
      WITH raw(noticeId, title, solicitationNumber, agency, postedDate, setAside, naicsCode, city, state, link) AS (VALUES
        ('N001','Cloud Migration',' S-001 ','DOD.ARMY','2025-05-14','Service-Disabled Veteran-Owned Small Business Set-Aside','541511','Austin','tx','https://sam.gov/1'),
        ('N002','Lawn Services','S-002','VA','2025-05-10','Veteran-Owned Small Business Set-Aside','999999','Waco','TX','https://sam.gov/2'),
        ('N003','Paving','S-003','DOT','2025-05-14','8(a) Set-Aside','541511','Reno','NV','https://sam.gov/3'),
        ('N004','IT Support','S-004','GSA','2025-05-14',NULL,'541512','Ogden','UT','https://sam.gov/4'),
        ('N005',NULL,'S-005','VA','2025-05-14','Veteran-Owned Small Business Set-Aside','541511','Mesa','AZ','https://sam.gov/5'),
        ('N006','Radio Parts','S-006','DOD.NAVY','not-a-date','Veteran-Owned Small Business Set-Aside','   ','Kona','HI','https://sam.gov/6'),
        ('N007','Janitorial','S-007','GSA','2025-05-16','Service-Disabled Veteran-Owned Small Business Set-Aside',NULL,NULL,NULL,'https://sam.gov/7'),
        ('N008','Groundskeeping','S-008','NPS','2025-05-12','Veteran-Owned Small Business Set-Aside','561730','Fresno','ca','https://sam.gov/8'),
        ('N009','Fencing','S-009','USDA',NULL,'Veteran-Owned Small Business Set-Aside','561730','Boise','ID','https://sam.gov/9')),
      dim(naicsCode, descr) AS (VALUES
        ('541511','Custom Computer Programming'),
        ('541512','Systems Design Services'),
        ('561730','Landscaping Services')),
      filtered AS (
        SELECT * FROM raw
        WHERE setAside IS NOT NULL
          AND (contains(setAside, 'Veteran-Owned') OR contains(setAside, 'Service-Disabled Veteran-Owned'))),
      proj AS (
        SELECT trim(noticeId) AS noticeId, trim(title) AS title,
               trim(postedDate) AS postedDateStr,
               trim(coalesce(solicitationNumber, '')) AS solicitationNumber,
               trim(coalesce(agency, '')) AS agency,
               trim(coalesce(setAside, '')) AS setAside,
               trim(coalesce(naicsCode, '')) AS naicsCode,
               trim(coalesce(city, '')) AS city,
               upper(trim(coalesce(state, ''))) AS state,
               trim(coalesce(link, '')) AS link
        FROM filtered
        WHERE noticeId IS NOT NULL AND title IS NOT NULL AND postedDate IS NOT NULL),
      enr AS (
        SELECT *, try_cast(postedDateStr AS TIMESTAMP) AS postedTs,
               date_diff('day', CAST(try_cast(postedDateStr AS TIMESTAMP) AS DATE), DATE '$SamAsOf') AS d
        FROM proj)
      SELECT noticeId, title, solicitationNumber, agency, postedTs AS postedDate,
             setAside, naicsCode, city, state, link,
             CAST(d AS BIGINT) AS daysSincePosted,
             coalesce(d <= 7, false) AS isRecent,
             (naicsCode IS NOT NULL AND trim(naicsCode) <> '') AS hasNAICS,
             coalesce(descr, 'Other') AS naicsDescription,
             CAST(CASE WHEN d <= 1 THEN 5 WHEN d <= 3 THEN 4 WHEN d <= 5 THEN 3
                       WHEN d <= 7 THEN 2 ELSE 1 END AS BIGINT) AS recencyScore
      FROM enr LEFT JOIN dim USING (naicsCode)
      ORDER BY recencyScore DESC, postedDate DESC NULLS LAST, noticeId DESC"""))

  /** Same transform chain fed by the DataSource V2 paginated
    * connector ([[graft.sources.PagedJsonSource]], S1 semantics:
    * parallel page partitions + truncation) instead of inline
    * from_json. Shares q_sam_pipeline's oracle — identical output is
    * exactly the claim, so the connector itself is oracle-checked. */
  val restIngest: Q = Q(
    "q_rest_ingest",
    (s, _) => {
      val raw = s.read.format("graft.sources.PagedJsonSource")
        .option("page_size", 3).option("max_records", 500).load()
      val packed = raw.select(struct(raw.columns.map(col): _*).as("r"))
      transform(s, packed)
    },
    samPipeline.oracle)

  /** Error-tolerant ingest: PERMISSIVE JSON parsing with a corrupt-
    * record column — the row-level analog of the reference's
    * `errors="coerce"` (F4: bad values become null and the row
    * SURVIVES; here bad RECORDS become a quarantine row instead of
    * failing the job — at 100 TB a fail-on-first-bad-byte ingest
    * never finishes). The landing zone is customer re-staged as
    * JSON-lines plus 25 deterministically planted garbage lines;
    * valid rows must parse losslessly (per-segment counts match the
    * oracle over the ORIGINAL table) and the corrupt count must be
    * exactly the plant — over- or under-quarantine both break the
    * hash. */
  val badRecords: Q = Q(
    "q_bad_records",
    (s, _dir) => {
      val stage = graft.Staging.dir(s, "graft_bad_records")
      graft.Tables.load(s, _dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .write.mode("overwrite").json(stage)
      s.range(25)
        .select(concat(lit("{corrupt json line #"), col("id")).as("value"))
        .write.mode("append").text(stage)
      s.read
        .schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stage)
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("_corrupt_record")).as("n_corrupt"))
        .orderBy(asc_nulls_first("segment"))
    },
    Some("""
      SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(0 AS BIGINT) AS n_corrupt
      FROM customer GROUP BY c_mktsegment
      UNION ALL
      SELECT NULL AS segment, CAST(25 AS BIGINT) AS n_rows,
             CAST(25 AS BIGINT) AS n_corrupt
      ORDER BY segment ASC NULLS FIRST"""))

  /** DSv2 WRITE → READ roundtrip — exercises the connector's
    * transactional batch-write path ([[graft.sources.PagedJsonTable
    * .newWriteBuilder]]) end to end with corpus data: documents are
    * mapped into the SAM shape (every field exercised, including the
    * nested officeAddress struct and free text with whatever
    * characters the corpus carries), written through the connector's
    * stage→commit protocol into its single JSON-lines log, read BACK
    * through the paged reader (page_size 7 → multi-partition paging
    * over the written file), and surfaced ordered — so one mangled
    * escape, lost row, double-promoted task file, or page-boundary
    * bug anywhere in writer or reader breaks the hash against an
    * oracle that never touches JSON at all. In-query audit: the
    * commit manifest `_SUCCESS` must exist and carry the exact row
    * count, and the staging dir must be GONE (commit cleans up).
    *
    * Scale shape: the write is one scan fanned across tasks (each
    * staging its own file — the two-phase protocol is what survives
    * retries/speculation at 1000 executors); the read is the audited
    * paged scan. The fn deletes the landing dir first so re-execution
    * is idempotent (append semantics would double the log). */
  val dsv2Write: Q = Q(
    "q_dsv2_write",
    (s, dir) => {
      val out = graft.Staging.keyed(s, "graft_dsv2_write", dir)
      // recursive clean: a stale non-empty _staging_<oldQueryId> dir
      // left by a hard-killed prior run would survive a flat delete
      // and then falsely trip the staging-dir audit below
      def deleteRec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
        f.delete()
      }
      val d = new java.io.File(out)
      if (d.exists()) deleteRec(d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      val sam = graft.Tables.load(s, dir, "documents").select(
        col("doc_id").cast("string").as("noticeId"),
        trim(col("text")).as("title"),
        concat(lit("SOL-"), col("doc_id")).as("solicitationNumber"),
        upper(col("source")).as("fullParentPathName"),
        lit("2025-05-14").as("postedDate"),
        lit("Veteran-Owned Small Business Set-Aside")
          .as("typeOfSetAsideDescription"),
        col("n_chars").cast("string").as("naicsCode"),
        struct(col("lang").as("city"), upper(col("lang")).as("state"))
          .as("officeAddress"),
        concat(lit("https://sam.gov/"), col("doc_id")).as("uiLink"))
      sam.write.format("graft.sources.PagedJsonSource")
        .mode("append").option("path", out).save()
      val nWritten = sam.count()
      val manifest = java.nio.file.Paths.get(out, "_SUCCESS")
      Audit.check("_SUCCESS manifests the commit left",
        if (java.nio.file.Files.exists(manifest)) 1 else 0, Audit.equal(1))
      val manifestRows = new String(
        java.nio.file.Files.readAllBytes(manifest), "UTF-8").trim.toLong
      Audit.check("manifest rows (bound: rows written)", manifestRows, Audit.equal(nWritten))
      Audit.check("staging dirs the commit left behind",
        d.listFiles().count(_.getName.startsWith("_staging")), Audit.equal(0))
      val back = s.read.format("graft.sources.PagedJsonSource")
        .option("path", s"$out/records.jsonl")
        .option("page_size", 7).option("max_records", Int.MaxValue)
        .load()
      back.select(col("noticeId").cast("long").as("doc_id"),
          col("title"), col("naicsCode").cast("long").as("n_chars"),
          col("officeAddress.city").as("lang"),
          col("officeAddress.state").as("lang_up"),
          col("fullParentPathName").as("source_up"))
        .orderBy("doc_id").limit(50)
    },
    Some("""
      SELECT CAST(doc_id AS BIGINT) AS doc_id, trim(text) AS title,
             CAST(n_chars AS BIGINT) AS n_chars, lang,
             upper(lang) AS lang_up, upper(source) AS source_up
      FROM documents ORDER BY doc_id LIMIT 50"""))

  val all: Seq[Q] = Seq(samPipeline, restIngest, badRecords, dsv2Write)
}
