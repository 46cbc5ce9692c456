package graft

import org.apache.spark.sql.functions._
import graft.llm.RecallAudit

/** The rows-only queries must be SELF-defending: a silent recall
  * degradation has to throw into the driver's `err` field, not just
  * fail a ScalaTest floor. These tests prove the floor actually
  * trips — a degraded index cannot return a green (smaller) result. */
class RecallAuditSpec extends SparkSpec {
  import spark.implicits._

  test("assertFloor passes at or above the floor and returns the same rows") {
    val df = Seq((1L, 1L, 2L), (2L, 1L, 3L)).toDF("query_id", "rank", "neighbor_id")
    val out = RecallAudit.assertFloor(df, floor = 2, what = "test")
    assert(out.count() === 2)
    out.unpersist()
  }

  test("assertFloor throws below the floor (degraded index trips the harness)") {
    val df = Seq((1L, 1L, 2L)).toDF("query_id", "rank", "neighbor_id")
    val e = intercept[IllegalStateException] {
      RecallAudit.assertFloor(df, floor = 5, what = "degraded-test")
    }
    assert(e.getMessage.contains("degraded-test"))
    assert(e.getMessage.contains("confirmed rows: measured 1, bound >= 5"), e.getMessage)
  }

  test("assertFloor throws on a fully-empty result (zero-row degradation)") {
    val df = Seq.empty[(Long, Long, Long)].toDF("query_id", "rank", "neighbor_id")
    val e = intercept[IllegalStateException] {
      RecallAudit.assertFloor(df, floor = 1, what = "empty-test")
    }
    assert(e.getMessage.contains("empty-test confirmed rows: measured 0, bound >= 1"),
      e.getMessage)
  }

  test("assertPlantedPairs passes when every planted pair is recovered") {
    val df = Seq((0L, 1000000L, 0.99), (1L, 1000001L, 0.98), (7L, 42L, 0.97))
      .toDF("doc_a", "doc_b", "sim")
    val out = RecallAudit.assertPlantedPairs(df, "doc_a", "doc_b",
      plantN = 2, what = "test")
    assert(out.count() === 3) // natural pairs ride along untouched
    out.unpersist()
  }

  test("assertPlantedPairs throws when a planted pair is missing") {
    // plant 0 recovered, plant 1 missing; a natural pair can't mask it
    val df = Seq((0L, 1000000L, 0.99), (7L, 42L, 0.97)).toDF("doc_a", "doc_b", "sim")
    val e = intercept[IllegalStateException] {
      RecallAudit.assertPlantedPairs(df, "doc_a", "doc_b",
        plantN = 2, what = "planted-test")
    }
    assert(e.getMessage.contains("planted pairs recovered: measured 1, bound >= 2"),
      e.getMessage)
  }

  test("annAudit trips the floor for a deliberately broken index") {
    // an "index" that always returns an empty result — the strongest
    // silent-degradation shape (no rows, no error, previously green)
    val e = intercept[IllegalStateException] {
      RecallAudit.annAudit(spark, sf001, floor = 38, what = "broken") {
        (q, corpus) =>
          corpus.filter(lit(false))
            .select(col("vec_id").as("query_id"),
              lit(1L).as("rank"), col("vec_id").as("neighbor_id"))
      }
    }
    assert(e.getMessage == "broken confirmed rows: measured 0, bound >= 38", e.getMessage)
  }

  test("annAudit trips the planted-copy floor when plants are missed") {
    // an index that is blind to the planted ids — natural-neighbor
    // hits keep the total floor green, but 0/8 planted must throw
    val e = intercept[IllegalStateException] {
      RecallAudit.annAudit(spark, sf001, floor = 1, what = "plant-blind") {
        (q, corpus) =>
          graft.llm.Similarity.exactTopK(q, corpus.filter(col("vec_id") < 1000000L))
      }
    }
    assert(e.getMessage.contains("planted exact copies retrieved: measured 0, bound >= 8"),
      e.getMessage)
  }

  test("floor margins: every ANN audit measures ≥ floor+1 at sf0.001 AND sf0.01") {
    // The PQ floor sat 2 below its sf0.1 measurement in round 9 — one
    // more data-growth step away from a false alarm. This pins the
    // margin at both test scales so erosion surfaces in `sbt test`
    // BEFORE a driver run records an `err`. (The measured value IS the
    // declared query's row count: annAudit returns only confirmed
    // hits.)
    val audits = Seq(
      ("q_ann_lsh", RecallAudit.LshFloor),
      ("q_ann_ivf", RecallAudit.IvfFloor),
      ("q_ann_pq", RecallAudit.PqFloor),
      ("q_ann_ivfpq", RecallAudit.IvfPqFloor),
      ("q_ann_ivf_incremental", RecallAudit.IvfIncFloor))
    for (dir <- Seq(sf001, "/root/testdata/sf0.01"); (name, floor) <- audits) {
      val measured = SparkEntry.queries(name)(spark, dir).count()
      assert(measured >= floor + 1,
        s"$name at $dir: measured $measured has no margin above floor $floor")
      spark.catalog.clearCache()
    }
  }

  test("annAudit passes a genuine index through unchanged (LSH shape)") {
    val out = RecallAudit.annAudit(spark, sf001, floor = 1, what = "lsh-smoke") {
      (q, corpus) => graft.llm.Similarity.annTopK(q, corpus)
    }
    // 8 queries × k=5 slots, planted copies guarantee retrievable hits
    assert(out.count() >= 8)
    assert(out.columns.toSeq === Seq("query_id", "rank", "neighbor_id"))
    spark.catalog.clearCache()
  }
}
