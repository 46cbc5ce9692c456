package graft

import graft.ops.Pipeline

/** E1 end-to-end: DSv2 source → filter/transform → parquet →
  * catalog → SQL, through real storage. */
class PipelineSpec extends SparkSpec {

  test("full lambda_handler-equivalent run produces the scored, ranked result") {
    val out = TestSpark.tempDir("graft_pipeline")
    val result = Pipeline.run(spark, out).collect()
    // fixture: 5 veterans survive, 4 have recencyScore >= 4? (N007=5,
    // N001=4 qualify; N008=3, N002=2, N006=1 do not)
    assert(result.map(_.getAs[String]("title")).toSeq ==
      Seq("Janitorial", "Cloud Migration"))
    assert(result.forall(_.getAs[Long]("recencyScore") >= 4L))
    // the parquet snapshot is really on disk with the full 15-col schema
    val written = spark.read.parquet(s"$out/contracts")
    assert(written.count() == 5)
    assert(written.columns.length == 15)
  }
}
