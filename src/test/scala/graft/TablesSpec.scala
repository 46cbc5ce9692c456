package graft

import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import java.nio.file.Files

/** Pins `Tables.load`'s timestamp-normalization contract: whatever
  * physical encoding the corpus generator ships for `events.ts`
  * (nanos-as-long, micros-NTZ, or plain TIMESTAMP), the loader must
  * surface Spark `TimestampType` with identical instants. Round 10
  * shipped blind when the generator switched nanos→micros-NTZ and
  * every watermark operator started rejecting the column; this suite
  * makes the next encoding drift a test failure, not a driver one.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(): String =
    Files.createTempDirectory("graft_tables_fixture").toString

  // One known instant, expressed per-encoding below. UTC session is
  // forced by TestSpark, so NTZ wall clock == UTC instant.
  private val wall = "2024-01-01 12:34:56.789012"
  private val micros = 1704112496789012L

  test("micros-NTZ events.ts (current generator encoding) surfaces as TIMESTAMP") {
    val dir = fixtureDir()
    spark.sql(s"SELECT timestamp_ntz'$wall' AS ts, 7L AS user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // Pre-condition: the fixture really is NTZ on disk.
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == TimestampNTZType)
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.selectExpr("unix_micros(ts)").as[Long].head() == micros)
  }

  test("nanos-as-long events.ts (pre-Aug-13 encoding) surfaces as TIMESTAMP") {
    // Spark cannot WRITE TIMESTAMP(NANOS) parquet; under
    // nanosAsLong=true a genuine nanos column reads back as LongType,
    // which is byte-for-byte what an INT64 fixture produces — so this
    // exercises the identical loader branch.
    val dir = fixtureDir()
    Seq((micros * 1000L + 345L, 7L)).toDF("ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    // nanos truncate (not round) to micros, matching DuckDB.
    assert(got.selectExpr("unix_micros(ts)").as[Long].head() == micros)
  }

  test("plain TIMESTAMP events.ts passes through unchanged") {
    val dir = fixtureDir()
    spark.sql(s"SELECT timestamp'$wall' AS ts, 7L AS user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables.load(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.selectExpr("unix_micros(ts)").as[Long].head() == micros)
  }

  test("non-events tables: any NTZ column is normalized too") {
    val dir = fixtureDir()
    spark.sql(s"SELECT 1L AS o_orderkey, timestamp_ntz'$wall' AS o_touched")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Tables.load(spark, dir, "orders")
    assert(got.schema("o_touched").dataType == TimestampType)
  }

  test("corpus contract canary: every table loads with the FIXTURES.md schema") {
    // The full data-boundary contract, one assertion per (table,
    // column): if the corpus generator drifts ANY physical type again
    // (r10: events.ts nanos→micros-NTZ), this fails in `sbt test`
    // with the exact column named, before 190+ driver queries do.
    import org.apache.spark.sql.types._
    val expected: Map[String, Seq[(String, DataType)]] = Map(
      "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
      "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType),
      "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
        "user_id" -> LongType, "event_type" -> StringType,
        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Seq("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
    assert(expected.keySet == Tables.all.toSet)
    for (name <- Tables.all) {
      val got = Tables.load(spark, sf001, name).schema
      for ((colName, dt) <- expected(name)) {
        assert(got.fieldNames.contains(colName), s"$name: missing column $colName")
        val gdt = got(colName).dataType
        val ok = (gdt, dt) match {
          // element nullability is a writer detail, not a contract term
          case (ArrayType(a, _), ArrayType(b, _)) => a == b
          case _ => gdt == dt
        }
        assert(ok, s"$name.$colName: expected $dt, corpus now delivers $gdt")
      }
      assert(Tables.load(spark, sf001, name).limit(1).count() == 1L,
        s"$name: empty at sf0.001")
    }
  }

  test("signature walk survives a symlink cycle and lists each leaf once") {
    val tbl = java.nio.file.Paths.get(fixtureDir(), "orders.parquet")
    Files.createDirectories(tbl)
    Files.write(tbl.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // a directory symlink back to its own parent: following it
    // unguarded re-lists the same leaf at ever deeper paths
    Files.createSymbolicLink(tbl.resolve("loop"), tbl)
    val sig = Tables.signature(tbl.toString)
    assert(sig.isDefined)
    assert(sig.get.split('\u0002').toSeq ===
      Seq(s"$tbl/part-0.parquet\u00013\u0001${tbl.resolve("part-0.parquet").toFile.lastModified}"))
  }

  test("driver corpus: events.ts loads as TIMESTAMP at sf0.001") {
    val got = Tables.load(spark, sf001, "events")
    assert(got.schema("ts").dataType == TimestampType)
    // and the watermark operator accepts it — the exact call that
    // failed in round 10.
    got.withWatermark("ts", "1 hour")
    assert(got.selectExpr("unix_micros(ts)").limit(1).count() == 1L)
  }
}
