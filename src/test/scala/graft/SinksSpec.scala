package graft

import org.apache.spark.sql.functions._
import graft.ops.Sinks

/** Sink round-trips + partition pruning via the partitioned layout. */
class SinksSpec extends SparkSpec {

  private def tmp(): String =
    TestSpark.tempDir("graft_sink")

  test("parquet snapshot round-trip preserves rows and schema") {
    val dir = tmp()
    val src = Tables.load(spark, sf001, "nation")
    Sinks.parquetSnapshot(src, s"$dir/nation")
    val back = spark.read.parquet(s"$dir/nation")
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
  }

  test("partitioned parquet: hive layout exists and pruned scan reads one partition") {
    val dir = tmp()
    val src = Tables.load(spark, sf001, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    Sinks.partitionedParquet(src, s"$dir/orders", "o_year")
    assert(new java.io.File(s"$dir/orders/o_year=1997").exists())
    val pruned = spark.read.parquet(s"$dir/orders").filter(col("o_year") === 1997)
    val expected = src.filter(col("o_year") === 1997).count()
    assert(pruned.count() == expected)
    // partition pruning visible in the scan: only one o_year directory read
    val scanStr = pruned.queryExecution.executedPlan.toString
    assert(scanStr.contains("o_year=1997") || !scanStr.contains("o_year=1998"))
  }

  test("csv export round-trip with header") {
    val dir = tmp()
    val src = Tables.load(spark, sf001, "region")
    Sinks.csvResults(src, s"$dir/region_csv")
    val back = spark.read.option("header", "true").csv(s"$dir/region_csv")
    assert(back.count() == src.count())
    assert(back.columns.toSeq == src.columns.toSeq)
  }

  test("bucketed co-located join: no exchange on either side") {
    val orders = Tables.load(spark, sf001, "orders")
    val customer = Tables.load(spark, sf001, "customer")
    Sinks.bucketedTable(orders, "orders_b", 8, "o_custkey")
    Sinks.bucketedTable(
      customer.withColumn("c_custkey", col("c_custkey")), "customer_b", 8, "c_custkey")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val j = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(j.count() == orders.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("catalog registration replaces the Glue crawler (S4): SQL over the view") {
    Sinks.registerView(Tables.load(spark, sf001, "region"), "contracts_like")
    assert(spark.sql("SELECT count(*) FROM contracts_like").collect().head.getLong(0) == 5L)
  }

  test("schema evolution: legacy generation null-backfills, nothing lost") {
    val out = Sinks.schemaEvolution.fn(spark, sf001).collect()
    val o = Tables.load(spark, sf001, "orders")
    val legacy = o.filter(col("o_orderkey") % 2 === 0).count()
    assert(out.map(_.getAs[Long]("n_legacy")).sum == legacy,
      "null priorities == exactly the pre-column generation's rows")
    assert(out.map(_.getAs[Long]("n_orders")).sum == o.count(), "no rows lost")
  }
}
