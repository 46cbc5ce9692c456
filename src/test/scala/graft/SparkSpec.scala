package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * ScalaTest runs suites sequentially in the forked JVM). Everything the
  * suites write lives under one per-JVM root — the session's staging
  * base and warehouse, and each [[tempDir]] — which is deleted when the
  * JVM exits, after Spark's own shutdown hooks. */
object TestSpark {
  lazy val root: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_test")
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile), 1)
    dir
  }

  /** A fresh directory under [[root]]. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // session requirement of the typed imperative aggregates
    // (MinHashAgg, median/mode) — see graft.llm.Dedup.minhashPairs
    .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
    // short: plan strings abbreviate a scan's location to 100 characters
    .config("spark.graft.staging.dir", root.resolve("staging").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf001 = "/root/testdata/sf0.001"
}
