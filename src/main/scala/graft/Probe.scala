package graft

/** Dev tool: run named queries (or all, with no args) against
  * SPARK_GRAFT_SF_DIR and print row count + wall time per query —
  * the quick local loop for checking a recall count or a timing
  * without a full Verify/Bench cycle.
  *
  * Usage: sbt "runMain graft.Probe q_ann_lsh q_ann_ivf"
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      val t0 = System.nanoTime()
      try {
        val c = SparkEntry.queries(n)(spark, sfDir).count()
        println(f"PROBE $n rows=$c time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch { case e: Throwable =>
        println(s"PROBE $n FAILED: ${e.getMessage}")
      }
      GraftSession.quiesce(spark)
    }
    spark.stop()
  }
}
