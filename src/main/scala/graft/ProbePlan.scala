package graft

/** Dev tool: write `.explain("formatted")` of named queries to files —
  * the plans/rNN before/after evidence the optimization rounds commit.
  * For driver-loop queries (collect + rebuild shapes) the captured
  * plan is the RETURNED frame's plan, the only statically available
  * one.
  *
  * Usage: sbt "runMain graft.ProbePlan <outDir> <suffix> q_a q_b ..."
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object ProbePlan {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val suffix = args(1); val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plan] $n -> $outDir/${n}_$suffix.txt")
      GraftSession.quiesce(spark)
    }
    spark.stop()
  }
}
