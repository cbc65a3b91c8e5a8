package graft

/** Optimization-round evidence tool: write `.explain("formatted")` for the
  * named queries to files the judge can diff (plans/rNN/<q>_{before,after}).
  * Usage: runMain graft.PlanDump <outDir> <suffix> <name1,name2,...>
  * Runs at sf0.1 with the bench session config so the plan (join strategy,
  * partitioning) matches what the bench executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val txt = try {
        val df = fn(spark, sfDir)
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable =>
        s"ERROR building $n: ${e.getClass.getName}: ${e.getMessage}"
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
