package graft

/** Dev tool: write `.explain("formatted")` for named `SparkEntry.queries`
  * (all of them with no args) to one file per query under an output dir.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.PlanDump target/plans q01_pricing_summary ..."
  *
  * Queries with side effects (lake / stream lifecycle gates) run their
  * setup as part of building the DataFrame — use a small sf. Streaming
  * memory-sink results explain as a LocalTableScan; the file is still
  * written so the sweep is total, but the interesting plans are the
  * batch/lake ones.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = args.headOption.getOrElse("target/plans")
    val spark = graft.util.EngineDefaults.session(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val fn = SparkEntry.queries.getOrElse(
        name, sys.error(s"unknown query '$name'"))
      val txt =
        try {
          val df = fn(spark, sfDir)
          val qe = df.queryExecution
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        } catch {
          case e: Throwable => s"EXPLAIN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name.txt"),
        txt.getBytes("UTF-8"))
      println(s"[PLAN] $name -> $outDir/$name.txt")
    }
    spark.stop()
  }
}
