package graft

/** Dev tool: time named `SparkEntry.queries` cold and warm inside ONE JVM.
  *
  * Bench variance on a shared VM is huge run-to-run; the only trustworthy
  * per-query signal is a warm repeat in the same session. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.Profile dedup_minhash dedup_components"
  *
  * With no args, profiles every registered query (one cold + one warm pass).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.util.EngineDefaults.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // absorb engine bring-up so the first timed query isn't charged for it
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[PROF] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      val q = SparkEntry.queries.getOrElse(
        name, sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
      time(s"$name (cold)")(q(spark, sfDir).count())
      time(s"$name (warm)")(q(spark, sfDir).count())
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
