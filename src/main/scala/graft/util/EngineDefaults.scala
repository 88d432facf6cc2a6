package graft.util

import org.apache.spark.sql.SparkSession

/** Session-builder engine defaults shared by every graft entry point
  * (Bench / Verify / PlanDump / Profile / tests). Each entry is an
  * ENGINE-LEVEL setting that applies to every query identically — never
  * a per-query tune.
  */
object EngineDefaults {

  /** The one local session every entry point runs on: `local[cpus]`
    * with as many shuffle partitions, UTC session time, the graft SQL
    * extensions, no UI, plus [[confs]]. */
  def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** All conf pairs, in one place so the bench/verify/test sessions
    * cannot drift apart. */
  val confs: Seq[(String, String)] = LocalFs.confs ++ Seq(
    // Spark 4.1's checkpoint-file checksums (ChecksumCheckpointFileManager)
    // add one checksum-file write + a blocking await per STATE FILE per
    // micro-batch commit. Thread-dump sampling of the interval-join gates
    // showed whole task waves parked in its awaitResult; disabling restores
    // the ≤4.0 checkpoint format and measured the outer-interval-join
    // stream run 9.4 s → 3.9 s warm (round 18). The cost is per-file, so
    // any high-frequency-commit streaming deployment pays it regardless of
    // cluster size; corruption detection on ephemeral scratch checkpoints
    // buys nothing here. Production jobs wanting end-to-end corruption
    // detection re-enable it per stream.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
}
