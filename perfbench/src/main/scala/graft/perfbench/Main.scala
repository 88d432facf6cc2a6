package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Lakehouse workload benchmark. Runs one workload by name and prints
  * one JSON line, prefixed `PERFBENCH `, with every end-to-end metric,
  * the per-layer metrics (traced run) and the correctness verdict.
  * `perfbench/run.py` builds this, runs it, and prints the result.
  *
  * Arguments: --workload NAME --seed N --trace 0|1 --work DIR
  *            [--scale full|tiny] [--spans FILE]
  */
object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def session(work: Path, cpus: Int): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
    graft.util.EngineDefaults.confs.foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** (compilations, compile seconds) so far. The compile-time histogram
    * keeps a bounded reservoir, so past that bound the sum is estimated
    * from its mean. */
  private def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val ms = if (snap.size >= n) snap.getValues.sum.toDouble else snap.getMean * n
    (n, ms / 1e3)
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").getOrElse("1").toLong
    val traced = arg(args, "--trace").contains("1")
    val tiny = arg(args, "--scale").contains("tiny")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required")))
      .toAbsolutePath
    val setups = if (tiny) 1 else 3
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload' (known: ${Workloads.names.mkString(", ")})")
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(work, cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] session: $sessionS%.3f s")
    val tr = new Tracer(traced)
    val counters = new SparkCounters
    if (traced) spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, seed, tiny, tr)

    // set-up is repeated; the median is reported and the last instance
    // runs the timed part
    val instances = (0 until setups).map { r =>
      val w = Workloads.make(workload, ctx, work.resolve(s"rep$r"))
      val s0 = System.nanoTime()
      w.setup()
      val dt = (System.nanoTime() - s0) / 1e9
      System.err.println(f"[perfbench] set-up $r: $dt%.3f s")
      (w, dt)
    }
    val w = instances.last._1
    val setupS = sessionS + Stats.median(instances.map(_._2))
    // reading every input back costs seconds, so only the traced run does it
    val fingerprint = if (traced) Inputs.fingerprint(spark, w.inputDirs) else "not computed"
    val inputBytes = Inputs.bytesOf(w.inputDirs)
    val submitted = w.submittedBytes
    instances.init.foreach { case (i, _) => i.close(); Util.deleteTree(i.dir) }

    val whBefore = DirSnap.of(w.warehouse)
    val metaBefore = w.metaDirs.map(DirSnap.of)
    val (cg0, cgs0) = codegen()
    heapPools.foreach(_.resetPeakUsage())
    val rec = new Recorder(spark, tr)
    val w0 = System.nanoTime()
    w.run(rec)
    val wallS = (System.nanoTime() - w0) / 1e9
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (cg1, cgs1) = codegen()
    val whAfter = DirSnap.of(w.warehouse)
    val metaAfter = w.metaDirs.map(DirSnap.of)

    System.err.println(f"[perfbench] timed part: $wallS%.3f s")
    val c0 = System.nanoTime()
    w.check(rec)
    val live = w.liveBytes()
    System.err.println(f"[perfbench] check: ${(System.nanoTime() - c0) / 1e9}%.3f s")

    val written = whBefore.writtenUntil(whAfter)
    val metaBytes = whBefore.writtenUntil(whAfter, !_.endsWith(".parquet")) +
      metaBefore.zip(metaAfter).map { case (a, b) => a.writtenUntil(b) }.sum
    val commits = w.commitSamples(rec)
    def timing(xs: Seq[Double]): Map[String, Any] = Map(
      "n" -> xs.size, "median_s" -> Stats.median(xs),
      "p90_s" -> Stats.quantile(xs, 0.9)) ++
      Stats.supported(xs.size).map(q => Map(
        "supported_q" -> q, "supported_s" -> Stats.quantile(xs, q))).getOrElse(Map.empty)

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wallS, "s"),
      ("commit_s", Stats.mean(commits), "s"),
      ("read_s", Stats.mean(rec.reads.toSeq), "s"),
      ("maint_s", w.maintSamples(rec).sum, "s"),
      ("rows_per_s", w.rowsCommitted(rec) / w.writeSeconds(rec), "rows/s"),
      ("write_amp", written.toDouble / submitted, "ratio"),
      ("space_amp", whAfter.bytes.toDouble / live, "ratio"))

    val layers: Seq[(String, Double, String)] = if (!traced) Seq.empty else {
      val opIds = (1 until rec.nextOpId)
      val nOps = math.max(1L, rec.attempted).toDouble
      def sum(f: counters.Acc => Long) = counters.sum(opIds)(f).toDouble
      val stream = w match {
        case s: StreamSinkJdbc => s.triggers
        case _ => Seq.empty
      }
      val self = tr.selfByLayer
      val readS = rec.reads.sum
      Seq(
        ("pipeline.apply_changes_s", tr.total("pipeline.apply_changes"), "s"),
        ("pipeline.ingest_s", tr.total("pipeline.ingest"), "s"),
        ("pipeline.upsert_s", tr.total("pipeline.upsert"), "s"),
        ("table.append_s", tr.total("table.append"), "s"),
        ("table.overwrite_partitions_s", tr.total("table.overwrite_partitions"), "s"),
        ("table.compact_s", tr.total("table.compact"), "s"),
        ("table.rewrite_delete_files_s", tr.total("table.rewrite_delete_files"), "s"),
        ("table.scan_build_s", tr.total("table.scan_build"), "s"),
        ("table.delete_depth", if (rec.deleteDepths.isEmpty) 0.0
          else rec.deleteDepths.sum.toDouble / rec.deleteDepths.size, "files"),
        ("catalog.commits", tr.count("catalog.commit").toDouble, "count"),
        ("catalog.commit_s", tr.total("catalog.commit"), "s"),
        ("catalog.replay_calls", tr.count("catalog.replay").toDouble, "count"),
        ("catalog.replay_s", tr.total("catalog.replay"), "s"),
        ("catalog.meta_bytes", metaBytes.toDouble, "bytes"),
        ("sql.plan_s", rec.planSeconds, "s"),
        ("sql.exec_s", readS - rec.planSeconds - tr.total("table.scan_build"), "s"),
        ("sql.rows_read_per_row",
          counters.sum(rec.readOps)(_.recordsRead).toDouble / math.max(1L, rec.rowsReturned),
          "ratio"),
        ("stream.batches", stream.size.toDouble, "count"),
        ("stream.sink_s", stream.map(_._3).sum / 1e3, "s"),
        ("stream.overhead_s", stream.map(t => t._2 - t._3).sum / 1e3, "s"),
        ("spark.jobs_per_op", sum(_.jobs) / nOps, "count"),
        ("spark.tasks_per_op", sum(_.tasks) / nOps, "count"),
        ("spark.executor_run_s", sum(_.runMs) / 1e3, "s"),
        ("spark.gc_s", sum(_.gcMs) / 1e3, "s"),
        ("spark.shuffle_bytes", sum(_.shuffleBytes), "bytes"),
        ("spark.bytes_written", sum(_.bytesWritten), "bytes"),
        ("spark.bytes_read", sum(_.bytesRead), "bytes"),
        ("codegen.compiles", (cg1 - cg0).toDouble, "count"),
        ("codegen.compile_s", cgs1 - cgs0, "s"),
        ("jvm.heap_peak_mb", heapPeakMb, "MB")) ++
        Seq("op", "pipeline", "table", "catalog", "sql", "stream").map(l =>
          (s"self.${l}_s", self.getOrElse(l, 0.0), "s"))
    }

    // each operation's layer self times must add up to no more than the
    // wall time the Recorder measured for it, none may be negative, and
    // every span must hang under a parent of its own operation
    val balance = tr.opBalance
    val selfOk = balance.nonEmpty && tr.misparented.isEmpty &&
      balance.forall { case (op, self, least) =>
        rec.opSeconds.get(op).exists(dt => self <= dt + 1e-6) && least >= -1e-6 }
    arg(args, "--spans").filter(_ => traced).foreach(p => tr.writeJsonl(Paths.get(p)))

    def metricMap(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "scale" -> (if (tiny) "tiny" else "full"), "cpus" -> cpus,
      "correct" -> rec.failures.isEmpty, "attempted" -> rec.attempted,
      "failed" -> rec.failed, "failures" -> rec.failures.take(20).toList,
      "fail_ratio" -> rec.failed.toDouble / math.max(1L, rec.attempted),
      "end_to_end" -> metricMap(e2e), "per_layer" -> metricMap(layers),
      "timings" -> Map("commit" -> timing(commits), "read" -> timing(rec.reads.toSeq),
        "maint" -> timing(w.maintSamples(rec)), "setup" -> timing(instances.map(_._2))),
      "inputs" -> Map("rows" -> w.inputRows, "bytes" -> inputBytes,
        "submitted_bytes" -> submitted, "fingerprint" -> fingerprint),
      "warehouse" -> Map("written_bytes" -> written, "stored_bytes" -> whAfter.bytes,
        "live_once_bytes" -> live),
      "final_digest" -> w.finalDigest,
      "operations" -> rec.timeline.map { case (n, t) => Map("op" -> n, "s" -> t) }.toList,
      "session_s" -> sessionS,
      "self_time_ok" -> selfOk,
      "ops_traced" -> balance.size)
    println("PERFBENCH " + Util.json(result))
    w.close()
    spark.stop()
    System.err.println(f"[perfbench] main: ${(System.nanoTime() - t0) / 1e9}%.3f s, JVM up " +
      f"${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3f s")
    System.out.flush()
    // lingering non-daemon threads must not hold the process open
    sys.exit(0)
  }
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => str(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
