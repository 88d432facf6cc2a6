package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A read whose result is checked after the timed part against the
  * workload's model, evaluated lazily at check time. */
final case class ReadRecord(op: Int, name: String, rows: Seq[Row],
    expected: () => Seq[Row])

/** Closed-loop operation runner: times each operation, counts
  * attempts and failures, keeps read results for the correctness
  * check, and (traced run) opens the operation span and tags Spark
  * jobs with the operation id. */
final class Recorder(spark: SparkSession, val tr: Tracer) {
  val commits = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  val maints = mutable.ArrayBuffer.empty[Double]
  val readRecords = mutable.ArrayBuffer.empty[ReadRecord]
  val failures = mutable.ArrayBuffer.empty[String]
  val readOps = mutable.ArrayBuffer.empty[Int]
  val deleteDepths = mutable.ArrayBuffer.empty[Int]
  /** (operation, seconds) of every operation that returned, in order. */
  val timeline = mutable.ArrayBuffer.empty[(String, Double)]
  /** Seconds of every operation that returned, by operation id. */
  val opSeconds = mutable.HashMap.empty[Int, Double]
  var attempted = 0L
  var rowsCommitted = 0L
  var writeSeconds = 0.0
  var planSeconds = 0.0
  var rowsReturned = 0L
  private var opSeq = 0

  def failed: Long = failures.size.toLong

  /** Run one operation; returns its seconds, or None when it threw. */
  def op[A](name: String, counted: Boolean = true)(body: => A): Option[(A, Double)] = {
    opSeq += 1
    val id = opSeq
    if (counted) attempted += 1
    val sc = spark.sparkContext
    if (tr.enabled) sc.setLocalProperty(SparkCounters.OpProp, id.toString)
    val t0 = System.nanoTime()
    try {
      val a = tr.opSpan(id, s"op.$name")(body)
      val dt = (System.nanoTime() - t0) / 1e9
      timeline += ((name, dt))
      opSeconds(id) = dt
      Some((a, dt))
    } catch {
      case NonFatal(e) =>
        if (!counted) attempted += 1
        failures += s"$name: $e"
        System.err.println(s"[perfbench] operation $name failed")
        e.printStackTrace()
        None
    } finally if (tr.enabled) sc.setLocalProperty(SparkCounters.OpProp, null)
  }

  def nextOpId: Int = opSeq + 1

  /** A write call that commits `rows` user rows. */
  def commit(name: String, rows: Long)(body: => Any): Unit =
    op(name)(body).foreach { case (_, s) =>
      commits += s; rowsCommitted += rows; writeSeconds += s
    }

  def maint(name: String)(body: => Any): Unit =
    op(name)(body).foreach { case (_, s) => maints += s }

  /** A read: `mk` builds the DataFrame (planning in the caller's span),
    * the collect runs under `sql.exec`. */
  def read(name: String, expected: () => Seq[Row])(mk: => DataFrame): Unit = {
    val id = nextOpId
    op(name) {
      val df = mk
      val rows = tr.span("sql.exec")(df.collect()).toSeq
      (df, rows)
    }.foreach { case ((df, rows), s) =>
      reads += s
      readOps += id
      rowsReturned += math.max(1, rows.size)
      planSeconds += df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
      readRecords += ReadRecord(id, name, rows, expected)
    }
  }

  /** Compare every recorded read with its model; mismatches count as
    * failed operations. */
  def checkReads(): Unit = readRecords.foreach { r =>
    val want = r.expected()
    if (!Check.sameRows(r.rows, want))
      failures += s"${r.name} (op ${r.op}) returned ${Check.show(r.rows)}, model says ${Check.show(want)}"
  }
}

object Check {
  private def norm(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case d: Double => f"$d%.6e"
    case other => other
  }
  private def key(r: Row): String = r.toSeq.map {
    case _: Double => ""
    case v => String.valueOf(norm(v))
  }.mkString("|")

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Number, y: Number) if !x.isInstanceOf[Double] =>
      norm(x) == norm(y) || new java.math.BigDecimal(x.toString)
        .compareTo(new java.math.BigDecimal(y.toString)) == 0
    case _ => a == b
  }

  /** Order-insensitive row equality; doubles within 1e-9 relative. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
    }

  def show(rows: Seq[Row]): String = {
    val s = rows.take(3).map(_.mkString("[", ",", "]")).mkString(" ")
    if (rows.size > 3) s"$s ... (${rows.size} rows)" else s
  }

  /** Order-independent content digest: row count and two 32-bit halves
    * of the summed per-row xxhash64. */
  def digest(df: DataFrame): String = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).first()
    f"${r.getLong(0)}%d-${r.getLong(1)}%x-${r.getLong(2)}%x"
  }
}

/** Bytes under a directory, file by file, to measure what a run wrote
  * (new files, growth of appended files, rewrites) and what it stores. */
final case class DirSnap(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.values.map(_._1).sum

  /** Bytes written between `this` and `later`. */
  def writtenUntil(later: DirSnap, only: String => Boolean = _ => true): Long =
    later.files.iterator.filter(e => only(e._1)).map { case (p, (size, mtime)) =>
      files.get(p) match {
        case None => size
        case Some((s0, _)) if size > s0 => size - s0 // appended
        case Some((_, m0)) if mtime != m0 => size // rewritten
        case _ => 0L
      }
    }.sum
}

object DirSnap {
  def of(dir: Path): DirSnap =
    if (!Files.isDirectory(dir)) DirSnap(Map.empty)
    else DirSnap(Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap)
}

object Stats {
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the usual `numpy` definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/75/90/95/99 with at least ten samples beyond it. */
  def supported(n: Int): Option[Double] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10)
}
