package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.catalog.{Catalog, DataFileEntry, Snapshot, SnapshotRef, TableMetadata}

/** One recorded interval. `parent` is the enclosing span's id (-1 for
  * a top-level operation); `op` is the operation the span belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder used by the traced run. Spans are opened by
  * the benchmark's own code around each call into an engine layer. A
  * span opened on another thread while an operation runs (the streaming
  * micro-batch thread, while the operation's thread waits in the stream
  * call) is parented to the innermost span open on the operation's
  * thread. Disabled, `span` is a plain call. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  // the running operation (op id, its thread) and that thread's open spans
  @volatile private var current: Option[(Int, Thread)] = None
  @volatile private var ownerStack: List[Int] = Nil
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  private def push(id: Int): Unit = {
    stack.set(id :: stack.get())
    if (current.exists(_._2 eq Thread.currentThread)) ownerStack = stack.get()
  }
  private def pop(): Unit = {
    stack.set(stack.get().tail)
    if (current.exists(_._2 eq Thread.currentThread)) ownerStack = stack.get()
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      val parent = stack.get().headOption.orElse(ownerStack.headOption).getOrElse(-1)
      val opId = current.map(_._1).getOrElse(-1)
      push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        pop()
        synchronized { spans += Span(id, name, t0, t1, parent, opId) }
      }
    }

  /** Top-level operation span: every span opened until it closes
    * belongs to operation `opId`. */
  def opSpan[A](opId: Int, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = newId()
      current = Some((opId, Thread.currentThread))
      push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        pop()
        current = None
        ownerStack = Nil
        synchronized { spans += Span(id, name, t0, t1, -1, opId) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Total seconds in spans called `name`. */
  def total(name: String): Double = all.filter(_.name == name).map(_.seconds).sum
  def count(name: String): Int = all.count(_.name == name)

  /** Self time = duration minus the part covered by direct children. */
  def selfTimes: Map[Int, Double] = {
    val ss = all
    val childSum = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Self seconds summed per layer (`op`, `pipeline`, `table`, ...). */
  def selfByLayer: Map[String, Double] = {
    val self = selfTimes
    all.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Per operation: (op id, sum of layer self times within it, smallest
    * self time). */
  def opBalance: Seq[(Int, Double, Double)] = {
    val self = selfTimes
    val ss = all
    ss.filter(_.name.startsWith("op.")).map { o =>
      val mine = ss.filter(_.op == o.op).map(s => self(s.id))
      (o.op, mine.sum, mine.min)
    }
  }

  /** Spans that are not an operation's top-level span and whose parent is
    * missing or belongs to another operation. */
  def misparented: Seq[Span] = {
    val ss = all
    val byId = ss.map(s => s.id -> s).toMap
    ss.filterNot { s =>
      if (s.parent == -1) s.name.startsWith("op.") && s.op != -1
      else byId.get(s.parent).exists(_.op == s.op)
    }
  }

  def writeJsonl(out: Path): Unit = {
    java.nio.file.Files.createDirectories(out.getParent)
    val t0 = all.map(_.startNs).minOption.getOrElse(0L)
    val lines = all.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_s":${(s.startNs - t0) / 1e9}%.6f,""" +
        f""""end_s":${(s.endNs - t0) / 1e9}%.6f,"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.writeString(out, lines.mkString("", "\n", "\n"))
  }
}

/** Delegating [[Catalog]] that opens a span around snapshot-log replay
  * (`snapshots`, `currentSnapshot`, the replay window, `loadTable`) and
  * around `commit`. Everything else passes straight through; the
  * implementation-storage hooks the trait keeps protected are reached
  * through their (public) JVM methods on the delegate. */
final class TracingCatalog(val inner: Catalog, tr: Tracer) extends Catalog {
  private def hook(name: String, params: Class[_]*) =
    classOf[Catalog].getMethod(name, params: _*)

  override def createNamespace(ns: String): Unit = inner.createNamespace(ns)
  override def namespaceExists(ns: String): Boolean = inner.namespaceExists(ns)
  override def listNamespaces(): Seq[String] = inner.listNamespaces()
  override def tableExists(ns: String, t: String): Boolean = inner.tableExists(ns, t)
  override def createTable(ns: String, name: String, schema: StructType,
      partitionColumns: Seq[String], properties: Map[String, String],
      ifNotExists: Boolean): TableMetadata =
    inner.createTable(ns, name, schema, partitionColumns, properties, ifNotExists)
  override def loadTable(ns: String, t: String): TableMetadata =
    tr.span("catalog.replay")(inner.loadTable(ns, t))
  override def dropTable(ns: String, t: String): Unit = inner.dropTable(ns, t)
  override def listTables(ns: String): Seq[String] = inner.listTables(ns)
  override def renameTable(ns: String, t: String, newName: String): TableMetadata =
    inner.renameTable(ns, t, newName)
  override def dataDir(ns: String, t: String): Path = inner.dataDir(ns, t)
  override def updateSchema(ns: String, t: String, schema: StructType): TableMetadata =
    inner.updateSchema(ns, t, schema)
  override def updateProperties(ns: String, t: String,
      set: Map[String, String], unset: Seq[String]): TableMetadata =
    inner.updateProperties(ns, t, set, unset)
  override def updatePartitionSpec(ns: String, t: String,
      partitionColumns: Seq[String]): TableMetadata =
    inner.updatePartitionSpec(ns, t, partitionColumns)
  override def snapshots(ns: String, t: String): Seq[Snapshot] =
    tr.span("catalog.replay")(inner.snapshots(ns, t))
  override def currentSnapshot(ns: String, t: String): Option[Snapshot] =
    tr.span("catalog.replay")(inner.currentSnapshot(ns, t))
  override protected[graft] def windowSnapshots(ns: String, t: String,
      asOf: Option[Long]): Seq[Snapshot] =
    tr.span("catalog.replay")(inner.windowSnapshots(ns, t, asOf))
  override def commit(ns: String, t: String, operation: String,
      files: Seq[DataFileEntry], summary: Map[String, String],
      expectedSnapshotId: Option[Long], parentIdOverride: Option[Long]): Snapshot =
    tr.span("catalog.commit")(
      inner.commit(ns, t, operation, files, summary, expectedSnapshotId, parentIdOverride))
  override def checkpointInterval: Int = inner.checkpointInterval
  override def refs(ns: String, t: String): Map[String, SnapshotRef] = inner.refs(ns, t)

  override protected def writeRefs(ns: String, t: String,
      all: Map[String, SnapshotRef]): Unit = {
    hook("writeRefs", classOf[String], classOf[String], classOf[Map[_, _]])
      .invoke(inner, ns, t, all); ()
  }
  override protected def replaceLog(ns: String, t: String, kept: Seq[Snapshot]): Unit = {
    hook("replaceLog", classOf[String], classOf[String], classOf[Seq[_]])
      .invoke(inner, ns, t, kept); ()
  }
  override protected def withTableMutex[A](ns: String, t: String)(body: => A): A =
    hook("withTableMutex", classOf[String], classOf[String], classOf[Function0[_]])
      .invoke(inner, ns, t, () => body).asInstanceOf[A]
}

/** Spark task and job counters, attributed to the benchmark operation
  * whose id was in the submitting thread's local property
  * [[SparkCounters.OpProp]] (streaming micro-batch threads inherit it
  * from the thread that started the query). */
final class SparkCounters extends SparkListener {
  import SparkCounters._
  final class Acc {
    var jobs, tasks = 0L
    var runMs, gcMs, shuffleBytes, bytesWritten, bytesRead, recordsRead = 0L
  }
  private val stageOp = mutable.HashMap.empty[Int, Int]
  val byOp = mutable.HashMap.empty[Int, Acc]

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(OpProp))).map(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      byOp.getOrElseUpdate(op, new Acc).jobs += 1
      e.stageIds.foreach(s => stageOp(s) = op)
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).foreach(op => stageOp(e.stageInfo.stageId) = op)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = byOp.getOrElseUpdate(op, new Acc)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }
  def sum(ops: Iterable[Int])(f: Acc => Long): Long =
    synchronized(ops.flatMap(byOp.get).map(f).sum)
  def sumAll(f: Acc => Long): Long = synchronized(byOp.values.map(f).sum)
}

object SparkCounters {
  val OpProp = "perfbench.op"
}

/** Per-trigger streaming progress: (input rows, triggerExecution ms,
  * addBatch ms) for every micro-batch that carried data. Recorded on
  * both runs: a trigger is the commit unit of the streaming sink. */
final class StreamProgress extends StreamingQueryListener {
  val triggers = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      triggers += ((p.numInputRows, ms("triggerExecution"), ms("addBatch")))
    }
  }
  def snapshot: Seq[(Long, Long, Long)] = synchronized(triggers.toList)
}
