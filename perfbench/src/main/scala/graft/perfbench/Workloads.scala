package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.catalog.{Catalog, JdbcCatalog, Snaplog}
import graft.pipeline.{Ingest, Upsert}
import graft.sql.GraftSqlCatalog
import graft.streaming.StreamingIngest
import graft.table.LakehouseTable

final case class Ctx(spark: SparkSession, seed: Long, tiny: Boolean, tr: Tracer)

/** One workload instance, rooted at its own directory. `setup` is
  * repeated per run to time set-up; only the last instance runs the
  * timed sequence. */
abstract class Workload(ctx: Ctx, val dir: Path) {
  val spark: SparkSession = ctx.spark
  val seed: Long = ctx.seed
  val tr: Tracer = ctx.tr
  protected val ns = "lake"

  val warehouse: Path = dir.resolve("wh")
  /** Catalog the timed calls go through (traced: the delegating wrapper). */
  protected def traced(c: Catalog): Catalog =
    if (tr.enabled) new TracingCatalog(c, tr) else c

  def setup(): Unit
  def run(rec: Recorder): Unit
  /** Checks reads and the final table state; sets [[finalDigest]]. */
  def check(rec: Recorder): Unit

  def inputDirs: Seq[Path]
  def inputRows: Long
  /** Bytes of user input handed to the timed write calls. */
  def submittedBytes: Long
  /** Directories holding catalog metadata outside the warehouse. */
  def metaDirs: Seq[Path] = Seq.empty
  /** Final live content written once, as the same partitioned parquet layout. */
  def liveBytes(): Long
  var finalDigest: String = ""

  def commitSamples(rec: Recorder): Seq[Double] = rec.commits.toSeq
  def maintSamples(rec: Recorder): Seq[Double] = rec.maints.toSeq
  def rowsCommitted(rec: Recorder): Long = rec.rowsCommitted
  def writeSeconds(rec: Recorder): Double = rec.writeSeconds
  /** Outstanding delete files of the measured table (traced run only). */
  def deleteDepth(): Int
  def close(): Unit = ()

  protected def in(name: String): Path = dir.resolve("in").resolve(name)

  protected def sqlCatalog(name: String, wh: Path, url: Option[String] = None): String = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh.toString)
    url.foreach(u => spark.conf.set(s"spark.sql.catalog.$name.url", u))
    name
  }

  protected def writeOnce(df: DataFrame, parts: Seq[String], key: String): Long = {
    val out = dir.resolve("live-once")
    df.repartition(parts.map(col): _*).sortWithinPartitions(key)
      .write.mode("overwrite").partitionBy(parts: _*).parquet(out.toString)
    Inputs.bytesOf(Seq(out))
  }

  /** Last-writer-wins replay: one row per `key`, the one with the
    * highest `seq`; rows whose winning `op` is 'D' are gone. Built from
    * plain Spark aggregates, independent of the engine's merge path. */
  protected def lww(rows: DataFrame, key: String, cols: Seq[String]): DataFrame =
    rows.groupBy(col(key).as("__k"))
      .agg(max(struct(col("seq"), col("op"), struct(cols.map(col): _*).as("r"))).as("m"))
      .filter(col("m.op") =!= "D")
      .select(cols.map(c => col(s"m.r.$c").as(c)): _*)
}

object Workloads {
  val names: Seq[String] = Seq("cdc_mor", "bulk_lifecycle", "stream_sink_jdbc")

  def make(name: String, ctx: Ctx, dir: Path): Workload = name match {
    case "cdc_mor" => new CdcMor(ctx, dir)
    case "bulk_lifecycle" => new BulkLifecycle(ctx, dir)
    case "stream_sink_jdbc" => new StreamSinkJdbc(ctx, dir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  val OrderCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority", "o_clerk",
    "o_shippriority", "o_comment")
}

/** Shared by the two change-data workloads: a partitioned `orders`
  * table loaded from `base`, then changed by change rows. Reads are a
  * point lookup and a partition aggregate, each through the native scan
  * and through SQL by name; the model is a last-writer-wins replay of
  * the base and the change rows. */
abstract class OrdersWorkload(ctx: Ctx, dir: Path) extends Workload(ctx, dir) {
  protected def baseCat: Catalog
  protected def table: LakehouseTable
  protected def sqlName: String
  protected def baseRows: Long
  /** Number of change units (batches or files) the timed part applies. */
  protected def changeUnits: Int
  /** Change rows (`seq`, `op` and the order columns) of the first `c` units. */
  protected def changesUpTo(c: Int): DataFrame
  protected val rng = new scala.util.Random(seed)
  protected val base: Path = in("base")

  def deleteDepth(): Int = baseCat.liveDeleteFiles(ns, "orders").size

  private val models = mutable.HashMap.empty[Int, DataFrame]

  /** Model content after the first `c` change units. */
  protected def modelAt(c: Int): DataFrame = models.getOrElseUpdate(c, {
    val cols = Workloads.OrderCols
    val b = spark.read.parquet(base.toString)
      .select((Seq(lit(-1L).as("seq"), lit("U").as("op")) ++ cols.map(col)): _*)
    lww(b.unionByName(changesUpTo(c)), "o_orderkey", cols).persist(StorageLevel.MEMORY_AND_DISK)
  })

  protected def readRound(rec: Recorder, done: Int): Unit = {
    val depth = if (tr.enabled) Some(deleteDepth()) else None
    def lookupKey(): Long = 1L + rng.nextInt(math.max(1, (baseRows / 10).toInt))
    def prio(): String = Inputs.Priorities(rng.nextInt(Inputs.Priorities.size))
    val model = () => modelAt(done)
    val k1 = lookupKey(); val k2 = lookupKey()
    val p1 = prio(); val p2 = prio()
    def agg(df: DataFrame) = df.agg(count(lit(1)), sum(col("o_totalprice")))
    def lookup(k: Long)(df: DataFrame) = df.filter(col("o_orderkey") === k)
    val reads: Seq[(String, () => Seq[Row], () => DataFrame)] = Seq(
      ("lookup_scan", () => lookup(k1)(model()).collect().toSeq,
        () => lookup(k1)(tr.span("table.scan_build")(table.scan()))),
      ("lookup_sql", () => lookup(k2)(model()).collect().toSeq,
        () => tr.span("sql.plan")(spark.sql(
          s"SELECT * FROM $sqlName WHERE o_orderkey = $k2"))),
      ("aggregate_scan", () => agg(model().filter(col("o_orderpriority") === p1)).collect().toSeq,
        () => agg(tr.span("table.scan_build")(
          table.scan(partitionFilter = Map("o_orderpriority" -> p1))))),
      ("aggregate_sql", () => agg(model().filter(col("o_orderpriority") === p2)).collect().toSeq,
        () => tr.span("sql.plan")(spark.sql(
          s"SELECT count(*), sum(o_totalprice) FROM $sqlName WHERE o_orderpriority = '$p2'"))))
    reads.foreach { case (name, want, mk) =>
      depth.foreach(d => rec.deleteDepths += d)
      rec.read(name, want)(mk())
    }
  }

  private def finalContent: DataFrame =
    new LakehouseTable(baseCat, spark, ns, "orders").scan()
      .select(Workloads.OrderCols.map(col): _*)

  def check(rec: Recorder): Unit = {
    rec.checkReads()
    finalDigest = Check.digest(finalContent)
    val want = Check.digest(modelAt(changeUnits))
    if (finalDigest != want)
      rec.failures += s"final state $finalDigest differs from the model's $want"
    models.values.foreach(_.unpersist(false))
  }

  def liveBytes(): Long = writeOnce(finalContent, Seq("o_orderpriority"), "o_orderkey")
}

/** Change data applied as small merge-on-read commits to a 150k-row
  * partitioned `orders` table on the file-backed catalog, with reads
  * between commits and maintenance on a fixed commit cadence. */
final class CdcMor(ctx: Ctx, dir: Path) extends OrdersWorkload(ctx, dir) {
  protected val baseRows: Long = if (ctx.tiny) 3000L else 150000L
  protected val changeUnits: Int = if (ctx.tiny) 4 else 12
  private val perBatch = if (ctx.tiny) 200 else 3000
  private val readEvery = 2
  private val maintEvery = 4

  private val changes = in("changes")
  protected val baseCat = new Snaplog(warehouse.toString)
  protected lazy val table = new LakehouseTable(traced(baseCat), spark, ns, "orders")
  protected val sqlName = s"${sqlCatalog(s"cdc_${dir.getFileName}", warehouse)}.$ns.orders"

  def inputDirs: Seq[Path] = Seq(base, changes)
  def inputRows: Long = baseRows + changeUnits.toLong * perBatch
  def submittedBytes: Long = Inputs.bytesOf(Seq(changes))

  private def batch(b: Int): DataFrame = spark.read.parquet(changes.resolve(s"batch=$b").toString)

  protected def changesUpTo(c: Int): DataFrame =
    spark.read.parquet(changes.toString).filter(col("batch") < c)
      .select((Seq(col("seq"), col("op")) ++ Workloads.OrderCols.map(col)): _*)

  def setup(): Unit = {
    Inputs.writeParquet(Inputs.orders(spark, seed, baseRows), base, 4)
    Inputs.cdcChanges(spark, seed, baseRows, changeUnits, perBatch)
      .coalesce(1).write.mode("overwrite").partitionBy("batch").parquet(changes.toString)
    Ingest.run(spark, baseCat, ns, "orders", base.toString, Seq("o_orderpriority"))
    warmUp()
  }

  /** Untimed: the same call shapes on a scratch table in its own warehouse. */
  private def warmUp(): Unit = {
    val wh = dir.resolve("warm")
    val cat = new Snaplog(wh.toString)
    val t = Ingest.ingestDf(cat, ns, "orders",
      spark.read.parquet(base.toString).filter(col("o_orderkey") <= baseRows / 20),
      Seq("o_orderpriority")).table
    Upsert.applyChanges(t, batch(0), Seq("o_orderkey"), "op", Some("seq"))
    t.scan().filter(col("o_orderkey") === 1L).collect()
    val sc = sqlCatalog(s"cdcwarm_${dir.getFileName}", wh)
    spark.sql(s"SELECT count(*), sum(o_totalprice) FROM $sc.$ns.orders " +
      s"WHERE o_orderpriority = '${Inputs.Priorities.head}'").collect()
    t.rewriteDeleteFiles()
  }

  def run(rec: Recorder): Unit =
    for (b <- 0 until changeUnits) {
      rec.commit("apply_changes", perBatch) {
        tr.span("pipeline.apply_changes")(
          Upsert.applyChanges(table, batch(b), Seq("o_orderkey"), "op", Some("seq")))
      }
      val done = b + 1
      if (done % readEvery == 0) readRound(rec, done)
      if (done % maintEvery == 0) {
        if ((done / maintEvery) % 2 == 1)
          rec.maint("rewrite_delete_files")(
            tr.span("table.rewrite_delete_files")(table.rewriteDeleteFiles()))
        else rec.maint("compact")(tr.span("table.compact")(table.compact()))
      }
    }
}

/** The reference's lifecycle at bulk scale on the file-backed catalog:
  * partitioned ingest, append, dynamic partition overwrite, then two
  * merge-on-read commits (a keyed 1 % upsert, a 1 % change batch with
  * deletes), each read with its delete file outstanding and then
  * retired by `rewriteDeleteFiles`, and finally `compact` and the reads
  * again. Reads are SQL by name (aggregate, id range, time travel) plus
  * one native partition scan. */
final class BulkLifecycle(ctx: Ctx, dir: Path) extends Workload(ctx, dir) {
  private val n: Long = if (ctx.tiny) 20000L else 1000000L
  private val nLate = n / 20
  private val nUps = n / 100
  private val nChanges = n / 100
  private val rng = new scala.util.Random(seed)

  private val raw = in("raw")
  private val late = in("late")
  private val overwriteB = in("overwrite_b")
  private val upserts = in("upsert")
  private val changes = in("changes")
  private val baseCat = new Snaplog(warehouse.toString)
  private val cat = traced(baseCat)
  private val sqlName = s"${sqlCatalog(s"bulk_${dir.getFileName}", warehouse)}.$ns.events"
  private var table: LakehouseTable = _
  private var ingestSnapshot = -1L
  private var nB = 0L

  def inputDirs: Seq[Path] = Seq(raw, late, overwriteB, upserts, changes)
  def inputRows: Long = n + nLate + nB + nUps + nChanges
  def submittedBytes: Long = Inputs.bytesOf(inputDirs)
  def deleteDepth(): Int = baseCat.liveDeleteFiles(ns, "events").size

  /** `rows` distinct existing ids (a stride walk), values salted by `ver`. */
  private def keyed(rows: Long, stride: Long, ver: Int): DataFrame = {
    val space = n + nLate
    val id = (col("id") * lit(stride) + lit(seed & 0xffffL)) % lit(space) + 1
    Inputs.events(spark, seed, 0, rows, ver).withColumn("id", id)
      .withColumn("group", element_at(array(lit("A"), lit("B"), lit("C"), lit("D")),
        (Inputs.uniform(seed, col("id"), 10, 4) + 1).cast("int")))
  }

  def setup(): Unit = {
    Inputs.writeParquet(Inputs.events(spark, seed, 1, n + 1, 0), raw, 4)
    Inputs.writeParquet(Inputs.events(spark, seed, n + 1, n + nLate + 1, 0), late, 1)
    Inputs.writeParquet(Inputs.events(spark, seed, 1, n + 1, 1)
      .filter(col("group") === "B"), overwriteB, 4)
    Inputs.writeParquet(keyed(nUps, 7919L, 3), upserts, 1)
    Inputs.writeParquet(keyed(nChanges, 104729L, 4)
      .withColumn("seq", col("id"))
      .withColumn("op", when(Inputs.uniform(seed, col("id"), 40, 100) < 30, lit("D"))
        .otherwise(lit("U"))), changes, 1)
    nB = spark.read.parquet(overwriteB.toString).count()
    warmUp()
  }

  private def warmUp(): Unit = {
    val wh = dir.resolve("warm")
    val c = new Snaplog(wh.toString)
    val small = (p: Path) => spark.read.parquet(p.toString).filter(col("id") % 100 === 0)
    val t = Ingest.ingestDf(c, ns, "events", small(raw), Seq("group")).table
    Upsert.applyChanges(t, small(changes), Seq("id"), "op", Some("seq"))
    val sc = sqlCatalog(s"bulkwarm_${dir.getFileName}", wh)
    spark.sql(s"SELECT `group`, count(*), sum(value2) FROM $sc.$ns.events GROUP BY `group`").collect()
  }

  /** Models of the content after the upsert and at the end, replayed
    * step by step: the dynamic overwrite replaces group B wholesale, each
    * upserted id's row replaces whatever precedes it, and each change
    * deletes its id and, unless it is a delete, inserts its row. */
  private def read(p: Path) = spark.read.parquet(p.toString)
  private def replace(before: DataFrame, by: DataFrame) =
    before.join(by.select("id"), Seq("id"), "left_anti")
  private lazy val modelUpserted: DataFrame = {
    val afterOverwrite = read(raw).unionByName(read(late)).filter(col("group") =!= "B")
      .unionByName(read(overwriteB))
    replace(afterOverwrite, read(upserts)).unionByName(read(upserts))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }
  private lazy val modelFinal: DataFrame = {
    val ch = read(changes)
    replace(modelUpserted, ch)
      .unionByName(ch.filter(col("op") =!= "D").select(col("id"), col("group"),
        col("value1"), col("value2")))
      .persist(StorageLevel.MEMORY_AND_DISK)
  }
  private def modelIngest: DataFrame = spark.read.parquet(raw.toString)
  private val expectMemo = mutable.HashMap.empty[String, Seq[Row]]
  private def memo(key: String)(rows: => Seq[Row]): () => Seq[Row] =
    () => expectMemo.getOrElseUpdate(key, rows)

  /** One round of reads; `stage` names the model content they must see. */
  private def reads(rec: Recorder, stage: String, model: => DataFrame): Unit = {
    val span = n / 20
    val lo = 1L + rng.nextInt((n - span).toInt)
    val g = Seq("A", "B", "C", "D")(rng.nextInt(4))
    def groupAgg(df: DataFrame) =
      df.groupBy(col("group")).agg(count(lit(1)), sum(col("value2")), sum(col("value1")))
    def range(df: DataFrame) = df.filter(col("id").between(lo, lo + span))
      .agg(count(lit(1)), sum(col("value2")), sum(col("value1")))
    def partAgg(df: DataFrame) = df.agg(count(lit(1)), sum(col("value2")), max(col("value1")))
    val depth = if (tr.enabled) Some(deleteDepth()) else None
    val sql: Seq[(String, () => Seq[Row], String)] = Seq(
      ("group_aggregate_sql", memo(s"$stage-group")(groupAgg(model).collect().toSeq),
        s"SELECT `group`, count(*), sum(value2), sum(value1) FROM $sqlName GROUP BY `group`"),
      ("id_range_sql", () => range(model).collect().toSeq,
        s"SELECT count(*), sum(value2), sum(value1) FROM $sqlName " +
          s"WHERE id BETWEEN $lo AND ${lo + span}"),
      ("version_as_of_sql", memo("version")(modelIngest.groupBy(col("group"))
          .agg(count(lit(1)), sum(col("value2"))).collect().toSeq),
        s"SELECT `group`, count(*), sum(value2) FROM $sqlName " +
          s"VERSION AS OF $ingestSnapshot GROUP BY `group`"))
    sql.foreach { case (name, want, q) =>
      depth.foreach(d => rec.deleteDepths += d)
      rec.read(name, want)(tr.span("sql.plan")(spark.sql(q)))
    }
    depth.foreach(d => rec.deleteDepths += d)
    rec.read("partition_aggregate_scan",
      memo(s"$stage-part-$g")(partAgg(model.filter(col("group") === g)).collect().toSeq))(
      partAgg(tr.span("table.scan_build")(table.scan(partitionFilter = Map("group" -> g)))))
  }

  def run(rec: Recorder): Unit = {
    rec.commit("ingest", n) {
      val r = tr.span("pipeline.ingest")(
        Ingest.run(spark, cat, ns, "events", raw.toString, Seq("group")))
      table = r.table
      ingestSnapshot = r.snapshot.snapshotId
    }
    rec.commit("append", nLate) {
      tr.span("table.append")(table.append(spark.read.parquet(late.toString)))
    }
    rec.commit("overwrite_partitions", nB) {
      tr.span("table.overwrite_partitions")(
        table.overwritePartitions(spark.read.parquet(overwriteB.toString)))
    }
    rec.commit("upsert", nUps) {
      tr.span("pipeline.upsert")(
        Upsert.upsertTable(table, spark.read.parquet(upserts.toString), Seq("id")))
    }
    reads(rec, "upserted", modelUpserted)
    rec.maint("rewrite_delete_files")(
      tr.span("table.rewrite_delete_files")(table.rewriteDeleteFiles()))
    rec.commit("apply_changes", nChanges) {
      tr.span("pipeline.apply_changes")(Upsert.applyChanges(table,
        spark.read.parquet(changes.toString), Seq("id"), "op", Some("seq")))
    }
    reads(rec, "final", modelFinal)
    rec.maint("rewrite_delete_files")(
      tr.span("table.rewrite_delete_files")(table.rewriteDeleteFiles()))
    rec.maint("compact")(tr.span("table.compact")(table.compact()))
    reads(rec, "final", modelFinal)
  }

  private def finalContent: DataFrame =
    new LakehouseTable(baseCat, spark, ns, "events").scan()
      .select(col("id"), col("group"), col("value1"), col("value2"))

  def check(rec: Recorder): Unit = {
    rec.checkReads()
    finalDigest = Check.digest(finalContent)
    val want = Check.digest(modelFinal)
    if (finalDigest != want)
      rec.failures += s"final state $finalDigest differs from the model's $want"
    modelUpserted.unpersist(false)
    modelFinal.unpersist(false)
  }

  def liveBytes(): Long = writeOnce(finalContent, Seq("group"), "id")
}

/** Many tiny change files streamed one per trigger into a partitioned
  * `orders` table on the embedded-Derby JDBC catalog, with a fixed
  * consolidation threshold and reads between stream segments. */
final class StreamSinkJdbc(ctx: Ctx, dir: Path) extends OrdersWorkload(ctx, dir) {
  protected val baseRows: Long = if (ctx.tiny) 2000L else 20000L
  protected val changeUnits: Int = if (ctx.tiny) 4 else 12
  private val perFile = if (ctx.tiny) 50 else 300
  private val segments = if (ctx.tiny) 2 else 3
  private val consolidateAfterDeletes = if (ctx.tiny) 3 else 6

  private val staged = in("changes")
  private val source = dir.resolve("stream-source")
  private val checkpoint = dir.resolve("stream-checkpoint")
  private val derby = dir.resolve("catalog-db")
  private val url = s"jdbc:derby:$derby;create=true"
  protected val baseCat = new JdbcCatalog(url, warehouse.toString)
  protected lazy val table = new LakehouseTable(traced(baseCat), spark, ns, "orders")
  protected val sqlName = s"${sqlCatalog(s"jdbc_${dir.getFileName}", warehouse, Some(url))}.$ns.orders"
  private lazy val schema = spark.read.parquet(base.toString).schema
  private val progress = new StreamProgress
  private val commitTimes = mutable.ArrayBuffer.empty[(Long, String)]

  def inputDirs: Seq[Path] = Seq(base, staged)
  def inputRows: Long = baseRows + changeUnits.toLong * perFile
  def submittedBytes: Long = Inputs.bytesOf(Seq(staged))
  override def metaDirs: Seq[Path] = Seq(derby)

  private def fileName(i: Int) = f"change-$i%04d.parquet"

  def setup(): Unit = {
    Inputs.writeParquet(Inputs.orders(spark, seed, baseRows), base, 4)
    val tmp = in("changes-by-file")
    Inputs.streamChanges(spark, seed, baseRows, changeUnits, perFile)
      .coalesce(1).write.mode("overwrite").partitionBy("f").parquet(tmp.toString)
    Files.createDirectories(staged)
    for (i <- 0 until changeUnits)
      Files.move(Inputs.parquetFiles(tmp.resolve(s"f=$i")).head, staged.resolve(fileName(i)))
    Ingest.run(spark, baseCat, ns, "orders", base.toString, Seq("o_orderpriority"))
    warmUp()
  }

  /** Feed files [from, until) to a stream source directory, stamped with
    * increasing modification times so the source takes them in order. */
  private def release(src: Path, from: Int, until: Int, copy: Boolean): Unit = {
    Files.createDirectories(src)
    val t0 = 1700000000000L
    for (i <- from until until) {
      val dst = src.resolve(fileName(i))
      if (copy) Files.copy(staged.resolve(fileName(i)), dst)
      else Files.move(staged.resolve(fileName(i)), dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
  }

  private def stream(t: LakehouseTable, src: Path, ckpt: Path): Long =
    StreamingIngest.upsertEachBatch(
      StreamingIngest.readParquetStream(spark, src.toString, schema, maxFilesPerTrigger = 1),
      t, Seq("o_orderkey"), Some(ckpt.toString), consolidateAfterDeletes)

  private def warmUp(): Unit = {
    val wh = dir.resolve("warm")
    val c = new JdbcCatalog(s"jdbc:derby:${dir.resolve("warm-db")};create=true", wh.toString)
    try {
      val t = Ingest.ingestDf(c, ns, "orders",
        spark.read.parquet(base.toString).filter(col("o_orderkey") <= baseRows / 10),
        Seq("o_orderpriority")).table
      release(wh.resolve("source"), 0, 2, copy = true)
      stream(t, wh.resolve("source"), wh.resolve("checkpoint"))
      t.scan().filter(col("o_orderkey") === 1L).collect()
    } finally c.close()
  }

  /** One scan of the stream source; a file's index is its replay order. */
  protected def changesUpTo(c: Int): DataFrame =
    spark.read.schema(schema).parquet(source.toString)
      .withColumn("seq", regexp_extract(input_file_name(), "change-(\\d+)", 1).cast("long"))
      .filter(col("seq") < c)
      .select((Seq(col("seq"), lit("U").as("op")) ++ Workloads.OrderCols.map(col)): _*)

  def run(rec: Recorder): Unit = {
    spark.streams.addListener(progress)
    val onCommit: (String, String, graft.catalog.Snapshot) => Unit = (_, t, s) =>
      if (t == "orders") commitTimes.synchronized { commitTimes += ((System.nanoTime(), s.operation)); () }
    baseCat.addCommitListener(onCommit)
    val perSegment = changeUnits / segments
    try for (s <- 0 until segments) {
      release(source, s * perSegment, (s + 1) * perSegment, copy = false)
      rec.op("stream_segment", counted = false) {
        tr.span("stream.upsert_each_batch")(stream(table, source, checkpoint))
      }
      readRound(rec, (s + 1) * perSegment)
    } finally {
      baseCat.removeCommitListener(onCommit)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.streams.removeListener(progress)
    }
    rec.attempted += progress.snapshot.size
  }

  override def commitSamples(rec: Recorder): Seq[Double] = progress.snapshot.map(_._2 / 1e3)
  override def rowsCommitted(rec: Recorder): Long = progress.snapshot.map(_._1).sum
  override def writeSeconds(rec: Recorder): Double = commitSamples(rec).sum
  /** Consolidations run inside the trigger that crossed the threshold:
    * each lasts from the commit before it to its own `replace` commit. */
  override def maintSamples(rec: Recorder): Seq[Double] = {
    val ts = commitTimes.synchronized(commitTimes.toList)
    ts.zip(ts.drop(1)).collect { case ((t0, _), (t1, op)) if op == Snaplog.OpReplace =>
      (t1 - t0) / 1e9 }
  }
  def triggers: Seq[(Long, Long, Long)] = progress.snapshot

  override def check(rec: Recorder): Unit = {
    if (progress.snapshot.size != changeUnits)
      rec.failures += s"expected $changeUnits micro-batches (one per file), saw ${progress.snapshot.size}"
    super.check(rec)
  }

  override def close(): Unit = baseCat.close()
}
