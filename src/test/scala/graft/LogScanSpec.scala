package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, JdbcCatalog, Snaplog}
import graft.sql.GraftSqlCatalog
import graft.table.{EqDeletes, FileStats, LakehouseTable, LogScan}

/** Scans planned from the log ([[LogScan]]): a merge-on-read read plans
  * the same scans at any equality-delete depth, building a read starts
  * no Spark job (no listing, no existence check, no schema inference),
  * the scanned path text is exactly what a listing reports, and a
  * position vector subtracts its rows whatever equivalent path form it
  * records its data file in. */
class LogScanSpec extends SparkSpec {
  import spark.implicits._

  private val schema = Seq((0L, "")).toDF("id", "v").schema

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** `body`'s result and the descriptions of the Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    SpecBus.drain(sc)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(s"job ${e.jobId}"))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      SpecBus.drain(sc)
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** File scans in a frame's physical plan, broadcast build sides too. */
  private def planScans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size

  /** File scans in the RDD lineage a frame executes — the data side of
    * a SQL merge-on-read read, whose scans plan inside its relation. */
  private def lineageScans(df: DataFrame): Int = {
    def walk(r: RDD[_]): Int =
      (r match { case _: FileScanRDD => 1; case _ => 0 }) +
        r.dependencies.map(d => walk(d.rdd)).sum
    walk(df.queryExecution.toRdd)
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.select("id", "v").as[(Long, String)].collect().sortBy(_._1).toSeq

  private def registerSql(name: String, warehouse: String,
      url: Option[String] = None): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
    url.foreach(u => spark.conf.set(s"spark.sql.catalog.$name.url", u))
  }

  /** One keyed table at delete depth 1, then 5: the native scan and the
    * SQL read plan the same scans at both, building either starts no
    * job, SQL planning runs the same jobs at both, and the rows are
    * last-writer-wins. Then a position-vector layer over the equality
    * deletes, and two hand-written vectors recording their data files
    * as `file:///…` and as a bare path: both reads, and a SQL UPDATE
    * rewriting files under both tiers, still match the model. */
  private def depthInvariant(cat: Catalog, sqlName: String): Unit = {
    val tbl = LakehouseTable.create(cat, spark, "ns", "t", schema)
    val model = scala.collection.mutable.Map.empty[Long, String]
    val base = (1L to 20L).map(i => (i, s"v$i"))
    tbl.append(base.toDF("id", "v"))
    model ++= base
    def upsert(batch: Seq[(Long, String)]): Unit = {
      tbl.mergeDelta(Seq("id"), batch.toDF("id", "v"))
      model ++= batch
    }
    def probe(): (Int, Int, Int) = {
      val (native, nativeJobs) = jobsDuring(tbl.scan())
      assert(nativeJobs.isEmpty, s"building scan() started jobs: $nativeJobs")
      val (sql, sqlJobs) = jobsDuring(spark.table(s"$sqlName.ns.t"))
      assert(sqlJobs.isEmpty, s"building the SQL read started jobs: $sqlJobs")
      val (dataScans, planJobs) = jobsDuring(lineageScans(sql))
      val expect = model.toSeq.sortBy(_._1)
      assert(rows(native) == expect, "native scan is not last-writer-wins")
      assert(rows(sql) == expect, "SQL read is not last-writer-wins")
      (planScans(native), dataScans, planJobs.size)
    }
    upsert(Seq((3L, "a1"), (25L, "n1")))
    val depth1 = probe()
    Seq(Seq((3L, "a2"), (7L, "b1")), Seq((25L, "n2")), Seq((1L, "c1"), (30L, "n3")),
      Seq((7L, "b2"), (3L, "a3"))).foreach(upsert)
    assert(cat.liveDeleteFiles("ns", "t").count(EqDeletes.isEq) >= 5)
    val depth5 = probe()
    // one data scan plus one key-set scan, at any depth
    assert(depth1._1 == 2, s"native scan planned ${depth1._1} file scans")
    assert(depth1._2 == 1, s"SQL read planned ${depth1._2} data scans")
    assert(depth5 == depth1,
      s"(native scans, SQL data scans, SQL plan jobs) at depth 1 $depth1, at depth 5 $depth5")
    tbl.deleteMor(col("id") === 7L || col("id") === 25L)
    model --= Seq(7L, 25L)
    assert(cat.liveDeleteFiles("ns", "t").exists(EqDeletes.isPos))
    probe()
    // a vector may record its data file in any equivalent path form:
    // one as `file:///…`, one as the bare path, both subtract
    val live = cat.liveFiles("ns", "t")
    def recorded(id: Long, form: String => String): Unit = {
      val (path, pos) = spark.read.schema(schema).parquet(live.map(_.path): _*)
        .filter(col("id") === id && col("v") === model(id))
        .select(col("_metadata.file_path"), col("_metadata.row_index"))
        .as[(String, Long)].collect().toSeq match {
          case Seq(one) => one
          case other => fail(s"id $id visible in ${other.size} files")
        }
      val vecDir = cat.dataDir("ns", "t").resolve(s"hand-vector-$id").toString
      Seq((form(FileStats.normalizePath(path)), pos)).toDF("file_path", "row_index")
        .coalesce(1).write.parquet(vecDir)
      cat.commit("ns", "t", Snaplog.OpMorDelete,
        FileStats.listParquet(vecDir).map(p =>
          FileStats.stat(spark, p, Map.empty).copy(deleteFile = Some(true))))
      model -= id
    }
    recorded(5L, bare => s"file://$bare")
    recorded(30L, identity)
    probe()
    spark.sql(s"UPDATE $sqlName.ns.t SET v = concat(v, '-u') WHERE id IN (1, 3, 20)")
    model ++= Seq(1L, 3L, 20L).map(k => k -> s"${model(k)}-u")
    probe()
  }

  test("MOR plan shape does not depend on delete depth, and building a read runs no job") {
    val wh = Files.createTempDirectory("graft-logscan-depth").toString
    registerSql("glogdepth", wh)
    depthInvariant(new Snaplog(wh), "glogdepth")
    val dir = Files.createTempDirectory("graft-logscan-depth-jdbc")
    val url = s"jdbc:derby:$dir/cat;create=true"
    registerSql("glogdepthj", s"$dir/wh", Some(url))
    depthInvariant(new JdbcCatalog(url, s"$dir/wh"), "glogdepthj")
  }

  /** The data scans of an executed frame (the file scans reading the
    * `v` column, not key or vector files), through adaptive stages. */
  private def dataScans(df: DataFrame): Seq[FileSourceScanExec] =
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.output.exists(_.name == "v") => s
    }

  /** A point lookup through the native scan's filter lists one file of
    * twenty: 20 single-file appends of disjoint 100-key ranges, then
    * `id = 150` plans a data scan whose `numFiles` metric is 1 (the
    * frame's `inputFiles` still names the whole index). Under an
    * outstanding equality delete and then a position vector the rows
    * still equal the model, building the read starts no job, and the
    * data scan lists only the two files whose bounds hold 150. */
  private def pointLookup(cat: Catalog): Unit = {
    val tbl = LakehouseTable.create(cat, spark, "ns", "p1", schema)
    (0L until 20L).foreach(b => tbl.append(
      (b * 100L until (b + 1) * 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)))
    assert(cat.liveFiles("ns", "p1").size == 20)
    def lookup(expect: Seq[(Long, String)]): Long = {
      val (df, jobs) = jobsDuring(tbl.scan().filter(col("id") === 150L))
      assert(jobs.isEmpty, s"building the lookup started jobs: $jobs")
      assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq == expect)
      dataScans(df) match {
        case Seq(scan) => scan.metrics("numFiles").value
        case other => fail(s"expected one data scan, planned ${other.size}")
      }
    }
    assert(lookup(Seq((150L, "v150"))) == 1)
    tbl.mergeDelta(Seq("id"), Seq((150L, "u"), (1234L, "w")).toDF("id", "v"))
    assert(cat.liveDeleteFiles("ns", "p1").exists(EqDeletes.isEq))
    assert(lookup(Seq((150L, "u"))) == 2)
    tbl.deleteMor(col("id") === 150L)
    assert(cat.liveDeleteFiles("ns", "p1").exists(EqDeletes.isPos))
    assert(lookup(Nil) == 2)
  }

  test("a filter on the native scan prunes files in the log's index (Snaplog and JDBC)") {
    pointLookup(new Snaplog(Files.createTempDirectory("graft-logscan-p1").toString))
    val dir = Files.createTempDirectory("graft-logscan-p1-jdbc")
    pointLookup(new JdbcCatalog(s"jdbc:derby:$dir/cat;create=true", s"$dir/wh"))
  }

  test("a read of more than 32 files runs no listing job") {
    val wh = Files.createTempDirectory("graft-logscan-many").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "many", schema)
    (1L to 40L).foreach(i => tbl.append(Seq((i, s"v$i")).toDF("id", "v")))
    assert(cat.liveFiles("ns", "many").size >= 40)
    val (df, jobs) = jobsDuring {
      val d = tbl.scan()
      d.queryExecution.executedPlan
      d
    }
    assert(jobs.isEmpty, s"planning a 40-file scan started jobs: $jobs")
    assert(rows(df) == (1L to 40L).map(i => (i, s"v$i")))
    // the SQL merge-on-read read of the same files lists nothing either
    tbl.mergeDelta(Seq("id"), Seq((7L, "x")).toDF("id", "v"))
    registerSql("glogmany", wh)
    val (sql, sqlJobs) = jobsDuring {
      val d = spark.table("glogmany.ns.many")
      lineageScans(d)
      d
    }
    assert(!sqlJobs.exists(_.toLowerCase(java.util.Locale.ROOT).contains("listing")),
      s"SQL planning listed files: $sqlJobs")
    assert(rows(sql) == (1L to 40L).map(i => (i, if (i == 7L) "x" else s"v$i")))
  }

  test("log reads keep a listing's path text: space and '=' in the warehouse") {
    val wh = Files.createTempDirectory("graft logscan a=b").toString
    assert(wh.contains(" ") && wh.contains("="))
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "p", schema)
    tbl.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    tbl.append((11L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val live = cat.liveFiles("ns", "p")
    def paths(df: DataFrame): Set[(String, String)] =
      df.select(col("_metadata.file_path"), input_file_name()).distinct()
        .as[(String, String)].collect().toSet
    val listed = spark.read.schema(schema).parquet(live.map(_.path): _*)
    val logged = LogScan.read(spark, schema, live)
    assert(paths(logged) == paths(listed))
    assert(logged.inputFiles.sorted.toSeq == listed.inputFiles.sorted.toSeq)
    // a vector recorded in a listing's text still subtracts its rows
    val vecDir = s"$wh/old-vector"
    listed.filter(col("id") === 2L || col("id") === 15L)
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("row_index"))
      .coalesce(1).write.parquet(vecDir)
    cat.commit("ns", "p", Snaplog.OpMorDelete,
      FileStats.listParquet(vecDir).map(p =>
        FileStats.stat(spark, p, Map.empty).copy(deleteFile = Some(true))))
    // one recording the bare path, with its literal space, as well
    val bareDir = s"$wh/bare-vector"
    listed.filter(col("id") === 7L)
      .select(col("_metadata.file_path"), col("_metadata.row_index"))
      .as[(String, Long)].collect().toSeq
      .map { case (p, pos) => (FileStats.normalizePath(p), pos) }
      .toDF("file_path", "row_index").coalesce(1).write.parquet(bareDir)
    assert(spark.read.parquet(bareDir).as[(String, Long)].head()._1.contains(" "))
    cat.commit("ns", "p", Snaplog.OpMorDelete,
      FileStats.listParquet(bareDir).map(p =>
        FileStats.stat(spark, p, Map.empty).copy(deleteFile = Some(true))))
    // and one written by deleteMor subtracts exactly its rows
    tbl.deleteMor(col("id") % 3 === 0)
    val expect = (1L to 20L)
      .filterNot(i => i == 2L || i == 7L || i == 15L || i % 3 == 0)
      .map(i => (i, s"v$i"))
    assert(rows(tbl.scan()) == expect)
    // the vector build evaluates the path normalizer once per vector
    // row: no inferred `isnotnull(UDF(file_path))` filter beside it
    val udfs = tbl.scan().queryExecution.sparkPlan.flatMap(
      _.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    assert(udfs.size == 1, s"vector build plans ${udfs.size} normalizer calls")
    registerSql("glogpath", wh)
    assert(rows(spark.table("glogpath.ns.p")) == expect)
    // a copy-on-write delete attributes its matches to the right files
    val q = LakehouseTable.create(cat, spark, "ns", "q", schema)
    q.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    q.append((11L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val snap = q.delete(col("id") === 3L || col("id") === 6L)
    assert(snap.summary("deleted-rows") == "2", s"got ${snap.summary}")
    assert(snap.summary("rewritten-files") == "1", s"got ${snap.summary}")
    val kept = (1L to 20L).filterNot(i => i == 3L || i == 6L).map(i => (i, s"v$i"))
    assert(rows(q.scan()) == kept)
    assert(rows(spark.table("glogpath.ns.q")) == kept)
  }

  test("equality-delete key files: footer schemas, split by key type, loud on a missing key") {
    val dir = Files.createTempDirectory("graft-logscan-keys")
    def staged(df: DataFrame, name: String) = {
      df.coalesce(1).write.parquet(s"$dir/$name")
      FileStats.stat(spark, FileStats.listParquet(s"$dir/$name").head, Map.empty)
    }
    def eqDelete(df: DataFrame, name: String) =
      staged(df, name).copy(deleteFile = Some(true), equalityKey = Some("id"))
    val data = staged((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"), "data")
    val intKeys = eqDelete(Seq(2, 4).toDF("id"), "d-int")
    val later = staged(Seq((4L, "again")).toDF("id", "v"), "later")
    // another key type, and the footer's own spelling of the column
    val longKeys = eqDelete(Seq(5L).toDF("ID"), "d-long")
    val read = EqDeletes.visible(spark, schema, Seq(data, intKeys, later, longKeys),
      _ => true, withMeta = false)
    assert(rows(read) == Seq((1L, "v1"), (3L, "v3"), (4L, "again"), (6L, "v6")))
    assert(planScans(read) == 3, "one data scan plus one scan per key type")
    val noKey = eqDelete(Seq(1L).toDF("other"), "d-nokey")
    val e = intercept[IllegalStateException](EqDeletes.visible(spark, schema,
      Seq(data, noKey), _ => true, withMeta = false))
    assert(e.getMessage.contains("key column 'id'"), e.getMessage)
  }
}
