package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, sum}

import graft.catalog.Snaplog
import graft.sql.GraftSqlCatalog
import graft.table.LakehouseTable

/** DSv2 SQL catalog: snaplog tables queryable by name through
  * `spark.sql`, with snapshot time travel, parquet pushdown intact,
  * and strict read-only behavior. */
class SqlCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = Seq(
    (1, "A", 1.5f, 10), (2, "A", 2.5f, 20),
    (3, "B", 3.5f, 30), (4, "C", 4.5f, 40)
  ).toDF("id", "group", "value1", "value2")

  test("sql catalog reads tables by name with time travel and pushdown") {
    val wh = Files.createTempDirectory("graft-sqlcat").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "t", fixture().schema, Seq("group"))
    tbl.append(fixture())                                 // snapshot 1
    tbl.append(fixture().withColumn("id", $"id" + 10))    // snapshot 2
    spark.conf.set("spark.sql.catalog.gsqltest", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqltest.warehouse", wh)

    assert(spark.sql("SELECT COUNT(*) FROM gsqltest.ns.t").head().getLong(0) == 8)
    assert(spark.sql("SELECT COUNT(*) FROM gsqltest.ns.t VERSION AS OF 1")
      .head().getLong(0) == 4)
    assert(spark.sql(
      "SELECT COUNT(*) FROM gsqltest.ns.t TIMESTAMP AS OF '2100-01-01'")
      .head().getLong(0) == 8)
    assert(spark.sql("SHOW TABLES IN gsqltest.ns").collect()
      .map(_.getString(1)).toSeq == Seq("t"))

    // filters reach the parquet scan through the DSv2 relation
    val plan = spark.sql(
      "SELECT id FROM gsqltest.ns.t WHERE value2 > 25").queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(value2,25)"),
      s"expected value2 pushdown in:\n$plan")

    // retype outside the widening promotions still refuses (a
    // string -> int change would need a data rewrite)
    intercept[Exception] {
      spark.sql("ALTER TABLE gsqltest.ns.t ALTER COLUMN `group` TYPE INT")
    }

    // outstanding MOR vectors: reads by name stay available — the scan
    // plans the same broadcast anti-join subtraction the native scan
    // uses, and results are exact (deleted ids 1 and 11 disappear)
    tbl.deleteMor($"id" === 1 || $"id" === 11)
    assert(spark.sql("SELECT COUNT(*) FROM gsqltest.ns.t").head().getLong(0) == 6)
    assert(spark.sql(
      "SELECT COUNT(*) FROM gsqltest.ns.t WHERE id < 10").head().getLong(0) == 3)
    assert(!spark.sql("SELECT id FROM gsqltest.ns.t WHERE id <= 2 ORDER BY id")
      .collect().map(_.getInt(0)).contains(1))
    // …but metadata-only aggregates DECLINE (logged row counts ignore
    // vector-deleted rows) — the MOR relation plans instead
    assert(!spark.sql("SELECT COUNT(*) FROM gsqltest.ns.t")
      .queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    // time travel BEFORE the delete sees all rows with no subtraction
    assert(spark.sql("SELECT COUNT(*) FROM gsqltest.ns.t VERSION AS OF 2")
      .head().getLong(0) == 8)
    // the MOR relation reports its log-recorded size, so a small
    // MOR-state table still plans on the broadcast side of a join
    fixture().createOrReplaceTempView("gsql_mor_probe")
    val joinPlan = spark.sql("""SELECT t.id FROM gsql_mor_probe p
      JOIN gsqltest.ns.t t ON p.id = t.id""").queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastHashJoin"),
      s"expected a broadcast join against the MOR relation in:\n$joinPlan")
    // compaction materializes the delete; the plain parquet relation
    // (and metadata aggregates) return
    tbl.compact()
    assert(spark.sql("SELECT COUNT(*) FROM gsqltest.ns.t").head().getLong(0) == 6)
  }

  test("struct-leaf bounds prune files through pushed nested predicates") {
    // per-leaf metrics (Iceberg-style): `p.x > 100` consults the
    // recorded struct-leaf bounds keyed "p.x" and drops files whose
    // leaf range cannot match — file-level skipping for the nested
    // payload shape an events table carries at 100 TB
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    import org.apache.spark.sql.functions.struct
    val wh = Files.createTempDirectory("graft-sqlnp").toString
    val cat = new Snaplog(wh)
    def mk(rows: Seq[(Int, String, Int)]) = rows.toDF("id", "tag", "v")
      .withColumn("p", struct(col("tag").as("t"), col("v").as("x")))
    val lo = mk(Seq((1, "a", 10), (2, "b", 20)))
    val tbl = LakehouseTable.create(cat, spark, "ns", "np", lo.schema)
    tbl.append(lo.coalesce(1))
    tbl.append(mk(Seq((3, "c", 300), (4, "d", 400))).coalesce(1))
    spark.conf.set("spark.sql.catalog.gsqlnp", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlnp.warehouse", wh)
    // the log carries dotted leaf keys for both files
    assert(cat.liveFiles("ns", "np").forall(
      _.columnStats.exists(s => s.contains("p.x") && s.contains("p.t"))))
    def scannedFiles(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.sparkPlan
      val scans = plan.collect { case b: BatchScanExec => b.scan }
      scans.head.asInstanceOf[FileScan].fileIndex.inputFiles.length
    }
    // numeric leaf range prunes by the recorded leaf bounds
    assert(scannedFiles("SELECT id FROM gsqlnp.ns.np WHERE p.x > 100") == 1)
    assert(scannedFiles("SELECT id FROM gsqlnp.ns.np WHERE p.x > 1000") == 0)
    // string leaf equality prunes too (byte-order bounds)
    assert(scannedFiles("SELECT id FROM gsqlnp.ns.np WHERE p.t = 'd'") == 1)
    // pruning is conservative-only — results stay exact
    assert(spark.sql("SELECT id FROM gsqlnp.ns.np WHERE p.x > 100 ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(3, 4))
    assert(spark.sql("SELECT id FROM gsqlnp.ns.np WHERE p.t = 'd'")
      .collect().map(_.getInt(0)).toSeq == Seq(4))
    assert(spark.sql("SELECT COUNT(*) FROM gsqlnp.ns.np WHERE p.x > 1000")
      .head().getLong(0) == 0)
  }

  test("ALTER TABLE evolves struct inner fields: ADD COLUMN p.x, ALTER COLUMN p.x TYPE") {
    import org.apache.spark.sql.functions.struct
    val wh = Files.createTempDirectory("graft-sqlinner").toString
    val cat = new Snaplog(wh)
    val era1 = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "tag", "v")
      .withColumn("p", struct(col("tag").as("t")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "ie", era1.schema)
    tbl.append(era1)
    spark.conf.set("spark.sql.catalog.gsqlie", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlie.warehouse", wh)
    spark.sql("ALTER TABLE gsqlie.ns.ie ADD COLUMN p.score INT")
    spark.sql("INSERT INTO gsqlie.ns.ie SELECT 3, 'c', 30, named_struct('t', 'c', 'score', 33)")
    assert(spark.sql("SELECT id, p.score FROM gsqlie.ns.ie ORDER BY id")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1)))
      .toSeq == Seq((1, -1), (2, -1), (3, 33)))
    spark.sql("ALTER TABLE gsqlie.ns.ie ALTER COLUMN p.score TYPE BIGINT")
    assert(spark.sql("SELECT sum(p.score) FROM gsqlie.ns.ie").head().getLong(0) == 33L)
    // mixed nested+flat statement lands atomically
    spark.sql("ALTER TABLE gsqlie.ns.ie ADD COLUMNS (p.extra STRING, flat2 INT)")
    assert(spark.sql("SELECT p.extra, flat2 FROM gsqlie.ns.ie").collect()
      .forall(r => r.isNullAt(0) && r.isNullAt(1)))
    // structural violations refuse the WHOLE statement before any op
    val e1 = intercept[Exception](
      spark.sql("ALTER TABLE gsqlie.ns.ie ADD COLUMNS (p.t2 INT, id.x INT)"))
    assert(e1.getMessage.contains("not a struct"), e1.getMessage)
    assert(!tbl.schema("p").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("t2"), "failed statement must not half-apply")
    // Spark's analyzer permits bigint->decimal as an upcast; graft's
    // promotion gate (int->bigint / float->double / decimal precision
    // only) still refuses it for struct leaves
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE gsqlie.ns.ie ALTER COLUMN p.score TYPE DECIMAL(20,0)"))
    assert(e2.getMessage.contains("cannot widen"), e2.getMessage)
  }

  test("sql catalog prunes files from log metadata before planning") {
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    val wh = Files.createTempDirectory("graft-sqlprune").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "p", fixture().schema, Seq("group"))
    // single input split → exactly one file per partition: A(10,20) B(30) C(40)
    tbl.append(fixture().coalesce(1))
    spark.conf.set("spark.sql.catalog.gsqlprune", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlprune.warehouse", wh)
    val total = cat.liveFiles("ns", "p").size
    assert(total == 3)

    def scannedFiles(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.sparkPlan
      val scans = plan.collect { case b: BatchScanExec => b.scan }
      scans.head.asInstanceOf[FileScan].fileIndex.inputFiles.length
    }
    // identity-partition equality prunes to one partition's file
    assert(scannedFiles("SELECT id FROM gsqlprune.ns.p WHERE group = 'A'") == 1)
    // column [min,max] stats prune files whose range cannot match
    assert(scannedFiles("SELECT id FROM gsqlprune.ns.p WHERE value2 > 35") == 1)
    assert(scannedFiles("SELECT id FROM gsqlprune.ns.p WHERE value2 > 100") == 0)
    // pruning is an optimization only — results stay exact
    assert(spark.sql("SELECT id FROM gsqlprune.ns.p WHERE group = 'A' ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(spark.sql("SELECT id FROM gsqlprune.ns.p WHERE value2 > 35")
      .collect().map(_.getInt(0)).toSeq == Seq(4))
    assert(spark.sql("SELECT COUNT(*) FROM gsqlprune.ns.p WHERE value2 > 100")
      .head().getLong(0) == 0)
  }

  test("metadata-only aggregates answer COUNT/MIN/MAX without reading data") {
    val wh = Files.createTempDirectory("graft-sqlagg").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "a", fixture().schema)
    tbl.append(fixture())
    tbl.append(fixture().withColumn("value2", $"value2" + 5))
    spark.conf.set("spark.sql.catalog.gsqlagg", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlagg.warehouse", wh)

    val df = spark.sql(
      "SELECT COUNT(*), MIN(value2), MAX(value2) FROM gsqlagg.ns.a")
    val plan = df.queryExecution.sparkPlan.toString
    // the whole answer comes from snapshot-log metadata: the plan is a
    // driver-local one-row scan (Spark renders LocalScan as
    // LocalTableScan over our count_/min_/max_ columns), no parquet
    assert(plan.contains("LocalTableScan") && plan.contains("count_0"),
      s"expected metadata agg scan in:\n$plan")
    assert(!plan.toLowerCase.contains("parquet"), s"expected no parquet scan in:\n$plan")
    val r = df.head()
    assert(r.getLong(0) == 8L)
    assert(r.getInt(1) == 10 && r.getInt(2) == 45)

    // float MIN/MAX is excluded (undefined parquet NaN stat semantics)
    val ff = spark.sql("SELECT MIN(value1) FROM gsqlagg.ns.a")
    assert(!ff.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(ff.head().getFloat(0) == 1.5f)

    // data-column filters fall back to a real scan
    val f1 = spark.sql("SELECT COUNT(*) FROM gsqlagg.ns.a WHERE value2 > 20")
    assert(!f1.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(f1.head().getLong(0) == 5) // 30,40 + 25,35,45
    val f2 = spark.sql("SELECT group, COUNT(*) FROM gsqlagg.ns.a GROUP BY group")
    assert(!f2.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(f2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("A" -> 4L, "B" -> 2L, "C" -> 2L))
    // COUNT(col) on a NON-NULLABLE column is rewritten to COUNT(*) by
    // the planner and still answers from metadata
    val f3 = spark.sql("SELECT COUNT(value1) FROM gsqlagg.ns.a")
    assert(f3.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(f3.head().getLong(0) == 8)
    // …and on a NULLABLE column the per-file null counts carried in the
    // log (footer null_value_counts) make it exact from metadata too
    val f4 = spark.sql("SELECT COUNT(group) FROM gsqlagg.ns.a")
    assert(f4.queryExecution.sparkPlan.toString.contains("LocalTableScan"),
      s"expected metadata COUNT(col) in:\n${f4.queryExecution.sparkPlan}")
    assert(f4.head().getLong(0) == 8)
  }

  test("metadata aggregates survive outstanding deletes over untouched files") {
    val wh = Files.createTempDirectory("graft-sqlaggdel").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "ad", fixture().schema, Seq("group"))
    tbl.append(fixture().coalesce(1)) // one file per partition: A(1,2) B(3) C(4)
    spark.conf.set("spark.sql.catalog.gsqlaggdel", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlaggdel.warehouse", wh)
    // an eq delete whose key bounds [1,1] overlap ONLY partition A's
    // file (id bounds [1,2]); B [3,3] and C [4,4] are provably disjoint
    tbl.deleteEq("id", Seq(1))
    assert(cat.liveDeleteFiles("ns", "ad").nonEmpty)
    def planOf(sql: String) =
      (spark.sql(sql), spark.sql(sql).queryExecution.sparkPlan.toString)
    // filtered COUNT over the UNTOUCHED partition: metadata-answered
    // (LocalTableScan, no parquet) even with the delete outstanding
    val (qB, pB) = planOf("SELECT COUNT(*) FROM gsqlaggdel.ns.ad WHERE group = 'B'")
    assert(pB.contains("LocalTableScan") && !pB.toLowerCase.contains("parquet"),
      s"expected metadata COUNT over the untouched partition in:\n$pB")
    assert(qB.head().getLong(0) == 1)
    // MIN/MAX over untouched files answers from metadata too
    val (qM, pM) = planOf(
      "SELECT MIN(id), MAX(value2) FROM gsqlaggdel.ns.ad WHERE group = 'C'")
    assert(pM.contains("LocalTableScan"), pM)
    assert(qM.head().getInt(0) == 4 && qM.head().getInt(1) == 40)
    // the TOUCHED partition still scans (subtraction must run) — exact
    val (qA, pA) = planOf("SELECT COUNT(*) FROM gsqlaggdel.ns.ad WHERE group = 'A'")
    assert(!pA.contains("LocalTableScan"), pA)
    assert(qA.head().getLong(0) == 1) // id 1 deleted
    // unfiltered COUNT includes touched files → declines, stays exact
    val (qAll, pAll) = planOf("SELECT COUNT(*) FROM gsqlaggdel.ns.ad")
    assert(!pAll.contains("LocalTableScan"), pAll)
    assert(qAll.head().getLong(0) == 3)
    // position vectors attribute by recorded file_path: a MOR delete in
    // C leaves B metadata-answerable, C scans (and nets to zero)
    tbl.deleteMor($"id" === 4)
    val (qB2, pB2) = planOf("SELECT COUNT(*) FROM gsqlaggdel.ns.ad WHERE group = 'B'")
    assert(pB2.contains("LocalTableScan"), pB2)
    assert(qB2.head().getLong(0) == 1)
    val (qC, pC) = planOf("SELECT COUNT(*) FROM gsqlaggdel.ns.ad WHERE group = 'C'")
    assert(!pC.contains("LocalTableScan"), pC)
    assert(qC.head().getLong(0) == 0)
    // ROW reads route by the same attribution: the untouched partition
    // plans the regular DSv2 parquet scan (BatchScan — SPJ/DPP/codegen
    // path), the touched one takes the V1 MOR subtraction relation
    val (rB, rpB) = planOf("SELECT id FROM gsqlaggdel.ns.ad WHERE group = 'B'")
    assert(rpB.contains("BatchScan"), s"untouched read must stay DSv2:\n$rpB")
    assert(rB.collect().map(_.getInt(0)).toSeq == Seq(3))
    val (rA, rpA) = planOf("SELECT id FROM gsqlaggdel.ns.ad WHERE group = 'A'")
    assert(!rpA.contains("BatchScan"), s"touched read must subtract (MOR):\n$rpA")
    assert(rA.collect().map(_.getInt(0)).sorted.toSeq == Seq(2))
  }

  test("string-keyed delete attribution never metadata-answers the numeric trap") {
    // {"1","100","20"} records lexicographic bounds ["1","20"], whose
    // NUMERIC reading (1,20) excludes the contained "100" — a numeric
    // parse would judge the file disjoint from the delete for "100" and
    // metadata-answer COUNT(*)=3 / route the row read around the MOR
    // subtraction. String bounds must compare lexicographically.
    val wh = Files.createTempDirectory("graft-sqlstr").toString
    val cat = new Snaplog(wh)
    import spark.implicits._
    val df = Seq(("1", 1), ("100", 2), ("20", 3)).toDF("k", "x")
    val tbl = LakehouseTable.create(cat, spark, "ns", "sk", df.schema)
    tbl.append(df.coalesce(1))
    spark.conf.set("spark.sql.catalog.gsqlstr", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlstr.warehouse", wh)
    tbl.deleteEq("k", Seq("100"))
    val q = spark.sql("SELECT COUNT(*) FROM gsqlstr.ns.sk")
    assert(!q.queryExecution.sparkPlan.toString.contains("LocalTableScan"),
      "touched string-keyed file must not metadata-answer")
    assert(q.head().getLong(0) == 2)
    val r = spark.sql("SELECT k FROM gsqlstr.ns.sk")
    assert(!r.queryExecution.sparkPlan.toString.contains("BatchScan"),
      "touched string-keyed read must subtract through MOR")
    assert(r.collect().map(_.getString(0)).sorted.toSeq == Seq("1", "20"))
    // lexicographically-disjoint string delete still dodges: both the
    // aggregate and the row read keep the exact/DSv2 path
    tbl.compact()
    tbl.deleteEq("k", Seq("zz"))
    val q2 = spark.sql("SELECT COUNT(*) FROM gsqlstr.ns.sk")
    assert(q2.queryExecution.sparkPlan.toString.contains("LocalTableScan"),
      "lexicographically-disjoint delete must still metadata-answer")
    assert(q2.head().getLong(0) == 2)
  }

  test("metadata MIN/MAX answers for timestamp/date columns from footer bounds") {
    val wh = Files.createTempDirectory("graft-sqlts").toString
    val cat = new Snaplog(wh)
    cat.createNamespace("ns")
    spark.conf.set("spark.sql.catalog.gsqlts", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlts.warehouse", wh)
    spark.sql("CREATE TABLE gsqlts.ns.ev (id BIGINT, ts TIMESTAMP, d DATE)")
    // two commits (SQL INSERT staging + native append) so bounds merge
    // across files from BOTH write paths; micros precision on purpose
    spark.sql("""INSERT INTO gsqlts.ns.ev VALUES
      (1, TIMESTAMP '2024-01-01 12:00:00', DATE '2024-01-05'),
      (2, TIMESTAMP '2024-02-03 04:05:06.789012', DATE '2023-12-31'),
      (3, CAST(NULL AS TIMESTAMP), DATE '2024-02-01')""")
    val tbl = LakehouseTable.load(cat, spark, "ns", "ev")
    tbl.append(spark.sql(
      """SELECT CAST(4 AS BIGINT) AS id,
         TIMESTAMP '2023-11-01 00:00:00' AS ts, DATE '2024-06-01' AS d"""))

    val q = spark.sql("SELECT MIN(ts), MAX(ts), MIN(d), MAX(d) FROM gsqlts.ns.ev")
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.toLowerCase.contains("parquet"),
      s"expected metadata MIN/MAX for ts/d in:\n$plan")
    val r = q.head()
    assert(r.getTimestamp(0).toInstant ==
      java.time.Instant.parse("2023-11-01T00:00:00Z"))
    assert(r.getTimestamp(1).toInstant ==
      java.time.Instant.parse("2024-02-03T04:05:06.789012Z"))
    assert(r.getDate(2).toLocalDate == java.time.LocalDate.parse("2023-12-31"))
    assert(r.getDate(3).toLocalDate == java.time.LocalDate.parse("2024-06-01"))
    // a real scan agrees (nulls ignored by MIN/MAX on both paths)
    val full = spark.sql(
      "SELECT MIN(ts), MAX(ts), MIN(d), MAX(d) FROM gsqlts.ns.ev WHERE id > 0")
    assert(!full.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(full.head() == r)
  }

  test("SQL reads apply equality deletes with sequence semantics; COW refuses") {
    val wh = Files.createTempDirectory("graft-sqleq").toString
    val cat = new Snaplog(wh)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "eq", df.schema)
    tbl.append(df)
    tbl.deleteEq("id", Seq(2L))
    tbl.append(Seq((2L, "new")).toDF("id", "v")) // re-insert survives

    spark.conf.set("spark.sql.catalog.gsqleq", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqleq.warehouse", wh)
    // the MOR relation applies the delete to pre-delete files only
    assert(spark.sql("SELECT id, v FROM gsqleq.ns.eq ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "new"), (3L, "c")))
    // filters still work through the eq-subtracted scan
    assert(spark.sql("SELECT v FROM gsqleq.ns.eq WHERE id = 2").head().getString(0)
      == "new")
    // UPDATE (COW) with the outstanding equality delete: affected files
    // materialize POST-delete rows (the deleted key must not be
    // resurrected by the rewrite); untouched covered files carry with
    // the delete's layering preserved (asserted file-by-file in the
    // dedicated layering test below)
    spark.sql("UPDATE gsqleq.ns.eq SET v = 'x' WHERE id = 1")
    assert(spark.sql("SELECT id, v FROM gsqleq.ns.eq ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "new"), (3L, "c")))
    // compaction via CALL materializes and retires any carried delete
    spark.sql("CALL gsqleq.system.compact('ns', 'eq', '')")
    assert(cat.liveDeleteFiles("ns", "eq").isEmpty)
    assert(spark.sql("SELECT id, v FROM gsqleq.ns.eq ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "x"), (2L, "new"), (3L, "c")))

    // opt-in SQL routing: write.delete.mode=equality sends a keyed
    // DELETE to the equality tier (no data scan); ranges still MOR
    spark.sql("""CREATE TABLE gsqleq.ns.cdc (id BIGINT, v STRING)
      TBLPROPERTIES ('write.delete.mode'='equality')""")
    spark.sql("INSERT INTO gsqleq.ns.cdc VALUES " +
      "(CAST(1 AS BIGINT),'a'),(CAST(2 AS BIGINT),'b'),(CAST(3 AS BIGINT),'c')")
    spark.sql("DELETE FROM gsqleq.ns.cdc WHERE id IN (1, 3)")
    assert(cat.snapshots("ns", "cdc").last.operation == graft.catalog.Snaplog.OpEqDelete,
      s"keyed DELETE should take the equality tier: ${cat.snapshots("ns", "cdc").map(_.operation)}")
    spark.sql("INSERT INTO gsqleq.ns.cdc VALUES (CAST(1 AS BIGINT),'new')")
    assert(spark.sql("SELECT id, v FROM gsqleq.ns.cdc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "new"), (2L, "b")))
    spark.sql("DELETE FROM gsqleq.ns.cdc WHERE id < 2") // range → position tier
    assert(cat.snapshots("ns", "cdc").last.operation == graft.catalog.Snaplog.OpMorDelete)
    assert(spark.sql("SELECT id FROM gsqleq.ns.cdc").collect().map(_.getLong(0)).toSeq
      == Seq(2L))
  }

  test("COW UPDATE preserves equality-delete layering for untouched files") {
    val wh = Files.createTempDirectory("graft-sqleqcow").toString
    val cat = new Snaplog(wh)
    import spark.implicits._
    val schema = Seq((0L, 0L, "")).toDF("id", "k", "v").schema
    val tbl = LakehouseTable.create(cat, spark, "ns", "eqc", schema)
    tbl.append(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "k", "v")
      .coalesce(1))                                                      // file A
    tbl.append(Seq((3L, 30L, "c")).toDF("id", "k", "v"))                 // file B
    tbl.deleteEq("k", Seq(20L)) // covers A and B
    tbl.append(Seq((4L, 20L, "d")).toDF("id", "k", "v")) // file C: k=20 reborn
    val before = cat.liveFiles("ns", "eqc").map(_.path)
    assert(before.size == 3)

    spark.conf.set("spark.sql.catalog.gsqleqc", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqleqc.warehouse", wh)
    // the statement touches only file B (id stats prune A and C); A is
    // eq-covered and C postdates the delete — BOTH must carry by path,
    // with the delete re-listed between them so (2,b) stays deleted and
    // (4,d) stays alive
    spark.sql("UPDATE gsqleqc.ns.eqc SET v = 'x' WHERE id = 3")
    val sum = cat.snapshots("ns", "eqc").last.summary
    assert(sum.get("carried-files").contains("2") &&
      sum.get("rewritten-files").exists(_.toInt >= 1), s"got $sum")
    val after = cat.liveFiles("ns", "eqc").map(_.path).toSet
    assert(before.count(after) == 2, "files A and C must survive by path")
    assert(cat.liveDeleteFiles("ns", "eqc").size == 1,
      "the eq delete must re-list behind its carried file")
    assert(spark.sql("SELECT id, v FROM gsqleqc.ns.eqc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "x"), (4L, "d")))
    // native scan agrees (same replay-order semantics)
    assert(LakehouseTable.load(cat, spark, "ns", "eqc").scan()
      .orderBy("id").select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L, 4L))
    // a MERGE whose join matches only the reborn row carries A (and its
    // layering) again; the deleted (2,b) must never resurface
    Seq((4L, "dd")).toDF("id", "nv").createOrReplaceTempView("eqc_src")
    spark.sql("""MERGE INTO gsqleqc.ns.eqc t USING eqc_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.v = s.nv""")
    assert(spark.sql("SELECT id, v FROM gsqleqc.ns.eqc ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "x"), (4L, "dd")))
    // compaction materializes everything and retires the delete
    spark.sql("CALL gsqleqc.system.compact('ns', 'eqc', '')")
    assert(cat.liveDeleteFiles("ns", "eqc").isEmpty)
    assert(spark.sql("SELECT id FROM gsqleqc.ns.eqc ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
  }

  test("null counts: metadata COUNT(col) with real nulls + IS NULL file pruning") {
    val wh = Files.createTempDirectory("graft-sqlnull").toString
    val cat = new Snaplog(wh)
    import spark.implicits._
    // file 1: no nulls in v; file 2: all-null v; file 3: mixed
    val sch = Seq((1L, Option("a")), (2L, Option("b"))).toDF("id", "v").schema
    val tbl = LakehouseTable.create(cat, spark, "ns", "nc", sch)
    tbl.append(Seq((1L, Option("a")), (2L, Option("b"))).toDF("id", "v").coalesce(1))
    tbl.append(Seq((3L, None: Option[String]), (4L, None)).toDF("id", "v").coalesce(1))
    tbl.append(Seq((5L, Option("c")), (6L, None)).toDF("id", "v").coalesce(1))
    val files = cat.liveFiles("ns", "nc")
    assert(files.size == 3)
    assert(files.forall(_.nullCounts.exists(_.contains("v"))),
      s"every file must record a null count for v: $files")

    spark.conf.set("spark.sql.catalog.gsqlnull", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlnull.warehouse", wh)
    // COUNT(v) = 6 rows − 3 nulls, answered from the log
    val c = spark.sql("SELECT COUNT(v) FROM gsqlnull.ns.nc")
    assert(c.queryExecution.sparkPlan.toString.contains("LocalTableScan"),
      s"expected metadata COUNT(v) in:\n${c.queryExecution.sparkPlan}")
    assert(c.head().getLong(0) == 3L)

    // IS NULL prunes the zero-null file; IS NOT NULL prunes the all-null
    // file — both from metadata, results exact either way
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    def scanned(sql: String): Int = {
      val plan = spark.sql(sql).queryExecution.sparkPlan
      plan.collect { case b: BatchScanExec => b.scan }
        .collect { case fs: FileScan => fs.fileIndex.inputFiles.length }.sum
    }
    assert(scanned("SELECT id FROM gsqlnull.ns.nc WHERE v IS NULL") == 2,
      "IS NULL should scan 2 of 3 files")
    assert(spark.sql("SELECT id FROM gsqlnull.ns.nc WHERE v IS NULL")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 6L))
    assert(scanned("SELECT id FROM gsqlnull.ns.nc WHERE v IS NOT NULL") == 2,
      "IS NOT NULL should scan 2 of 3 files")
    assert(spark.sql("SELECT id FROM gsqlnull.ns.nc WHERE v IS NOT NULL")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 5L))
  }

  test("partition-exact filters still answer aggregates from metadata") {
    val wh = Files.createTempDirectory("graft-sqlaggp").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "pa", fixture().schema, Seq("group"))
    tbl.append(fixture().coalesce(1))
    spark.conf.set("spark.sql.catalog.gsqlaggp", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlaggp.warehouse", wh)

    // equality on the identity-partition column selects exactly one
    // partition's files — COUNT/MIN/MAX still answer from the log
    val df = spark.sql(
      "SELECT COUNT(*), MIN(value2), MAX(value2) FROM gsqlaggp.ns.pa WHERE group = 'A'")
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected metadata agg in:\n$plan")
    val r = df.head()
    assert(r.getLong(0) == 2L && r.getInt(1) == 10 && r.getInt(2) == 20)

    val in = spark.sql(
      "SELECT COUNT(*) FROM gsqlaggp.ns.pa WHERE group IN ('B', 'C')")
    assert(in.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(in.head().getLong(0) == 2L)

    // a non-partition predicate in the mix declines the shortcut
    val mixed = spark.sql(
      "SELECT COUNT(*) FROM gsqlaggp.ns.pa WHERE group = 'A' AND value2 > 15")
    assert(!mixed.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(mixed.head().getLong(0) == 1L)
  }

  test("INSERT INTO appends through the snapshot-log commit protocol") {
    val wh = Files.createTempDirectory("graft-sqlins").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "ins", fixture().schema)
    tbl.append(fixture()) // snapshot 1
    spark.conf.set("spark.sql.catalog.gsqlins", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlins.warehouse", wh)

    spark.sql("INSERT INTO gsqlins.ns.ins VALUES (9, 'D', 9.5, 90), (10, 'D', 10.5, 100)")
    // one atomic append snapshot, visible to BOTH the SQL path and the API
    val snaps = cat.snapshots("ns", "ins")
    assert(snaps.size == 2 && snaps.last.operation == "append")
    assert(snaps.last.summary.get("engine").contains("sql-insert"))
    assert(snaps.last.files.map(_.rowCount).sum == 2)
    assert(spark.sql("SELECT COUNT(*) FROM gsqlins.ns.ins").head().getLong(0) == 6)
    assert(tbl.scan().count() == 6)
    assert(spark.sql("SELECT SUM(value2) FROM gsqlins.ns.ins").head().getLong(0) ==
      10 + 20 + 30 + 40 + 90 + 100)
    // inserted files carry footer stats into the log like any commit
    assert(snaps.last.files.forall(_.columnStats.exists(_.contains("value2"))))

    // time-travel relations are read-only
    intercept[Exception] {
      spark.sql("INSERT INTO gsqlins.ns.ins VERSION AS OF 1 VALUES (1, 'X', 0.0, 0)")
    }
  }

  test("SQL writes are managed under a hostile session: ids stamped, no INT96") {
    import graft.types.FieldIds
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val saved = Seq(FieldIds.WriteConf, tsKey).map(k => k -> spark.conf.getOption(k))
    def footer(path: String): String = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf()))
      try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
    }
    try {
      spark.conf.set(FieldIds.WriteConf, "false")
      spark.conf.set(tsKey, "INT96")
      val wh = Files.createTempDirectory("graft-sqlhostile").toString
      val cat = new Snaplog(wh)
      val df = fixture().withColumn("ts",
        org.apache.spark.sql.functions.to_timestamp(
          org.apache.spark.sql.functions.lit("2024-01-02 03:04:05")))
      // unpartitioned: INSERT and UPDATE both write through DSv2;
      // partitioned: UPDATE's relayout writes through V1
      LakehouseTable.create(cat, spark, "ns", "h", df.schema).append(df)
      LakehouseTable.create(cat, spark, "ns", "hp", df.schema, Seq("group")).append(df)
      spark.conf.set("spark.sql.catalog.gsqlhost", classOf[GraftSqlCatalog].getName)
      spark.conf.set("spark.sql.catalog.gsqlhost.warehouse", wh)
      def assertManaged(t: String, after: String): Unit =
        cat.liveFiles("ns", t).map(_.path).foreach { p =>
          assert(FieldIds.fileCarriesIds(spark, p), s"$t after $after: $p has no field ids")
          val f = footer(p)
          assert(!f.contains("int96"), s"$t after $after: $p has INT96 timestamps:\n$f")
        }
      Seq("h", "hp").foreach { t =>
        spark.sql(s"INSERT INTO gsqlhost.ns.$t VALUES " +
          "(9, 'D', 9.5, 90, TIMESTAMP '2024-05-06 07:08:09')")
        assertManaged(t, "INSERT")
        spark.sql(s"UPDATE gsqlhost.ns.$t SET value2 = value2 + 1, " +
          "ts = TIMESTAMP '2024-06-07 08:09:10' WHERE id >= 3")
        assertManaged(t, "UPDATE")
        assert(cat.snapshots("ns", t).last.summary.get("engine").contains("sql-update"))
        val rows = spark.sql(s"SELECT id, value2 FROM gsqlhost.ns.$t ORDER BY id")
          .collect().map(r => r.getInt(0) -> r.getInt(1)).toSeq
        assert(rows == Seq(1 -> 10, 2 -> 20, 3 -> 31, 4 -> 41, 9 -> 91), s"$t: $rows")
        assert(spark.sql(s"SELECT COUNT(*) FROM gsqlhost.ns.$t " +
          "WHERE ts = TIMESTAMP '2024-06-07 08:09:10'").head().getLong(0) == 3)
      }
      // the session's own settings were never touched
      assert(spark.conf.get(FieldIds.WriteConf) == "false")
      assert(spark.conf.get(tsKey) == "INT96")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DELETE FROM maps onto the merge-on-read tier through the commit protocol") {
    val wh = Files.createTempDirectory("graft-sqldel").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "del", fixture().schema)
    tbl.append(fixture())
    spark.conf.set("spark.sql.catalog.gsqldel", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqldel.warehouse", wh)

    spark.sql("DELETE FROM gsqldel.ns.del WHERE value2 >= 30")
    // one mor_delete snapshot: data files untouched, one vector added
    val snaps = cat.snapshots("ns", "del")
    assert(snaps.size == 2 &&
      snaps.last.operation == graft.catalog.Snaplog.OpMorDelete)
    assert(cat.liveDeleteFiles("ns", "del").size == 1)
    // both surfaces agree on the survivors
    assert(spark.sql("SELECT COUNT(*) FROM gsqldel.ns.del").head().getLong(0) == 2)
    assert(tbl.scan().orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    // idempotent re-delete records nothing twice
    spark.sql("DELETE FROM gsqldel.ns.del WHERE value2 >= 30")
    assert(cat.snapshots("ns", "del").last.summary.get("deleted-rows").contains("0"))
    // compaction materializes; results unchanged
    tbl.compact()
    assert(spark.sql("SELECT COUNT(*) FROM gsqldel.ns.del").head().getLong(0) == 2)
  }

  test("UPDATE and MERGE INTO rewrite through group-based copy-on-write") {
    val wh = Files.createTempDirectory("graft-sqlupd").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "u", fixture().schema)
    tbl.append(fixture())
    spark.conf.set("spark.sql.catalog.gsqlupd", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlupd.warehouse", wh)

    spark.sql("UPDATE gsqlupd.ns.u SET value2 = value2 + 100 WHERE id >= 3")
    assert(cat.snapshots("ns", "u").last.operation == graft.catalog.Snaplog.OpOverwrite)
    assert(cat.snapshots("ns", "u").last.summary.get("engine").contains("sql-update"))
    assert(spark.sql("SELECT SUM(value2) FROM gsqlupd.ns.u").head().getLong(0) ==
      10 + 20 + 130 + 140)
    assert(tbl.scan().agg(sum(col("value2"))).head().getLong(0) == 300)

    // MERGE INTO: matched update + not-matched insert, one overwrite commit
    Seq((2, "A", 0.0f, 999), (9, "Z", 9.0f, 900))
      .toDF("id", "group", "value1", "value2")
      .createOrReplaceTempView("graft_merge_src")
    spark.sql("""MERGE INTO gsqlupd.ns.u t USING graft_merge_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.value2 = s.value2
      WHEN NOT MATCHED THEN INSERT *""")
    assert(cat.snapshots("ns", "u").last.summary.get("engine").contains("sql-merge"))
    val rows = spark.sql("SELECT id, value2 FROM gsqlupd.ns.u ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows == Map(1 -> 10, 2 -> 999, 3 -> 130, 4 -> 140, 9 -> 900))

    // MERGE with NOT MATCHED BY SOURCE: rows absent from the source are
    // deleted by the same group-based rewrite — full three-clause MERGE
    Seq((3, 333), (7, 700)).toDF("id", "value2")
      .createOrReplaceTempView("graft_merge_src2")
    spark.sql("""MERGE INTO gsqlupd.ns.u t USING graft_merge_src2 s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.value2 = s.value2
      WHEN NOT MATCHED THEN INSERT (id, group, value1, value2)
        VALUES (s.id, 'S', 0.0, s.value2)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val afterMerge2 = spark.sql("SELECT id, value2 FROM gsqlupd.ns.u ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(afterMerge2 == Map(3 -> 333, 7 -> 700),
      s"three-clause MERGE mismatch: $afterMerge2")

    // outstanding MOR vectors no longer refuse UPDATE: the rewrite
    // materializes the subtraction for affected files, so it sees
    // post-delete rows, and the reset commit retires the vectors —
    // deleted rows never resurrect
    tbl.deleteMor($"id" === 3)
    spark.sql("UPDATE gsqlupd.ns.u SET value2 = 0 WHERE id = 7")
    assert(cat.liveDeleteFiles("ns", "u").isEmpty,
      "the COW reset commit must retire outstanding delete vectors")
    val after = spark.sql("SELECT id, value2 FROM gsqlupd.ns.u ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(after == Map(7 -> 0), s"MOR-deleted row resurrected: $after")
  }

  test("selective UPDATE/DELETE rewrites only affected files (file-granular COW)") {
    val wh = Files.createTempDirectory("graft-sqlcow").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "c", fixture().schema)
    // three appends → three files with disjoint id ranges
    tbl.append(fixture().coalesce(1))                               // ids 1-4
    tbl.append(fixture().withColumn("id", $"id" + 10).coalesce(1))  // ids 11-14
    tbl.append(fixture().withColumn("id", $"id" + 20).coalesce(1))  // ids 21-24
    val before = cat.liveFiles("ns", "c").map(_.path)
    assert(before.size == 3)
    spark.conf.set("spark.sql.catalog.gsqlcow", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlcow.warehouse", wh)

    // column-bounds pruning: only the middle file can hold ids 11-14
    spark.sql("UPDATE gsqlcow.ns.c SET value2 = 0 WHERE id BETWEEN 11 AND 14")
    val sum1 = cat.snapshots("ns", "c").last.summary
    assert(sum1.get("carried-files").contains("2"), s"summary: $sum1")
    val after1 = cat.liveFiles("ns", "c").map(_.path)
    assert(after1.toSet.intersect(before.toSet) == before.toSet - before(1),
      s"untouched files must survive by identity: before=$before after=$after1")
    assert(spark.sql("SELECT SUM(value2) FROM gsqlcow.ns.c").head().getLong(0) ==
      2 * (10 + 20 + 30 + 40))

    // group-based DELETE (predicate untranslatable to source filters →
    // the metadata/MOR path declines): bounds still prune to one file
    spark.sql(
      "DELETE FROM gsqlcow.ns.c WHERE id >= 21 AND length(group) >= 1")
    val sum2 = cat.snapshots("ns", "c").last.summary
    assert(sum2.get("carried-files").contains("2"), s"summary: $sum2")
    assert(spark.sql("SELECT COUNT(*) FROM gsqlcow.ns.c").head().getLong(0) == 8)

    // a no-match UPDATE carries every file and rewrites none
    spark.sql("UPDATE gsqlcow.ns.c SET value2 = -1 WHERE id = 999")
    val sum3 = cat.snapshots("ns", "c").last.summary
    assert(sum3.get("carried-files").contains("2") ||
      sum3.get("carried-files").contains("3"), s"summary: $sum3")
    assert(sum3.get("rewritten-files").exists(_.toInt <= 1), s"summary: $sum3")
    // file 1 untouched (10+20+30+40), file 2 zeroed, file 3 deleted
    assert(spark.sql("SELECT SUM(value2) FROM gsqlcow.ns.c").head().getLong(0) == 100)
  }

  test("row-level scans never receive data filters (group-semantics invariant)") {
    // THE load-bearing invariant of file-granular COW: the pushed group
    // filters may prune whole FILES but must never row-filter — a
    // forwarded parquet filter would silently drop keep-rows from the
    // replacement (the rewrite plans no residual Filter above the
    // scan). Pin it via the physical plan: the inner parquet scan of an
    // UPDATE rewrite must show NO pushed data filters.
    val wh = Files.createTempDirectory("graft-sqlinv").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "inv", fixture().schema)
    tbl.append(fixture())
    spark.conf.set("spark.sql.catalog.gsqlinv", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlinv.warehouse", wh)
    val plan = spark.sql(
      "UPDATE gsqlinv.ns.inv SET value2 = 0 WHERE id >= 3")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("PushedFilters: [Is") &&
      !plan.contains("PushedFilters: [Greater") &&
      !plan.contains("PushedFilters: [Equal"),
      s"row-level scan must not push data filters into parquet:\n$plan")
    // and the statement stayed correct
    assert(spark.sql("SELECT SUM(value2) FROM gsqlinv.ns.inv").head().getLong(0) == 30)
  }

  test("randomized selective COW agrees with a DataFrame oracle") {
    // property-style sweep: random multi-file layouts and predicates;
    // after each UPDATE the table must equal the row-by-row expectation
    // and carried+rewritten must cover the pre-statement live set
    val rnd = new scala.util.Random(42)
    val wh = Files.createTempDirectory("graft-sqlfuzz").toString
    val cat = new Snaplog(wh)
    spark.conf.set("spark.sql.catalog.gsqlfuzz", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlfuzz.warehouse", wh)
    val base = (1 to 300).map(i => (i, i % 7, i * 10))
    val df = base.toDF("id", "k", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "fz", df.schema)
    // 4 appends with overlapping-but-distinct id ranges → 4 files
    Seq(0 to 99, 50 to 179, 180 to 239, 240 to 299).foreach { r =>
      tbl.append(df.filter($"id".between(r.start + 1, r.end + 1)).coalesce(1))
    }
    // expectation tracked as a row multiset (ids repeat across slices)
    var rows: Seq[(Int, Int, Int)] =
      Seq(0 to 99, 50 to 179, 180 to 239, 240 to 299).flatMap { r =>
        base.filter(t => t._1 >= r.start + 1 && t._1 <= r.end + 1)
      }
    (1 to 6).foreach { _ =>
      val lo = rnd.nextInt(300) + 1
      val hi = math.min(300, lo + rnd.nextInt(80))
      val m = rnd.nextInt(5) + 2
      val live = cat.liveFiles("ns", "fz").size
      spark.sql(
        s"UPDATE gsqlfuzz.ns.fz SET v = v + 1 WHERE id BETWEEN $lo AND $hi AND k % $m = 0")
      rows = rows.map { case (id, k, v) =>
        if (id >= lo && id <= hi && k % m == 0) (id, k, v + 1) else (id, k, v)
      }
      val got = spark.sql("SELECT id, k, v FROM gsqlfuzz.ns.fz")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
      assert(got.sorted == rows.sorted, s"drift after UPDATE [$lo,$hi] k%$m")
      val sum = cat.snapshots("ns", "fz").last.summary
      val carried = sum.get("carried-files").map(_.toInt).getOrElse(-1)
      assert(carried >= 0 && carried <= live, s"carry accounting: $sum")
    }
  }

  test("racing SQL UPDATEs serialize: winners apply, losers conflict, nothing tears") {
    val wh = Files.createTempDirectory("graft-updrace").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "urace", fixture().schema)
    tbl.append(fixture().coalesce(1))
    spark.conf.set("spark.sql.catalog.gupdrace", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gupdrace.warehouse", wh)
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(4)
    val results = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Unit]] {
        override def call(): Either[Throwable, Unit] =
          try Right {
            spark.sql(s"UPDATE gupdrace.ns.urace SET value2 = value2 + ${i * 1000} WHERE id = $i")
            ()
          } catch { case e: Throwable => Left(e) }
      })
    }.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    val wins = results.count(_.isRight)
    assert(wins >= 1, "at least one racer must land")
    // every loser failed via the conditional-commit conflict, loudly
    results.collect { case Left(e) =>
      def chain(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
      assert(chain(e).exists(
        _.isInstanceOf[graft.catalog.CommitConflictException]),
        s"loser must surface CommitConflictException, got: $e")
    }
    // the final table equals applying SOME subset of the updates — each
    // id's value is either original or original + id*1000, and the
    // number of applied updates equals the number of winners
    val byId = spark.sql("SELECT id, value2 FROM gupdrace.ns.urace")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(byId.size == 4, s"row set torn: $byId")
    val applied = (1 to 4).count { i =>
      val orig = i * 10
      assert(byId(i) == orig || byId(i) == orig + i * 1000,
        s"id $i has impossible value ${byId(i)}")
      byId(i) == orig + i * 1000
    }
    assert(applied == wins, s"applied=$applied but winners=$wins — torn state")
  }

  test("partitioned-table SQL UPDATE/MERGE keeps partition metadata and carries other partitions") {
    val wh = Files.createTempDirectory("graft-sqlcowp").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "pc", fixture().schema, Seq("group"))
    tbl.append(fixture().coalesce(1)) // one file per partition: A B C
    val before = cat.liveFiles("ns", "pc")
    assert(before.size == 3)
    spark.conf.set("spark.sql.catalog.gsqlcowp", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlcowp.warehouse", wh)

    spark.sql("UPDATE gsqlcowp.ns.pc SET value2 = value2 + 1 WHERE group = 'B'")
    val live = cat.liveFiles("ns", "pc")
    val beforeByPart = before.map(f => f.partitionValues("group") -> f.path).toMap
    val liveByPart = live.map(f => f.partitionValues("group") -> f.path).toMap
    // untouched partitions carried by identity; B replaced
    assert(liveByPart("A") == beforeByPart("A") && liveByPart("C") == beforeByPart("C"),
      s"carried partitions must survive by identity: $beforeByPart vs $liveByPart")
    assert(liveByPart("B") != beforeByPart("B"))
    // every rewritten file records its partition tuple (the relayout) —
    // pruning and partition-exact aggregates stay intact after SQL DML
    assert(live.forall(_.partitionValues.contains("group")))
    val rows = spark.sql("SELECT id, value2 FROM gsqlcowp.ns.pc ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows == Map(1 -> 10, 2 -> 20, 3 -> 31, 4 -> 40), s"got $rows")

    // MERGE on the partitioned table (join condition → no static file
    // pruning, whole-table rewrite) stays correct and keeps metadata
    Seq((4, "C", 0.0f, 444), (9, "Z", 9.0f, 900))
      .toDF("id", "group", "value1", "value2")
      .createOrReplaceTempView("graft_merge_psrc")
    spark.sql("""MERGE INTO gsqlcowp.ns.pc t USING graft_merge_psrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.value2 = s.value2
      WHEN NOT MATCHED THEN INSERT *""")
    val merged = spark.sql("SELECT id, value2 FROM gsqlcowp.ns.pc ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(merged == Map(1 -> 10, 2 -> 20, 3 -> 31, 4 -> 444, 9 -> 900), s"got $merged")
    assert(cat.liveFiles("ns", "pc").forall(_.partitionValues.contains("group")))
    // RUNTIME group filtering: the merge join matched only partition C,
    // so A and B must have been carried, not rewritten — the case
    // static pruning can never see (the ON condition references the
    // source side)
    val mergeSum = cat.snapshots("ns", "pc")
      .filter(_.summary.get("engine").contains("sql-merge")).last.summary
    assert(mergeSum.get("carried-files").contains("2"),
      s"runtime group filter should carry A and B: $mergeSum")
    // partition pruning still exact after the DML chain
    assert(spark.sql("SELECT id FROM gsqlcowp.ns.pc WHERE group = 'Z'")
      .collect().map(_.getInt(0)).toSeq == Seq(9))

    // MOR vectors + partitioned + MERGE in one shot: subtraction holds,
    // vectors retire, partition metadata survives
    LakehouseTable.load(cat, spark, "ns", "pc").deleteMor($"id" === 1)
    spark.sql("""MERGE INTO gsqlcowp.ns.pc t USING graft_merge_psrc s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.value2 = -1""")
    assert(cat.liveDeleteFiles("ns", "pc").isEmpty)
    val fin = spark.sql("SELECT id, value2 FROM gsqlcowp.ns.pc ORDER BY id")
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(fin == Map(2 -> 20, 3 -> 31, 4 -> -1, 9 -> -1), s"got $fin")
  }

  test("CREATE TABLE, CTAS, INSERT OVERWRITE and DROP TABLE through the catalog") {
    val wh = Files.createTempDirectory("graft-sqlddl").toString
    val cat = new Snaplog(wh)
    cat.createNamespace("ns")
    spark.conf.set("spark.sql.catalog.gsqlddl", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlddl.warehouse", wh)

    // identity-partitioned CREATE records the partition spec in the log;
    // its INSERT routes through the V1 bridge into writeCommit, so every
    // written file is single-valued with its partition tuple in the log
    spark.sql("""CREATE TABLE gsqlddl.ns.c (id INT, grp STRING, v BIGINT)
      PARTITIONED BY (grp) TBLPROPERTIES ('quality'='gold')""")
    assert(cat.loadTable("ns", "c").partitionColumns == Seq("grp"))
    spark.sql("INSERT INTO gsqlddl.ns.c VALUES (1,'a',1), (2,'b',2), (3,'a',3)")
    assert(cat.liveFiles("ns", "c").forall(_.partitionValues.contains("grp")))
    assert(cat.liveFiles("ns", "c").map(_.partitionValues("grp")).toSet == Set("a", "b"))
    assert(spark.sql("SELECT SUM(v) FROM gsqlddl.ns.c WHERE grp = 'a'")
      .head().getLong(0) == 4)
    // partitioned INSERT OVERWRITE is one overwrite commit
    spark.sql("INSERT OVERWRITE gsqlddl.ns.c VALUES (9,'z',CAST(9 AS BIGINT))")
    assert(spark.sql("SELECT COUNT(*) FROM gsqlddl.ns.c").head().getLong(0) == 1)
    assert(cat.snapshots("ns", "c").last.operation == graft.catalog.Snaplog.OpOverwrite)
    // DESCRIBE/SHOW see the real partition spec and stored properties
    val desc = spark.sql("DESCRIBE TABLE gsqlddl.ns.c").collect()
    assert(desc.exists(_.getString(0) == "# Partition Information") &&
      desc.count(_.getString(0) == "grp") == 2,
      s"expected partition section listing grp in ${desc.mkString(";")}")
    val props = spark.sql("SHOW TBLPROPERTIES gsqlddl.ns.c").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("quality").contains("gold"))
    // unsupported transforms refuse at CREATE (years/months/days/hours/
    // bucket/truncate are accepted — see PartitionTransformSpec)
    intercept[Exception] {
      spark.sql("CREATE TABLE gsqlddl.ns.b (id INT) PARTITIONED BY (zorder(id))")
    }

    spark.sql("CREATE TABLE gsqlddl.ns.u (id INT, v BIGINT)")
    spark.sql("INSERT INTO gsqlddl.ns.u VALUES (1, 10), (2, 20), (3, 30)")
    assert(spark.sql("SELECT SUM(v) FROM gsqlddl.ns.u").head().getLong(0) == 60)

    // CTAS: metadata commit + append through the same conditional-commit
    // write path
    spark.sql("""CREATE TABLE gsqlddl.ns.big AS
      SELECT id, v * 2 AS v2 FROM gsqlddl.ns.u WHERE v >= 20""")
    assert(spark.sql("SELECT SUM(v2) FROM gsqlddl.ns.big").head().getLong(0) == 100)
    assert(cat.snapshots("ns", "big").map(_.operation) ==
      Seq(graft.catalog.Snaplog.OpAppend))

    // INSERT OVERWRITE: one atomic overwrite commit, not delete+append
    spark.sql("INSERT OVERWRITE gsqlddl.ns.u VALUES (9, 90), (10, CAST(100 AS BIGINT))")
    assert(spark.sql("SELECT COUNT(*), SUM(v) FROM gsqlddl.ns.u").head() match {
      case r => r.getLong(0) == 2 && r.getLong(1) == 190
    })
    val last = cat.snapshots("ns", "u").last
    assert(last.operation == graft.catalog.Snaplog.OpOverwrite)
    assert(last.summary.get("engine").contains("sql-insert-overwrite"))

    // duplicate CREATE fails loudly; IF NOT EXISTS is silent
    intercept[Exception] { spark.sql("CREATE TABLE gsqlddl.ns.u (id INT)") }
    spark.sql("CREATE TABLE IF NOT EXISTS gsqlddl.ns.u (id INT)")
    assert(spark.sql("SELECT COUNT(*) FROM gsqlddl.ns.u").head().getLong(0) == 2)

    // ALTER TABLE … RENAME TO: metadata-only rename through the catalog
    spark.sql("ALTER TABLE gsqlddl.ns.u RENAME TO ns.u2")
    assert(!cat.tableExists("ns", "u") && cat.tableExists("ns", "u2"))
    assert(spark.sql("SELECT SUM(v) FROM gsqlddl.ns.u2").head().getLong(0) == 190)
    spark.sql("INSERT INTO gsqlddl.ns.u2 VALUES (11, 110)")
    assert(spark.sql("SELECT COUNT(*) FROM gsqlddl.ns.u2").head().getLong(0) == 3)

    spark.sql("DROP TABLE gsqlddl.ns.big")
    assert(!cat.tableExists("ns", "big"))
    intercept[Exception] { spark.sql("SELECT * FROM gsqlddl.ns.big").collect() }

    // partitioned CTAS: metadata commit + the V1 partitioned write
    spark.sql("""CREATE TABLE gsqlddl.ns.pctas PARTITIONED BY (grp)
      AS SELECT 1 AS id, 'a' AS grp""")
    assert(cat.loadTable("ns", "pctas").partitionColumns == Seq("grp"))
    assert(cat.liveFiles("ns", "pctas").map(_.partitionValues("grp")) == Seq("a"))
    assert(spark.sql("SELECT COUNT(*) FROM gsqlddl.ns.pctas").head().getLong(0) == 1)
  }

  test("ALTER TABLE ADD COLUMN: the one always-safe evolution works from SQL") {
    val wh = Files.createTempDirectory("graft-sqlalter").toString
    val cat = new Snaplog(wh)
    LakehouseTable.create(cat, spark, "ns", "a", fixture().schema)
      .append(fixture())
    spark.conf.set("spark.sql.catalog.gsqlalter", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlalter.warehouse", wh)

    spark.sql("ALTER TABLE gsqlalter.ns.a ADD COLUMN note STRING")
    assert(cat.loadTable("ns", "a").schema.fieldNames.last == "note")
    // existing parquet fills the new column with null; new writes carry it
    assert(spark.sql(
      "SELECT COUNT(*) FROM gsqlalter.ns.a WHERE note IS NULL").head().getLong(0) == 4)
    spark.sql("INSERT INTO gsqlalter.ns.a VALUES (5, 'E', 5.5, 50, 'tagged')")
    assert(spark.sql(
      "SELECT id FROM gsqlalter.ns.a WHERE note = 'tagged'").head().getInt(0) == 5)

    // RENAME via field-id indirection: the SQL-inserted file is
    // id-stamped like native writes, so the table is rename-eligible;
    // the renamed column keeps serving values written under 'note'
    spark.sql("ALTER TABLE gsqlalter.ns.a RENAME COLUMN note TO memo")
    assert(spark.sql(
      "SELECT id FROM gsqlalter.ns.a WHERE memo = 'tagged'").head().getInt(0) == 5)
    // DROP removes the column from scans; files stay untouched
    spark.sql("ALTER TABLE gsqlalter.ns.a DROP COLUMN memo")
    assert(!spark.sql("SELECT * FROM gsqlalter.ns.a").columns.contains("memo"))
    // retype outside the widening promotions still refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE gsqlalter.ns.a ALTER COLUMN `group` TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gsqlalter.ns.a ADD COLUMN bad INT NOT NULL")
    }
  }

  test("TRUNCATE TABLE is a metadata-only overwrite commit") {
    val wh = Files.createTempDirectory("graft-sqltrunc").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "tr", fixture().schema)
    tbl.append(fixture()) // snapshot 1
    spark.conf.set("spark.sql.catalog.gsqltr", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqltr.warehouse", wh)

    val dataFiles = cat.liveFiles("ns", "tr").map(_.path)
    spark.sql("TRUNCATE TABLE gsqltr.ns.tr")
    assert(spark.sql("SELECT COUNT(*) FROM gsqltr.ns.tr").head().getLong(0) == 0)
    // metadata-only: the previous data files still exist on disk and
    // the pre-truncate snapshot still reads them
    assert(dataFiles.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(spark.sql("SELECT COUNT(*) FROM gsqltr.ns.tr VERSION AS OF 1")
      .head().getLong(0) == 4)
    val last = cat.snapshots("ns", "tr").last
    assert(last.operation == graft.catalog.Snaplog.OpOverwrite)
    assert(last.files.isEmpty)
    assert(last.summary.get("engine").contains("sql-truncate"))
    // and the table keeps working: insert after truncate
    spark.sql("INSERT INTO gsqltr.ns.tr VALUES (7, 'G', 7.5, 70)")
    assert(spark.sql("SELECT SUM(value2) FROM gsqltr.ns.tr").head().getLong(0) == 70)

    // unconditional DELETE takes the same metadata-only path — an empty
    // overwrite commit, never a table-sized position vector
    spark.sql("DELETE FROM gsqltr.ns.tr")
    assert(spark.sql("SELECT COUNT(*) FROM gsqltr.ns.tr").head().getLong(0) == 0)
    val delAll = cat.snapshots("ns", "tr").last
    assert(delAll.operation == graft.catalog.Snaplog.OpOverwrite &&
      delAll.files.isEmpty && delAll.summary.get("engine").contains("sql-truncate"))
    assert(cat.liveDeleteFiles("ns", "tr").isEmpty, "no vector may be written")
  }

  test("CALL iceberg_export / iceberg_import round-trip from SQL alone") {
    val wh = Files.createTempDirectory("graft-sqlice").toString
    val cat = new Snaplog(wh)
    cat.createNamespace("ns")
    spark.conf.set("spark.sql.catalog.gsqlice", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlice.warehouse", wh)
    spark.sql("CREATE TABLE gsqlice.ns.src (id INT, v INT)")
    spark.sql("INSERT INTO gsqlice.ns.src VALUES (1, 10), (2, 20), (3, 30)")
    // live MOR state rides the export: delete id=2 as an equality key
    LakehouseTable.load(cat, spark, "ns", "src").deleteEq("id", Seq(2))
    val dest = s"$wh/ice_sql"
    val exp = spark.sql(
      s"CALL gsqlice.system.iceberg_export('ns', 'src', '$dest', 2)").head()
    assert(exp.getLong(2) == 3L && exp.getLong(3) == 1L,
      s"3 data files? ${exp.getLong(2)}; 1 delete file? ${exp.getLong(3)}")
    val imp = spark.sql(
      s"CALL gsqlice.system.iceberg_import('ns', 'src_rt', '$dest', 1)").head()
    assert(imp.getInt(3) == 1, "one equality delete imported")
    assert(spark.sql("SELECT id FROM gsqlice.ns.src_rt ORDER BY id")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("CALL iceberg_refresh and iceberg_register_rest: the adoption lifecycle from SQL alone") {
    val wh = Files.createTempDirectory("graft-sqlref").toString
    val cat = new Snaplog(wh)
    cat.createNamespace("ns")
    spark.conf.set("spark.sql.catalog.gsqladopt", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqladopt.warehouse", wh)
    spark.sql("CREATE TABLE gsqladopt.ns.live (id INT, v INT)")
    spark.sql("INSERT INTO gsqladopt.ns.live VALUES (1, 10), (2, 20)")
    val dest = s"$wh/ice_live"
    spark.sql(s"CALL gsqladopt.system.iceberg_export('ns', 'live', '$dest', 2)")
    val srv = graft.interop.RestServe.start(
      Map(("ext", "live") -> java.nio.file.Paths.get(dest)))
    try {
      val reg = spark.sql(
        s"CALL gsqladopt.system.iceberg_register_rest('ns', 'mirror', " +
          s"'${srv.endpoint}', 'ext', 'live')").head()
      assert(reg.getInt(1) >= 1, s"data files: $reg")
      // the source advances; SQL alone re-syncs — per-snapshot replay
      spark.sql("INSERT INTO gsqladopt.ns.live VALUES (3, 30)")
      LakehouseTable.load(cat, spark, "ns", "live").deleteEq("id", Seq(1))
      spark.sql(s"CALL gsqladopt.system.iceberg_export('ns', 'live', '$dest', 2)")
      val r = spark.sql(
        "CALL gsqladopt.system.iceberg_refresh('ns', 'mirror', 1)").head()
      assert(r.getInt(2) == 2 && r.getInt(5) == 0,
        s"2 per-snapshot commits, no reset: $r")
      assert(spark.sql("SELECT id FROM gsqladopt.ns.mirror ORDER BY id")
        .collect().map(_.getInt(0)).toSeq == Seq(2, 3))
      // unchanged source: a zero-commit no-op
      val r2 = spark.sql(
        "CALL gsqladopt.system.iceberg_refresh('ns', 'mirror', 0)").head()
      assert(r2.getInt(2) == 0, r2.toString)
    } finally srv.stop()
  }

  test("CALL system procedures: compact, set_ref, expire_snapshots, vacuum") {
    val wh = Files.createTempDirectory("graft-sqlcall").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "pc", fixture().schema)
    tbl.append(fixture().repartition(1)) // snapshot 1, file 1
    tbl.append(fixture().repartition(1)) // snapshot 2, file 2
    spark.conf.set("spark.sql.catalog.gsqlcall", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlcall.warehouse", wh)

    val c = spark.sql("CALL gsqlcall.system.compact('ns', 'pc', '')").collect()
    assert(c.head.getLong(0) == 3 && c.head.getInt(1) == 1,
      s"expected replace snapshot 3 with 1 live file, got ${c.mkString}")
    assert(cat.snapshots("ns", "pc").last.operation == graft.catalog.Snaplog.OpReplace)

    val r = spark.sql(
      "CALL gsqlcall.system.set_ref('ns', 'pc', 'gold', 3, 'tag')").collect()
    assert(r.head.getString(0) == "gold" && r.head.getString(1) == "tag" &&
      r.head.getLong(2) == 3)
    assert(cat.refs("ns", "pc").get("gold").map(_.snapshotId).contains(3L))

    val e = spark.sql("CALL gsqlcall.system.expire_snapshots('ns', 'pc', 1)").collect()
    assert(e.head.getInt(0) == 2 && e.head.getLong(1) == 3)

    val v = spark.sql("CALL gsqlcall.system.vacuum('ns', 'pc', 0L)").collect()
    assert(v.head.getInt(1) == 2,
      s"expected the 2 pre-compaction data files vacuumed, got ${v.mkString}")
    assert(v.head.getInt(0) >= v.head.getInt(1))

    // the table survives its maintenance intact
    assert(spark.sql("SELECT COUNT(*) FROM gsqlcall.ns.pc").head().getLong(0) == 8)
    assert(spark.sql("SELECT COUNT(*) FROM gsqlcall.ns.pc VERSION AS OF 'gold'")
      .head().getLong(0) == 8)

    // drop_ref abandons a ref from SQL (the rejected-WAP-branch path)
    val d = spark.sql("CALL gsqlcall.system.drop_ref('ns', 'pc', 'gold')").collect()
    assert(d.head.getString(0) == "gold" && d.head.getBoolean(1))
    assert(!cat.refs("ns", "pc").contains("gold"))
    val d2 = spark.sql("CALL gsqlcall.system.drop_ref('ns', 'pc', 'gold')").collect()
    assert(!d2.head.getBoolean(1), "second drop reports existed=false")

    intercept[Exception] { spark.sql("CALL gsqlcall.system.nope('a', 'b')") }
    intercept[Exception] { spark.sql("CALL gsqlcall.other.compact('ns', 'pc', '')") }
  }

  test("CALL create_changelog_view registers keyed update images as a view") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-sqlclv").toString
    val cat = new Snaplog(wh)
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "x")
    val tbl = LakehouseTable.create(cat, spark, "ns", "clv", df.schema)
    tbl.append(df)                                          // snap 1
    val from = tbl.currentSnapshotId
    graft.pipeline.Upsert.upsertTable(tbl,                  // snap 2 (merge)
      Seq((2L, "b2", 22), (4L, "d", 40)).toDF("id", "v", "x"), Seq("id"))
    spark.conf.set("spark.sql.catalog.gsqlclv", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlclv.warehouse", wh)
    val r = spark.sql(
      s"CALL gsqlclv.system.create_changelog_view('ns', 'clv', 'clv_changes', $from, 0, 'id')")
      .collect()
    assert(r.head.getString(0) == "clv_changes" && r.head.getLong(1) == from &&
      r.head.getLong(2) == tbl.currentSnapshotId)
    // keyed form: the upserted key pairs into update images, the new
    // key stays a plain insert — row-exact through plain SQL
    val got = spark.sql(
      """SELECT id, v, x, _change_type FROM clv_changes
         ORDER BY id, _change_type""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq(
      (2L, "b2", 22, "update_postimage"),
      (2L, "b", 20, "update_preimage"),
      (4L, "d", 40, "insert")))
    // unkeyed form (empty identifier_columns): raw delete+insert rows
    spark.sql(
      s"CALL gsqlclv.system.create_changelog_view('ns', 'clv', 'clv_raw', $from, 0, '')")
    val raw = spark.sql(
      "SELECT _change_type, COUNT(*) AS n FROM clv_raw GROUP BY 1 ORDER BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(raw == Seq("delete" -> 1L, "insert" -> 2L))
  }

  test("CALL create_changelog_view('_row_id') pairs by durable row identity") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-sqlclvl").toString
    val cat = new Snaplog(wh)
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "x")
    val tbl = LakehouseTable.create(cat, spark, "ns", "clvl", df.schema,
      properties = Map(Snaplog.RowLineageProp -> "true"))
    tbl.append(df.repartition(1).sortWithinPartitions("id")) // 1: ids 0,1,2
    val from = tbl.currentSnapshotId
    graft.pipeline.Upsert.upsertTable(tbl,                   // 2 (merge)
      Seq((2L, "b2", 22), (4L, "d", 40)).toDF("id", "v", "x"), Seq("id"))
    spark.conf.set("spark.sql.catalog.gsqlclvl", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlclvl.warehouse", wh)
    spark.sql(s"CALL gsqlclvl.system.create_changelog_view(" +
      s"'ns', 'clvl', 'clvl_changes', $from, 0, '_row_id')")
    // the v3-native form: NO table keys declared anywhere — the merge's
    // images pair because the postimage CARRIES its preimage's _row_id,
    // and both lineage columns ride into plain SQL
    val got = spark.sql(
      """SELECT id, v, _row_id, _last_updated_sequence_number, _change_type
         FROM clvl_changes ORDER BY _row_id, _change_type""").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got.take(2) == Seq(
      (2L, "b2", 1L, 2L, "update_postimage"),
      (2L, "b", 1L, 1L, "update_preimage")), got.toString)
    // the unmatched insert draws a FRESH id above the pre-merge
    // high-water mark (its exact value depends on the batch's file
    // layout — identity only has to be new and unique, not dense)
    val ins = got.drop(2)
    assert(ins.size == 1 && ins.head._1 == 4L && ins.head._2 == "d" &&
      ins.head._3 >= 3L && ins.head._4 == 2L &&
      ins.head._5 == "insert", got.toString)
  }

  test("CALL merge_delta upserts and CDC-applies from SQL, delta-sized") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-sqlmd").toString
    val cat = new Snaplog(wh)
    val df = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "x")
    val tbl = LakehouseTable.create(cat, spark, "ns", "md", df.schema)
    tbl.append(df)
    val before = cat.liveFiles("ns", "md").map(_.path).toSet
    spark.conf.set("spark.sql.catalog.gsqlmd", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlmd.warehouse", wh)
    Seq((2L, "b2", 22), (4L, "d", 40)).toDF("id", "v", "x")
      .createOrReplaceTempView("md_feed")
    val r = spark.sql(
      "CALL gsqlmd.system.merge_delta('ns', 'md', 'id', 'md_feed', '')").collect()
    assert(r.head.getLong(1) == 2L && r.head.getLong(2) == 2L,
      s"expected 2 delete keys + 2 merged rows, got ${r.mkString}")
    // delta-sized: the original files are untouched and still live
    assert(before.subsetOf(cat.liveFiles("ns", "md").map(_.path).toSet))
    assert(cat.snapshots("ns", "md").last.operation ==
      graft.catalog.Snaplog.OpEqDelete)
    assert(spark.sql("SELECT id, v FROM gsqlmd.ns.md ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // CDC form: an op column routes D rows to the delete feed
    Seq((1L, "", 0, "D"), (3L, "c2", 33, "U")).toDF("id", "v", "x", "op")
      .createOrReplaceTempView("md_cdc")
    spark.sql("CALL gsqlmd.system.merge_delta('ns', 'md', 'id', 'md_cdc', 'op')")
    assert(spark.sql("SELECT id, v FROM gsqlmd.ns.md ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b2"), (3L, "c2"), (4L, "d")))
  }

  test("ALTER TABLE ALTER COLUMN TYPE widens int->bigint from SQL") {
    val wh = Files.createTempDirectory("graft-sqlwiden").toString
    val cat = new Snaplog(wh)
    val df = (1 to 20).map(i => (i, s"v$i")).toDF("n", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "w", df.schema)
    tbl.append(df)
    spark.conf.set("spark.sql.catalog.gsqlw", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlw.warehouse", wh)
    spark.sql("ALTER TABLE gsqlw.ns.w ALTER COLUMN n TYPE BIGINT")
    assert(spark.table("gsqlw.ns.w").schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("INSERT INTO gsqlw.ns.w VALUES (21, 'v21')")
    assert(spark.sql("SELECT SUM(n) FROM gsqlw.ns.w").head().getLong(0) ==
      (1 to 21).map(_.toLong).sum)
    // narrowing refuses loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE gsqlw.ns.w ALTER COLUMN n TYPE INT")
    }
  }

  test("filtered MOR reads stay exact with the residual pushed inside") {
    // the V1 MOR relation re-applies residual predicates on the data
    // side BEFORE the delete subtractions so parquet row-group skipping
    // engages; semantics must equal Spark's own above-the-scan filter
    val wh = Files.createTempDirectory("graft-sqlmorflt").toString
    val cat = new Snaplog(wh)
    val df = (1 to 200).map(i =>
      (i.toLong, s"g${i % 4}", if (i % 7 == 0) None else Some(i * 1.5)))
      .toDF("id", "grp", "score")
    val tbl = LakehouseTable.create(cat, spark, "ns", "morf", df.schema)
    tbl.append(df)
    tbl.deleteEq("id", (10L to 40L).toSeq)          // equality layer
    tbl.deleteMor($"id" >= 150 && $"id" < 160)      // vector layer
    spark.conf.set("spark.sql.catalog.gmorf", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmorf.warehouse", wh)
    val got = spark.sql("""SELECT id FROM gmorf.ns.morf
      WHERE grp = 'g1' AND score IS NOT NULL AND id BETWEEN 5 AND 180
      ORDER BY id""").collect().map(_.getLong(0)).toSeq
    val expect = (1 to 200).map(_.toLong).filter(i =>
      !(i >= 10 && i <= 40) && !(i >= 150 && i < 160) &&
        i % 4 == 1 && i % 7 != 0 && i >= 5 && i <= 180)
    assert(got == expect, s"got $got")
    // a filter matching a deleted-by-vector row returns nothing
    assert(spark.sql("SELECT * FROM gmorf.ns.morf WHERE id = 155").count() == 0)
    assert(spark.sql("SELECT * FROM gmorf.ns.morf WHERE id = 20").count() == 0)
  }

  test("CALL rewrite_delete_files retires the delete tier from SQL") {
    val wh = Files.createTempDirectory("graft-sqlrdf").toString
    val cat = new Snaplog(wh)
    val lo = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val hi = (500 to 540).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "rdf", lo.schema)
    tbl.append(lo); tbl.append(hi)
    tbl.deleteEq("id", Seq(510L))
    spark.conf.set("spark.sql.catalog.gsqlrdf", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlrdf.warehouse", wh)
    val r = spark.sql("CALL gsqlrdf.system.rewrite_delete_files('ns', 'rdf')")
      .collect().head
    assert(r.getInt(1) >= 1, s"rewritten_files: $r")
    assert(r.getInt(2) == 1, s"retired_delete_entries: $r")
    assert(r.getInt(3) >= 1, s"carried_files: $r") // lo batch carried
    assert(cat.liveDeleteFiles("ns", "rdf").isEmpty)
    assert(spark.sql("SELECT COUNT(*) FROM gsqlrdf.ns.rdf").collect()
      .head.getLong(0) == 90L)
    // a second CALL is a no-op and must report ZEROS, not the prior
    // commit's counts (its returned snapshot is the existing one)
    val r2 = spark.sql("CALL gsqlrdf.system.rewrite_delete_files('ns', 'rdf')")
      .collect().head
    assert(r2.getLong(0) == r.getLong(0), "no-op must not commit")
    assert(r2.getInt(1) == 0 && r2.getInt(2) == 0 && r2.getInt(3) == 0,
      s"no-op reported stale counts: $r2")
  }

  test("CALL rollback_to_snapshot restores content from SQL") {
    val wh = Files.createTempDirectory("graft-sqlrb").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "rb", fixture().schema)
    tbl.append(fixture())                                  // snapshot 1
    spark.conf.set("spark.sql.catalog.gsqlrb", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlrb.warehouse", wh)
    // a bad SQL write lands (snapshot 2)…
    spark.sql("INSERT INTO gsqlrb.ns.rb VALUES (99, 'Z', 0.0, 0)")
    assert(spark.sql("SELECT COUNT(*) FROM gsqlrb.ns.rb").head().getLong(0) == 5)
    // …and rolls back metadata-only
    val r = spark.sql(
      "CALL gsqlrb.system.rollback_to_snapshot('ns', 'rb', 1)").collect()
    assert(r.head.getLong(0) == 3 && r.head.getLong(1) == 1)
    assert(spark.sql("SELECT COUNT(*) FROM gsqlrb.ns.rb").head().getLong(0) == 4)
    // the bad commit stays auditable via time travel
    assert(spark.sql("SELECT COUNT(*) FROM gsqlrb.ns.rb VERSION AS OF 2")
      .head().getLong(0) == 5)
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES is metadata-only") {
    val wh = Files.createTempDirectory("graft-sqlprops").toString
    val cat = new Snaplog(wh)
    LakehouseTable.create(cat, spark, "ns", "pr", fixture().schema)
    spark.conf.set("spark.sql.catalog.gsqlprops", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlprops.warehouse", wh)
    spark.sql("ALTER TABLE gsqlprops.ns.pr SET TBLPROPERTIES " +
      "('write.target-file-size-bytes' = '134217728', 'comment.zone' = 'raw')")
    val props = cat.loadTable("ns", "pr").properties
    assert(props.get("write.target-file-size-bytes").contains("134217728") &&
      props.get("comment.zone").contains("raw"))
    // visible through the DSv2 surface (SHOW TBLPROPERTIES)
    val shown = spark.sql("SHOW TBLPROPERTIES gsqlprops.ns.pr").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("comment.zone").contains("raw"))
    spark.sql("ALTER TABLE gsqlprops.ns.pr UNSET TBLPROPERTIES ('comment.zone')")
    assert(!cat.loadTable("ns", "pr").properties.contains("comment.zone"))
    assert(cat.loadTable("ns", "pr").properties
      .get("write.target-file-size-bytes").contains("134217728"))
    // no snapshot commits happened — properties are pure metadata
    assert(cat.snapshots("ns", "pr").isEmpty)
    // retype outside the widening promotions still refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE gsqlprops.ns.pr ALTER COLUMN id TYPE STRING")
    }
  }

  test("SQL DML, DDL and CALL run unchanged on the JDBC catalog backend") {
    val wh = Files.createTempDirectory("graft-sqljdbcdml").toString
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val url = s"jdbc:derby:$wh/cat-$runId;create=true"
    val cat = new graft.catalog.JdbcCatalog(url, s"$wh/wh")
    cat.createNamespace("ns")
    val cn = s"gsqljd_$runId"
    spark.conf.set(s"spark.sql.catalog.$cn", classOf[GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cn.warehouse", s"$wh/wh")
    spark.conf.set(s"spark.sql.catalog.$cn.url", url)

    spark.sql(s"CREATE TABLE $cn.ns.j (id INT, v BIGINT)")
    spark.sql(s"INSERT INTO $cn.ns.j VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"UPDATE $cn.ns.j SET v = v + 1 WHERE id = 2")
    spark.sql(s"DELETE FROM $cn.ns.j WHERE id = 3")
    assert(spark.sql(s"SELECT id, v FROM $cn.ns.j ORDER BY id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 10L), (2, 21L)))
    val c = spark.sql(s"CALL $cn.system.compact('ns', 'j', '')").collect()
    assert(c.head.getInt(1) == 1)
    // insert, COW overwrite, MOR delete, replace — all in the JDBC log,
    // inspectable through the metadata relation
    assert(spark.sql(s"SELECT COUNT(*) FROM $cn.ns.j.snapshots")
      .head().getLong(0) == 4)
    assert(cat.snapshots("ns", "j").map(_.operation) ==
      Seq(graft.catalog.Snaplog.OpAppend, graft.catalog.Snaplog.OpOverwrite,
        graft.catalog.Snaplog.OpMorDelete, graft.catalog.Snaplog.OpReplace))
  }

  test("metadata relations: t.snapshots, t.files, t.refs plan as local scans") {
    val wh = Files.createTempDirectory("graft-sqlmeta").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "m", fixture().schema)
    tbl.append(fixture().repartition(1))
    tbl.append(fixture().repartition(1))
    cat.setRef("ns", "m", "audit", 1L)
    cat.setRef("ns", "m", "dev", 2L, refType = "branch")
    spark.conf.set("spark.sql.catalog.gsqlmeta", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlmeta.warehouse", wh)

    val snaps = spark.sql("""SELECT snapshot_id, operation, committed_files,
        committed_records FROM gsqlmeta.ns.m.snapshots ORDER BY snapshot_id""")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
    assert(snaps.toSeq == Seq((1L, "append", 1, 4L), (2L, "append", 1, 4L)))
    assert(spark.sql(
      "SELECT MIN(timestamp_ms) FROM gsqlmeta.ns.m.snapshots").head().getLong(0) > 0)
    // metadata relations never touch data files: planned as local scans
    val plan = spark.sql("SELECT * FROM gsqlmeta.ns.m.snapshots")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), s"expected LocalTableScan in:\n$plan")

    val files = spark.sql("""SELECT content, COUNT(*) AS n, SUM(row_count) AS rows
      FROM gsqlmeta.ns.m.files GROUP BY content""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(files == Seq(("data", 2L, 8L)))

    // delete entries surface with their Iceberg content kind: a MOR
    // vector as position-deletes, an equality delete as equality-deletes
    import spark.implicits._
    tbl.deleteMor($"id" === 1)
    tbl.deleteEq("id", Seq(999))
    val files2 = spark.sql("""SELECT content, COUNT(*) AS n
      FROM gsqlmeta.ns.m.files GROUP BY content ORDER BY content""").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(files2 == Seq(("data", 2L), ("equality-deletes", 1L),
      ("position-deletes", 1L)))

    val refs = spark.sql("SELECT name, type, snapshot_id FROM gsqlmeta.ns.m.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs == Seq(("audit", "tag", 1L), ("dev", "branch", 2L)))

    // .partitions aggregates per-partition file/row counts from the log
    // (unpartitioned table = one empty-tuple partition group)
    val parts = spark.sql("""SELECT partition, file_count, row_count
      FROM gsqlmeta.ns.m.partitions""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(parts == Seq(("", 2L, 8L)), s"got $parts")
    val wh2 = Files.createTempDirectory("graft-sqlmeta2").toString
    val cat2 = new Snaplog(wh2)
    val t2 = LakehouseTable.create(cat2, spark, "ns", "mp", fixture().schema, Seq("group"))
    t2.append(fixture().coalesce(1))
    spark.conf.set("spark.sql.catalog.gsqlmeta2", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlmeta2.warehouse", wh2)
    val parts2 = spark.sql("""SELECT partition, file_count, row_count
      FROM gsqlmeta2.ns.mp.partitions ORDER BY partition""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(parts2 == Seq(("group=A", 1L, 2L), ("group=B", 1L, 1L), ("group=C", 1L, 1L)),
      s"got $parts2")

    // .history lists the commit lineage (linear log: every published
    // snapshot is a current ancestor)
    val hist = spark.sql("""SELECT snapshot_id, parent_id, is_current_ancestor
      FROM gsqlmeta.ns.m.history ORDER BY snapshot_id""").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2))).toSeq
    assert(hist.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(hist.head._2.isEmpty && hist(1)._2.contains(1L))
    assert(hist.forall(_._3))

    // .stats surfaces the ANALYZE tier (empty before, populated after)
    assert(spark.sql("SELECT * FROM gsqlmeta.ns.m.stats").collect().isEmpty)
    tbl.analyze(Seq("group"))
    val stats = spark.sql("""SELECT column, ndv, analyzed_snapshot_id
      FROM gsqlmeta.ns.m.stats""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stats == Seq(("group", 3L, tbl.currentSnapshotId)), s"got $stats")

    // unknown metadata kinds still fail as missing tables
    intercept[Exception] { spark.sql("SELECT * FROM gsqlmeta.ns.m.nope").collect() }
  }

  test("SQL row lineage: CALL enable_row_lineage + the .lineage relation") {
    // round 16: the SQL-only user's lineage lifecycle — enable (with
    // history backfill) via CALL, read _row_id /
    // _last_updated_sequence_number via the data-sized `.lineage`
    // relation, and commit-time assignment continues through SQL
    // INSERT.
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-sqllin").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "ln", fixture().schema)
    tbl.append(fixture().repartition(1).sortWithinPartitions("id"))
    tbl.append(fixture().withColumn("id", $"id" + 10)
      .repartition(1).sortWithinPartitions("id"))
    spark.conf.set("spark.sql.catalog.gsqlln", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlln.warehouse", wh)
    // refuses loudly before lineage exists
    val e = intercept[Throwable](
      spark.sql("SELECT * FROM gsqlln.ns.ln.lineage").collect())
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("row-lineage"))), e.toString)
    val pr = spark.sql("CALL gsqlln.system.enable_row_lineage('ns', 'ln')")
      .head()
    assert(pr.getLong(0) == 8L, pr.toString) // next_row_id after backfill
    val rows = spark.sql("""SELECT id, _row_id,
        _last_updated_sequence_number
      FROM gsqlln.ns.ln.lineage ORDER BY _row_id""").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(_._2) == (0L to 7L), rows.toString)
    assert(rows.take(4).map(_._1) == Seq(1, 2, 3, 4) &&
      rows.drop(4).map(_._1) == Seq(11, 12, 13, 14), rows.toString)
    assert(rows.take(4).forall(_._3 == 1L) &&
      rows.drop(4).forall(_._3 == 2L), rows.toString)
    // a SQL INSERT after the flip assigns at commit
    spark.sql(
      "INSERT INTO gsqlln.ns.ln VALUES (21, 'Z', CAST(1.0 AS FLOAT), 5)")
    val ins = spark.sql("""SELECT _row_id, _last_updated_sequence_number
      FROM gsqlln.ns.ln.lineage WHERE id = 21""").head()
    assert(ins.getLong(0) == 8L && ins.getLong(1) == 3L, ins.toString)
  }

  test("catalog-table joins broadcast small dimensions with pushdown intact") {
    val wh = Files.createTempDirectory("graft-sqljoin").toString
    val cat = new Snaplog(wh)
    val fact = spark.range(0, 2000).toDF("id")
      .withColumn("grp", ($"id" % 4).cast("int"))
      .withColumn("v", $"id" * 2)
    val factTbl = LakehouseTable.create(cat, spark, "ns", "fact", fact.schema)
    factTbl.append(fact)
    val dim = Seq((0, "A"), (1, "B"), (2, "C"), (3, "D")).toDF("grp", "label")
    val dimTbl = LakehouseTable.create(cat, spark, "ns", "dim", dim.schema)
    dimTbl.append(dim)
    spark.conf.set("spark.sql.catalog.gsqljoin", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqljoin.warehouse", wh)

    val df = spark.sql("""SELECT d.label, SUM(f.v) AS s
      FROM gsqljoin.ns.fact f JOIN gsqljoin.ns.dim d ON f.grp = d.grp
      WHERE f.id > 100 GROUP BY d.label""")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension read through the catalog must broadcast:\n${plan.take(2000)}")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(id,100)"),
      "fact-side predicate must reach the parquet scan through the catalog")
    assert(!plan.contains("CartesianProduct"))
    assert(df.collect().map(_.getLong(1)).sum ==
      (101L until 2000L).map(_ * 2).sum)
  }

  test("racing SQL INSERTs: losers fail cleanly, no torn or duplicate state") {
    val wh = Files.createTempDirectory("graft-sqlrace").toString
    val cat = new Snaplog(wh)
    LakehouseTable.create(cat, spark, "ns", "race", fixture().schema)
      .append(fixture())
    spark.conf.set("spark.sql.catalog.gsqlrace", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlrace.warehouse", wh)

    // N statements race on the same expected snapshot: each either lands
    // as its own append commit or fails wholesale with a commit conflict
    // deep in the cause chain — never a partial registration.
    import scala.collection.parallel.CollectionConverters._
    val results = (1 to 6).par.map { i =>
      try { spark.sql(s"INSERT INTO gsqlrace.ns.race VALUES ($i, 'R', 0.0, ${i * 100})"); true }
      catch {
        case e: Throwable =>
          val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
          assert(chain.exists(_.isInstanceOf[graft.catalog.CommitConflictException]),
            s"unexpected failure kind: $e")
          false
      }
    }.toList
    val landed = results.count(identity)
    assert(landed >= 1, "at least one racer must commit")
    val snaps = cat.snapshots("ns", "race")
    assert(snaps.size == 1 + landed, "one commit per successful INSERT")
    assert(spark.sql("SELECT COUNT(*) FROM gsqlrace.ns.race").head().getLong(0) ==
      4 + landed)
    // every landed row is intact (value2 = 100*id for inserted ids)
    val inserted = spark.sql(
      "SELECT id, value2 FROM gsqlrace.ns.race WHERE `group` = 'R'").collect()
    assert(inserted.length == landed)
    inserted.foreach(r => assert(r.getInt(1) == r.getInt(0) * 100))
  }

  test("VERSION AS OF accepts ref names (tags and branches)") {
    val wh = Files.createTempDirectory("graft-sqlref").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "r", fixture().schema)
    tbl.append(fixture())                              // snapshot 1
    tbl.tag("v1-release")
    tbl.append(fixture().withColumn("id", $"id" + 10)) // snapshot 2
    tbl.setBranch("dev", 2L)
    spark.conf.set("spark.sql.catalog.gsqlref", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlref.warehouse", wh)

    assert(spark.sql("SELECT COUNT(*) FROM gsqlref.ns.r VERSION AS OF 'v1-release'")
      .head().getLong(0) == 4)
    // ref travel ≡ the native scanRef
    assert(spark.sql("SELECT SUM(id) FROM gsqlref.ns.r VERSION AS OF 'v1-release'")
      .head().getLong(0) ==
      tbl.scanRef("v1-release").agg(sum(col("id"))).head().getLong(0))
    assert(spark.sql("SELECT COUNT(*) FROM gsqlref.ns.r VERSION AS OF 'dev'")
      .head().getLong(0) == 8)
    // a numeric-NAMED tag resolves as the ref, not as a raw snapshot id
    tbl.tag("2", Some(1L))
    assert(spark.sql("SELECT COUNT(*) FROM gsqlref.ns.r VERSION AS OF '2'")
      .head().getLong(0) == 4, "numeric ref name must shadow the snapshot id")
    // a WAP branch name reads the BRANCH content (fork base + staged) —
    // the audit query of write-audit-publish, straight from SQL — while
    // the main relation stays untouched
    tbl.appendToBranch("audit", fixture().withColumn("id", $"id" + 20))
    assert(spark.sql("SELECT COUNT(*) FROM gsqlref.ns.r VERSION AS OF 'audit'")
      .head().getLong(0) == 12)
    assert(spark.sql("SELECT COUNT(*) FROM gsqlref.ns.r").head().getLong(0) == 8)
    val e = intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM gsqlref.ns.r VERSION AS OF 'nope'").head()
    }
    assert(e.getMessage.contains("neither a ref") ||
      Option(e.getCause).exists(_.getMessage.contains("neither a ref")))
  }

  test("range predicates over integral partitions answer aggregates from metadata") {
    val ints = Seq((1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d"))
      .toDF("p", "v", "s")
    val wh = Files.createTempDirectory("graft-sqlrange").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "rg", ints.schema, Seq("p"))
    tbl.append(ints.coalesce(1)) // one file per partition value
    spark.conf.set("spark.sql.catalog.gsqlrange", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlrange.warehouse", wh)

    // BETWEEN over the identity int partition: exact from the log
    val bt = spark.sql(
      "SELECT COUNT(*), MIN(v), MAX(v) FROM gsqlrange.ns.rg WHERE p BETWEEN 2 AND 3")
    assert(bt.queryExecution.sparkPlan.toString.contains("LocalTableScan"),
      s"expected metadata agg in:\n${bt.queryExecution.sparkPlan}")
    val r = bt.head()
    assert(r.getLong(0) == 2L && r.getInt(1) == 20 && r.getInt(2) == 30)
    // strict bound excludes the boundary partition
    val gt = spark.sql("SELECT COUNT(*) FROM gsqlrange.ns.rg WHERE p > 3")
    assert(gt.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(gt.head().getLong(0) == 1L)
    // range over a STRING partition column is NOT partition-exact —
    // falls back to the real scan (and stays correct)
    val sw = Seq(("a", 1), ("b", 2), ("c", 3)).toDF("sp", "v")
    val tbl2 = LakehouseTable.create(cat, spark, "ns", "rgs", sw.schema, Seq("sp"))
    tbl2.append(sw.coalesce(1))
    spark.conf.set("spark.sql.catalog.gsqlrange.warehouse", wh) // same catalog
    val sq = spark.sql("SELECT COUNT(*) FROM gsqlrange.ns.rgs WHERE sp >= 'b'")
    assert(!sq.queryExecution.sparkPlan.toString.contains("LocalTableScan"))
    assert(sq.head().getLong(0) == 2L)
  }

  test("sorted compaction yields disjoint per-file bounds for skipping") {
    val wh = Files.createTempDirectory("graft-sortcompact").toString
    val cat = new Snaplog(wh)
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("v", (col("id") * 7919) % 1000) // shuffled values
    val tbl = LakehouseTable.create(cat, spark, "ns", "s", df.schema)
    tbl.append(df.repartition(4)) // v scattered across every file
    val before = tbl.selectFiles(
      rangeFilter = Map("v" -> (Some(0.0), Some(9.0)))).size
    assert(before == 4) // every file may hold v in [0,9] — nothing prunes
    // cluster on v: target size forces multiple files, each a disjoint range
    tbl.compact(targetFileSizeBytes = 4 * 1024, sortBy = Seq("v"))
    val total = cat.liveFiles("ns", "s").size
    assert(total > 1)
    val after = tbl.selectFiles(
      rangeFilter = Map("v" -> (Some(0.0), Some(9.0)))).size
    assert(after < total, s"expected pruning after sort-compaction ($after/$total)")
    // data unchanged
    assert(tbl.scan().agg(sum(col("v"))).head().getLong(0) ==
      (0L until 1000L).map(i => (i * 7919) % 1000).sum)
  }

  test("DATE and TIMESTAMP identity partitions prune by value in SQL and natively") {
    val wh = Files.createTempDirectory("graft-sqlcat-temporal").toString
    val cat = new Snaplog(wh)
    spark.conf.set("spark.sql.catalog.gsqltemporal", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqltemporal.warehouse", wh)
    // one row per partition value of `p`; `lit(i)` is the SQL literal
    // of row i's value
    def check(name: String, lit: Int => String): Unit = {
      val rows = spark.sql(s"SELECT * FROM VALUES (1, 10, ${lit(0)}), " +
        s"(2, 20, ${lit(1)}), (3, 30, ${lit(2)}) AS v(id, x, p)")
      val tbl = LakehouseTable.create(cat, spark, "ns", name, rows.schema, Seq("p"))
      tbl.append(rows)
      assert(cat.liveFiles("ns", name).size == 3)
      val t = s"gsqltemporal.ns.$name"
      def ids(where: String): Seq[Int] =
        spark.sql(s"SELECT id FROM $t WHERE $where").collect().map(_.getInt(0)).sorted.toSeq
      assert(ids(s"p = ${lit(1)}") == Seq(2))
      assert(ids(s"p IN (${lit(1)}, ${lit(2)})") == Seq(2, 3))
      assert(ids(s"p = ${lit(1)} AND x >= 0") == Seq(2))
      assert(ids(s"p IN (${lit(0)}, ${lit(2)}) AND x > 15") == Seq(3))
      val p1 = spark.sql(s"SELECT ${lit(1)}").head().get(0)
      val p2 = spark.sql(s"SELECT ${lit(2)}").head().get(0)
      def native(df: org.apache.spark.sql.DataFrame): Seq[Int] =
        df.select("id").collect().map(_.getInt(0)).sorted.toSeq
      assert(native(tbl.scan().filter(col("p") === p1)) == Seq(2))
      assert(native(tbl.scan().filter(col("p").isin(p1, p2))) == Seq(2, 3))
      assert(native(tbl.scan().filter(col("p") === p1 && col("x") >= 0)) == Seq(2))
      spark.sql(s"UPDATE $t SET x = 9 WHERE p = ${lit(1)}")
      assert(spark.sql(s"SELECT id, x FROM $t").collect()
        .map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq == Seq((1, 10), (2, 9), (3, 30)))
      spark.sql(s"DELETE FROM $t WHERE p = ${lit(2)}")
      assert(ids("true") == Seq(1, 2))
      assert(native(tbl.scan()) == Seq(1, 2))
    }
    check("d", i => s"DATE '2024-01-0${4 + i}'")
    check("ts", i => s"TIMESTAMP '2024-01-0${4 + i} 10:30:00'")
  }

  test("an empty string shares the null partition and is never pruned away") {
    val wh = Files.createTempDirectory("graft-sqlcat-emptystr").toString
    val cat = new Snaplog(wh)
    spark.conf.set("spark.sql.catalog.gsqlempty", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsqlempty.warehouse", wh)
    val rows = Seq((1, Some("a")), (2, Some("")), (3, None)).toDF("id", "s")
    val tbl = LakehouseTable.create(cat, spark, "ns", "e", rows.schema, Seq("s"))
    tbl.append(rows)
    def ids(where: String): Seq[Int] =
      spark.sql(s"SELECT id FROM gsqlempty.ns.e WHERE $where").collect()
        .map(_.getInt(0)).sorted.toSeq
    def count(where: String): Long =
      spark.sql(s"SELECT COUNT(*) FROM gsqlempty.ns.e WHERE $where").head().getLong(0)
    assert(ids("s = ''") == Seq(2))
    assert(ids("s IN ('', 'a')") == Seq(1, 2))
    assert(ids("s IS NOT NULL") == Seq(1, 2))
    assert(ids("s < 'a'") == Seq(2))
    assert(count("s = ''") == 1)
    assert(count("s IS NOT NULL") == 2)
    def native(c: org.apache.spark.sql.Column): Seq[Int] =
      tbl.scan().filter(c).select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(native(col("s") === "") == Seq(2))
    assert(native(col("s").isNotNull) == Seq(1, 2))
    assert(native(col("s") < "a") == Seq(2))
  }
}
