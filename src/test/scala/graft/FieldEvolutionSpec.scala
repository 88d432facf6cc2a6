package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.catalog.{JdbcCatalog, Snaplog}
import graft.sql.GraftSqlCatalog
import graft.table.LakehouseTable
import graft.types.FieldIds

/** Column RENAME / DROP via parquet field-id indirection: metadata-only
  * evolution, values served by id across the rename, no resurrection
  * after drop+re-add, loud eligibility gates. */
class FieldEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = Seq(
    (1, "A", 1.5f, 10), (2, "A", 2.5f, 20),
    (3, "B", 3.5f, 30), (4, "C", 4.5f, 40)
  ).toDF("id", "group", "value1", "value2")

  test("managed writes stamp field ids from birth") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fid").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "w", fixture().schema)
    assert(cat.loadTable("ns", "w").properties.get(FieldIds.RegistryProp)
      .contains("id:1,group:2,value1:3,value2:4"))
    tbl.append(fixture())
    val paths = cat.liveFiles("ns", "w").map(_.path)
    assert(paths.nonEmpty &&
      paths.forall(FieldIds.fileCarriesIds(spark, _)),
      "every managed data file must carry parquet field ids")
    // the stored schema stays id-FREE until an evolution flips it
    assert(!FieldIds.hasIds(cat.loadTable("ns", "w").schema))
  }

  test("rename keeps serving values written under the old name") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fidrn").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "r", fixture().schema)
    tbl.append(fixture())                                   // snapshot 1: old name
    tbl.renameColumn("value2", "score")
    assert(tbl.schema.fieldNames.toSeq == Seq("id", "group", "value1", "score"))
    // OLD files answer under the NEW name — by id, not by name
    assert(tbl.scan().select("score").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(10, 20, 30, 40))
    assert(tbl.scan().filter(col("score") > 25).count() == 2)
    // new writes land under the new name; both eras read as one table
    tbl.append(fixture().withColumnRenamed("value2", "score")
      .withColumn("id", $"id" + 10))
    assert(tbl.scan().select("score").count() == 8)
    // time travel reads the pre-rename snapshot with the CURRENT schema
    assert(tbl.scan(asOf = Some(1L)).select("score")
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40))
    // upsert-style rewrite through writeCommit keeps working
    tbl.overwrite(tbl.scan().filter(col("score") <= 20))
    assert(tbl.scan().count() == 4)
    // rename back also works (ids are stable, names are labels)
    tbl.renameColumn("score", "value2")
    assert(tbl.scan().select("value2").count() == 4)
  }

  test("drop then re-add under the same name never resurrects old data") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fiddrop").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "d", fixture().schema)
    tbl.append(fixture())
    tbl.dropColumn("value2")
    assert(tbl.schema.fieldNames.toSeq == Seq("id", "group", "value1"))
    assert(tbl.scan().columns.toSeq == Seq("id", "group", "value1"))
    // re-add the SAME name: fresh field id → old files hold no such id
    tbl.addColumn("value2", org.apache.spark.sql.types.IntegerType)
    val rows = tbl.scan().select("id", "value2").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(rows.values.forall(_.isEmpty),
      s"dropped data must NOT resurrect, got $rows")
    // new writes carry the re-added column
    tbl.append(fixture().withColumn("id", $"id" + 10))
    val rows2 = tbl.scan().filter(col("id") > 10).select("value2")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(rows2 == Seq(10, 20, 30, 40))
  }

  test("eligibility gates: partition columns, foreign files, id-less files") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fidgate").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "g",
      fixture().schema, Seq("group"))
    tbl.append(fixture())
    // partition column rename/drop refuses
    intercept[IllegalArgumentException] { tbl.renameColumn("group", "grp") }
    intercept[IllegalArgumentException] { tbl.dropColumn("group") }
    // non-partition rename on the partitioned table is fine
    tbl.renameColumn("value2", "v2")
    assert(tbl.scan(partitionFilter = Map("group" -> "A"))
      .select("v2").collect().map(_.getInt(0)).sorted.toSeq == Seq(10, 20))

    // a table with FOREIGN files (add_files) refuses until compaction
    val foreignDir = Files.createTempDirectory("graft-fidforeign")
    fixture().coalesce(1).write.mode("overwrite").parquet(foreignDir.toString)
    val ext = LakehouseTable.create(cat, spark, "ns", "x", fixture().schema)
    ext.addFiles(graft.table.FileStats.listParquet(foreignDir.toString))
    val e = intercept[IllegalArgumentException] { ext.renameColumn("value2", "v2") }
    assert(e.getMessage.contains("outside the managed data dir"))
    // compact() rewrites everything managed + id-bearing → eligible
    ext.compact()
    val e2 = intercept[IllegalArgumentException] { ext.renameColumn("value2", "v2") }
    assert(e2.getMessage.contains("foreign history") ||
      e2.getMessage.contains("outside the managed data dir"))
    // the foreign-file HISTORY still blocks (time travel would read it);
    // expiring it clears the last gate
    cat.expireSnapshots("ns", "x", keepLast = 1)
    ext.renameColumn("value2", "v2")
    assert(ext.scan().select("v2").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(10, 20, 30, 40))
  }

  test("SQL: rename/drop, reads, inserts and COW UPDATE on the evolved table") {
    val wh = Files.createTempDirectory("graft-fidsql").toString
    val cat = new Snaplog(wh)
    LakehouseTable.create(cat, spark, "ns", "s", fixture().schema)
      .append(fixture())
    spark.conf.set("spark.sql.catalog.gfid", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfid.warehouse", wh)
    spark.sql("ALTER TABLE gfid.ns.s RENAME COLUMN value2 TO score")
    assert(spark.sql("SELECT SUM(score) FROM gfid.ns.s").head().getLong(0) == 100)
    // pushdown on the renamed column still filters correctly (residual
    // evaluation happens on id-resolved values)
    assert(spark.sql("SELECT id FROM gfid.ns.s WHERE score = 30 ")
      .head().getInt(0) == 3)
    spark.sql("INSERT INTO gfid.ns.s VALUES (9, 'D', 9.5, 90)")
    assert(spark.sql("SELECT SUM(score) FROM gfid.ns.s").head().getLong(0) == 190)
    // row-level COW on the id-bearing schema
    spark.sql("UPDATE gfid.ns.s SET score = score + 1 WHERE id = 1")
    assert(spark.sql("SELECT score FROM gfid.ns.s WHERE id = 1").head().getInt(0) == 11)
    assert(spark.sql("SELECT SUM(score) FROM gfid.ns.s").head().getLong(0) == 191)
    spark.sql("ALTER TABLE gfid.ns.s DROP COLUMN value1")
    assert(spark.sql("SELECT * FROM gfid.ns.s").columns.toSeq ==
      Seq("id", "group", "score"))
    // IF EXISTS on a missing column is a silent no-op, not an error
    spark.sql("ALTER TABLE gfid.ns.s DROP COLUMN IF EXISTS never_there")
    assert(spark.sql("SELECT * FROM gfid.ns.s").columns.toSeq ==
      Seq("id", "group", "score"))
  }

  test("COW UPDATE rewrites files id-stamped before any evolution") {
    val wh = Files.createTempDirectory("graft-fidcow").toString
    val cat = new Snaplog(wh)
    LakehouseTable.create(cat, spark, "ns", "c", fixture().schema)
      .append(fixture())
    spark.conf.set("spark.sql.catalog.gfidc", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfidc.warehouse", wh)
    // the rewrite happens while the table is still name-matched — its
    // output files must carry ids anyway, or this rename would refuse
    spark.sql("UPDATE gfidc.ns.c SET value2 = value2 + 1 WHERE id <= 2")
    assert(cat.liveFiles("ns", "c").map(_.path)
      .forall(FieldIds.fileCarriesIds(spark, _)),
      "COW-rewritten files must carry field ids")
    LakehouseTable.load(cat, spark, "ns", "c").renameColumn("value2", "v2")
    assert(spark.sql("SELECT SUM(v2) FROM gfidc.ns.c").head().getLong(0) == 102)
  }

  test("a mixed ALTER with one illegal change applies nothing") {
    val wh = Files.createTempDirectory("graft-fidmix").toString
    val cat = new Snaplog(wh)
    LakehouseTable.create(cat, spark, "ns", "m", fixture().schema, Seq("group"))
      .append(fixture())
    spark.conf.set("spark.sql.catalog.gfidm", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfidm.warehouse", wh)
    // dropping a data column AND a partition column: the statement must
    // fail WHOLE — value1 stays
    intercept[Exception] {
      spark.sql("ALTER TABLE gfidm.ns.m DROP COLUMNS (value1, group)")
    }
    assert(cat.loadTable("ns", "m").schema.fieldNames.toSeq ==
      Seq("id", "group", "value1", "value2"))
    // engine bookkeeping properties refuse from SQL (corrupting the
    // registry would remap ids under every reader)
    intercept[Exception] {
      spark.sql("ALTER TABLE gfidm.ns.m SET TBLPROPERTIES ('graft.field-ids' = 'x:9')")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE gfidm.ns.m UNSET TBLPROPERTIES ('graft.last-field-id')")
    }
    assert(cat.loadTable("ns", "m").properties(FieldIds.RegistryProp) ==
      "id:1,group:2,value1:3,value2:4")
  }

  test("rebound names never answer from poisoned stats") {
    val wh = Files.createTempDirectory("graft-fidstats").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "st", fixture().schema)
    tbl.append(fixture())                 // value2 in [10,40], stats recorded
    tbl.dropColumn("value2")
    tbl.addColumn("value2", org.apache.spark.sql.types.IntegerType)
    tbl.append(fixture().withColumn("id", $"id" + 10)
      .withColumn("value2", $"value2" + 80))  // re-added binding: [90,120]
    spark.conf.set("spark.sql.catalog.gfids", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfids.warehouse", wh)
    // old rows are NULL in the re-added column; MIN/MAX must come from
    // the REAL data (90/120), never from the dropped column's logged
    // bounds (10/40) via the metadata-aggregate pushdown
    val r = spark.sql("SELECT MIN(value2), MAX(value2) FROM gfids.ns.st").head()
    assert(r.getInt(0) == 90 && r.getInt(1) == 120,
      s"poisoned stats leaked into aggregates: $r")
    // file pruning on the rebound name must not drop files either: the
    // old files' stats say [10,40] but they serve NULLs — and the new
    // rows must all surface under a range predicate
    assert(spark.sql("SELECT COUNT(*) FROM gfids.ns.st WHERE value2 >= 90")
      .head().getLong(0) == 4)
    // COW UPDATE conditioned on the rebound column rewrites correctly
    spark.sql("UPDATE gfids.ns.st SET value2 = 200 WHERE value2 = 90")
    assert(spark.sql("SELECT COUNT(*) FROM gfids.ns.st WHERE value2 = 200")
      .head().getLong(0) == 1)
    // native range-filter pruning is equally guarded
    assert(tbl.scan(rangeFilter = Map("value2" -> (Some(100.0), None)))
      .filter($"value2" >= 100).count() == 4)
    // …and so is the pruning the log's file index does under a plain
    // filter on the native scan
    assert(tbl.scan().filter($"value2" >= 100).count() == 4)
  }

  test("delete on an evolved table resolves the renamed column by id") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fiddel").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "dl", fixture().schema)
    tbl.append(fixture())
    tbl.renameColumn("value2", "score")
    // the predicate references the NEW name; matching rows live in
    // OLD-name files — a name-matched read would null them and delete 0
    val snap = tbl.delete(col("score") === 10)
    assert(snap.summary("deleted-rows") == "1", s"got ${snap.summary}")
    assert(tbl.scan().count() == 3)
    // MOR tier too
    val snap2 = tbl.deleteMor(col("score") === 20)
    assert(tbl.scan().count() == 2)
    assert(!tbl.scan().select("score").collect().map(_.getInt(0)).contains(20))
  }

  test("evolved tables refuse add_files; export carries registry ids") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fidaddf").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "af", fixture().schema)
    tbl.append(fixture())
    tbl.dropColumn("value1")   // ids now {id:1, group:2, value2:4}
    val foreignDir = Files.createTempDirectory("graft-fidaddf-x")
    fixture().drop("value1").coalesce(1).write.mode("overwrite")
      .parquet(foreignDir.toString)
    intercept[IllegalArgumentException] {
      tbl.addFiles(graft.table.FileStats.listParquet(foreignDir.toString))
    }
    // export must publish the REGISTRY ids (files are stamped with id 4
    // for value2) — an ordinal re-numbering would hand external readers
    // the dropped column's data
    val dest = Files.createTempDirectory("graft-fidaddf-exp")
    graft.interop.IcebergExport.export(tbl, dest)
    val metaJson = {
      import scala.jdk.CollectionConverters._
      Files.readString(
        Files.list(dest.resolve("metadata")).iterator()
          .asScala.toSeq.filter(_.toString.endsWith(".metadata.json")).head)
    }
    val compactJson = metaJson.replaceAll("\\s", "")
    assert(compactJson.contains("\"id\":4") && compactJson.contains("\"value2\""),
      s"expected registry id 4 for value2 in: $metaJson")
    assert(compactJson.contains("\"last-column-id\":4"))
    assert(!compactJson.contains("\"id\":3"),
      "the dropped column's id 3 must not be re-assigned ordinally")

    // re-IMPORT of the evolved export carries the source ids into the
    // new table's registry (a fresh 1..n assignment would diverge from
    // the files' stamps), with the high-water mark preserved
    val rep = graft.interop.IcebergImport.register(
      cat, spark, dest.resolve("metadata"), "ns", "af_imported")
    val props = cat.loadTable("ns", "af_imported").properties
    assert(FieldIds.decode(props(FieldIds.RegistryProp)) ==
      Map("id" -> 1, "group" -> 2, "value2" -> 4),
      s"imported registry mismatch: $props")
    assert(props(FieldIds.LastIdProp) == "4")
    assert(rep.table.scan().count() == 4)
  }

  test("a running stream fails loudly when the schema evolves mid-stream") {
    val wh = Files.createTempDirectory("graft-fidstream").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "sm", fixture().schema)
    tbl.append(fixture())                                  // snapshot 1
    // a stream that STARTED before the evolution pinned the old schema
    val stream = new graft.sql.GraftMicroBatchStream(fixture().schema, cat,
      "ns", "sm", org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    tbl.renameColumn("value2", "score")                    // metadata-only
    tbl.append(fixture().withColumnRenamed("value2", "score")
      .withColumn("id", $"id" + 10))                       // snapshot 2
    // planning the next batch against the stale pinned schema must fail
    // loudly — a name-matched read would silently null-fill 'value2'
    val ex = intercept[IllegalArgumentException] {
      stream.planInputPartitions(graft.sql.GraftStreamOffset(1L),
        graft.sql.GraftStreamOffset(2L))
    }
    assert(ex.getMessage.contains("schema changed"),
      s"expected the mid-stream evolution guard, got: ${ex.getMessage}")
    // a FRESH stream (fresh checkpoint) pins the evolved schema and
    // reads both eras correctly by id
    val ckpt = Files.createTempDirectory("graft-fidstream-ck").toString
    spark.conf.set("spark.sql.catalog.gfidsm", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfidsm.warehouse", wh)
    n2 += 1
    val sink = s"fid_stream_sink_$n2"
    val q = spark.readStream.table("gfidsm.ns.sm")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val scores = spark.table(sink).select("score").collect()
      .map(_.getInt(0)).sorted.toSeq
    assert(scores == Seq(10, 10, 20, 20, 30, 30, 40, 40),
      s"both eras must serve the renamed column by id, got $scores")
  }
  private var n2 = 0

  test("concurrent addColumn assigns distinct field ids under the lock") {
    val cat = new Snaplog(Files.createTempDirectory("graft-fidrace").toString)
    val tbl = LakehouseTable.create(cat, spark, "ns", "rc", fixture().schema)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val names = (1 to 6).map(i => s"extra_$i")
    Await.result(Future.traverse(names)(n => Future {
      LakehouseTable.load(cat, spark, "ns", "rc")
        .addColumn(n, org.apache.spark.sql.types.IntegerType)
    }), 2.minutes)
    val reg = FieldIds.decode(
      cat.loadTable("ns", "rc").properties(FieldIds.RegistryProp))
    assert(reg.size == 10, s"lost a column registration: $reg")
    assert(reg.values.toSeq.distinct.size == 10,
      s"field-id aliased across columns: $reg")
    assert(cat.loadTable("ns", "rc").schema.fields.length == 10)
  }

  test("flat rename/drop work beside nested columns; nested targets gate") {
    // Spark resolves each requested top-level field independently — by
    // id when the field carries metadata, by name otherwise — so a flat
    // rename is well-defined on a nested-bearing table. The hazard the
    // gates guard is nested ROOTS: nested schema pruning rebuilds the
    // pruned read schema without field-id metadata, so a RENAMED root
    // (or a nested re-add under a freed name) would name-match old
    // files and silently null / resurrect.
    val cat = new Snaplog(Files.createTempDirectory("graft-fidnest").toString)
    import org.apache.spark.sql.functions.{struct => sstruct}
    import org.apache.spark.sql.types.{IntegerType, StructType}
    val df = fixture()
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "nev", df.schema)
    tbl.append(df)                                  // snapshot 1: old name
    // flat rename: old files answer by id, nested content intact
    tbl.renameColumn("value2", "score")
    assert(tbl.scan().select("score").collect().map(_.getInt(0)).sorted.toSeq ==
      Seq(10, 20, 30, 40))
    // the nested root keeps resolving in BOTH plan shapes: the full
    // read (id-matched root) and the PRUNED read (SchemaPruning strips
    // the id → name fallback — the root's name never changed)
    assert(tbl.scan().select($"props").collect()
      .map(_.getStruct(0).getInt(1)).sorted.toSeq == Seq(10, 20, 30, 40))
    assert(tbl.scan().select($"props.v2").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40))
    assert(tbl.scan().filter(col("score") > 25).select($"props.g").count() == 2)
    // new writes land the evolved shape; both eras read as one table
    tbl.append(df.withColumnRenamed("value2", "score")
      .withColumn("id", $"id" + 10))
    assert(tbl.scan().select($"props.v2").count() == 8)
    // renaming the nested column ITSELF refuses, loudly and unchanged
    val e = intercept[IllegalArgumentException](tbl.renameColumn("props", "payload"))
    assert(e.getMessage.contains("nested"))
    assert(tbl.schema.fieldNames.contains("props"))
    // dropping the nested column works — a removed column never resolves
    tbl.dropColumn("props")
    assert(!tbl.scan().columns.contains("props"))
    // …but re-adding a NESTED column under the freed name refuses:
    // pruned reads name-match roots and would serve the OLD struct's
    // bytes out of retained files
    val e2 = intercept[IllegalArgumentException](
      tbl.addColumn("props", new StructType().add("z", IntegerType)))
    assert(e2.getMessage.contains("freed") || e2.getMessage.contains("resurrect"))
    // a FRESH nested name is fine on the evolved table (old rows null)
    tbl.addColumn("extra", new StructType().add("z", IntegerType))
    assert(tbl.scan().select("extra").collect().forall(_.isNullAt(0)))
    // a FLAT column may reuse the freed name: its id metadata survives
    // every plan shape, so the fresh id shields old files' struct
    tbl.addColumn("props", IntegerType)
    assert(tbl.scan().select("props").collect().forall(_.isNullAt(0)))
    // the evolved nested table keeps ingesting end-to-end
    val df2 = fixture().withColumn("id", $"id" + 20)
      .withColumnRenamed("value2", "score")
      .withColumn("extra", sstruct(($"id" * 2).as("z")))
      .withColumn("props", ($"id" * 3).cast(IntegerType))
    tbl.append(df2.select(tbl.schema.fieldNames.map(col).toSeq: _*))
    val newRows = tbl.scan().filter($"id" > 20)
      .select($"extra.z", $"props").orderBy($"id").collect()
    assert(newRows.length == 4 && newRows.head.getInt(0) == 42 &&
      newRows.head.getInt(1) == 63)
    // Iceberg export of the EVOLVED nested-bearing table publishes the
    // REGISTRY ids at the top level (score keeps value2's id 4) with a
    // real struct node for `extra`; the re-IMPORT stores an id-bearing
    // schema (the files are id-stamped), so pre-rename files' values
    // answer under the renamed column instead of null-filling
    val dest = Files.createTempDirectory("graft-fidnest-exp")
    graft.interop.IcebergExport.export(tbl, dest)
    val cj = {
      import scala.jdk.CollectionConverters._
      Files.readString(
        Files.list(dest.resolve("metadata")).iterator().asScala.toSeq
          .filter(_.toString.endsWith(".metadata.json")).head)
    }.replaceAll("\\s", "")
    assert(cj.contains("\"name\":\"score\"") && cj.contains("\"struct\""), cj)
    val rep = graft.interop.IcebergImport.register(
      cat, spark, dest, "ns", "nev_imp")
    val reg = FieldIds.decode(
      cat.loadTable("ns", "nev_imp").properties(FieldIds.RegistryProp))
    assert(reg("score") == 4, s"imported registry must carry source ids: $reg")
    assert(FieldIds.hasIds(cat.loadTable("ns", "nev_imp").schema),
      "id-stamped tree must import with an id-bearing stored schema")
    assert(rep.table.scan().filter(col("score") > 25).count() == 6,
      "pre-rename files' values must answer under the renamed column")
  }

  test("addStructField: inner append + widen across eras, nulls in every plan shape") {
    // Iceberg's `ADD COLUMN parent.child`: metadata-only — era-1 files
    // lack the leaf and null-fill by name; era-2 files carry it. Then
    // the leaf widens int→bigint and era-2's int-written values read
    // back wide (parquet column readers are per-leaf, same promotion
    // as a flat widen).
    val cat = new Snaplog(Files.createTempDirectory("graft-fidinner").toString)
    import org.apache.spark.sql.functions.{struct => sstruct, lit}
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructType}
    val era1 = fixture().withColumn("props",
      sstruct($"group".as("g"), sstruct($"value2".as("v")).as("deep")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "inner", era1.schema)
    tbl.append(era1)
    tbl.addStructField("props.score", IntegerType)
    assert(graft.types.SchemaInfer.innerType(
      tbl.schema, Seq("props", "score")).contains(IntegerType))
    // old rows null-fill in the FULL read and the PRUNED read alike
    assert(tbl.scan().select($"props").collect()
      .forall(_.getStruct(0).isNullAt(2)))
    assert(tbl.scan().select($"props.score").collect().forall(_.isNullAt(0)))
    // era 2 carries values; both eras read as one table
    val era2 = fixture().withColumn("id", $"id" + 10).withColumn("props",
      sstruct($"group".as("g"), sstruct($"value2".as("v")).as("deep"),
        ($"value2" * 2).as("score")))
    tbl.append(era2.select(tbl.schema.fieldNames.map(col).toSeq: _*))
    assert(tbl.scan().select($"props.score").collect()
      .filterNot(_.isNullAt(0)).map(_.getInt(0)).sorted.toSeq ==
      Seq(20, 40, 60, 80))
    assert(tbl.scan().filter($"props.score" > 45).count() == 2)
    // deep chain: a second add inside the nested struct
    tbl.addStructField("props.deep.w", IntegerType)
    assert(tbl.scan().select($"props.deep.w").collect().forall(_.isNullAt(0)))
    // the leaf widens; era-2's int-written values come back as longs
    tbl.widenStructField("props.score", LongType)
    assert(graft.types.SchemaInfer.innerType(
      tbl.schema, Seq("props", "score")).contains(LongType))
    assert(tbl.scan().select($"props.score").collect()
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted.toSeq ==
      Seq(20L, 40L, 60L, 80L))
    assert(tbl.scan().select($"props").collect().filterNot(_.getStruct(0)
      .isNullAt(2)).map(_.getStruct(0).getLong(2)).sorted.toSeq ==
      Seq(20L, 40L, 60L, 80L))
    // era 3 lands the wide shape end-to-end
    val era3 = fixture().withColumn("id", $"id" + 20).withColumn("props",
      sstruct($"group".as("g"),
        sstruct($"value2".as("v"), lit(null).cast(IntegerType).as("w")).as("deep"),
        ($"value2" * 3L).as("score")))
    tbl.append(era3.select(tbl.schema.fieldNames.map(col).toSeq: _*))
    assert(tbl.scan().filter($"props.score" > 100L).count() == 1)
    // refusals, all loud and mutation-free
    assert(intercept[IllegalArgumentException](
      tbl.addStructField("props.score", IntegerType))
      .getMessage.contains("already exists"))
    assert(intercept[IllegalArgumentException](
      tbl.addStructField("nosuch.x", IntegerType))
      .getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException](
      tbl.addStructField("id.x", IntegerType))
      .getMessage.contains("not a struct"))
    assert(intercept[IllegalArgumentException](
      tbl.widenStructField("props.score", DoubleType))
      .getMessage.contains("cannot widen"))
    assert(intercept[IllegalArgumentException](
      tbl.widenStructField("props.g", LongType))
      .getMessage.contains("cannot widen"))
    // a top-level column literally named like the path refuses the add
    tbl.addColumn("props.late", IntegerType)
    assert(intercept[IllegalArgumentException](
      tbl.addStructField("props.late", IntegerType))
      .getMessage.contains("literally named"))
    // flat evolution still composes beside the evolved struct
    tbl.renameColumn("value1", "weight")
    assert(tbl.scan().filter($"props.score" > 100L)
      .select($"weight").collect().map(_.getFloat(0)).toSeq == Seq(4.5f))
  }

  test("addStructField: foreign-file probe and freed-flat-name stats poisoning") {
    import org.apache.spark.sql.functions.{struct => sstruct}
    import org.apache.spark.sql.types.{IntegerType, StructType}
    val wh = Files.createTempDirectory("graft-fidprobe").toString
    val cat = new Snaplog(wh)
    // a FOREIGN parquet already holding bytes at props.score — written
    // by "another system" whose schema later dropped the field
    val foreignDir =
      Files.createTempDirectory("graft-fidprobe-ext").toString + "/files"
    fixture().withColumn("props",
        sstruct($"group".as("g"), ($"value2" * 100).as("score")))
      .select($"id", $"group", $"value1", $"value2", $"props")
      .coalesce(1).write.parquet(foreignDir)
    // the table's declared schema has NO props.score — exactly the
    // shape a source-side inner drop leaves behind
    val declared = fixture().withColumn("props", sstruct($"group".as("g")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "probe", declared.schema)
    tbl.addFiles(graft.table.FileStats.listParquet(foreignDir))
    val e = intercept[IllegalArgumentException](
      tbl.addStructField("props.score", IntegerType))
    assert(e.getMessage.contains("foreign") && e.getMessage.contains("resurrect"))
    // a mixed-depth auto-merge (new top-level column + props.score) is
    // ONE schema change: the refused leaf must not leave the new
    // top-level column committed behind it
    val mixed = StructType(declared.schema.fields.map(f =>
      if (f.name != "props") f
      else f.copy(dataType = f.dataType.asInstanceOf[StructType]
        .add("score", IntegerType)))).add("lang", "string")
    val em = intercept[IllegalArgumentException](tbl.evolveToMatch(mixed))
    assert(em.getMessage.contains("foreign"), em.getMessage)
    assert(!cat.loadTable("ns", "probe").schema.fieldNames.contains("lang"),
      "a refused mixed-depth add must commit nothing")
    // compact() rewrites the foreign bytes through the DECLARED schema
    // (the dropped field's values are physically gone) and expiry
    // retires the foreign history — same recipe as the rename gate;
    // the probe is all-history because time travel reads old snapshots
    // with current-schema name resolution too
    tbl.compact()
    cat.expireSnapshots("ns", "probe", keepLast = 1)
    tbl.addStructField("props.score", IntegerType)
    assert(tbl.scan().select($"props.score").collect().forall(_.isNullAt(0)),
      "the foreign file's dropped values must NOT resurrect")
    // ---- freed-flat-name poisoning: a DROPPED flat column literally
    // named 'attrs.n' left name-keyed stats in old log entries; adding
    // struct leaf attrs.n must poison that dotted key (and the root,
    // which prune-eligibility filters by)
    val withFlat = fixture()
      .withColumn("attrs", sstruct($"value2".as("m")))
      .withColumn("attrs.n", $"value2" * 7)
    val t2 = LakehouseTable.create(cat, spark, "ns", "freed", withFlat.schema)
    t2.append(withFlat)
    t2.dropColumn("attrs.n")
    t2.addStructField("attrs.n", IntegerType)
    val unsafe = graft.types.FieldIds.namesSet(
      cat.loadTable("ns", "freed").properties,
      graft.types.FieldIds.StatsUnsafeProp)
    assert(unsafe("attrs.n") && unsafe("attrs"),
      s"dotted path and root must be stats-poisoned, got $unsafe")
    // correctness over the poisoned path, driven through the SQL
    // catalog's file pruning: era-1 files recorded the FLAT column's
    // stats under this dotted key — nullCount 0 and bounds 70..280.
    // Unpoisoned, `attrs.n IS NULL` would false-prune era 1 (whose
    // struct leaf IS null for every row) and lose all four rows.
    t2.append(fixture().withColumn("id", $"id" + 10)
      .withColumn("attrs", sstruct($"value2".as("m"),
        ($"value2" / 10).as("n"))))
    spark.conf.set("spark.sql.catalog.gfreed", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfreed.warehouse", wh)
    assert(spark.sql(
      "SELECT COUNT(*) FROM gfreed.ns.freed WHERE attrs.n IS NULL")
      .head().getLong(0) == 4)
    assert(spark.sql(
      "SELECT COUNT(*) FROM gfreed.ns.freed WHERE attrs.n < 5")
      .head().getLong(0) == 4)
    assert(t2.scan().filter($"attrs.n" < 5).count() == 4)
  }

  test("rename works on the JDBC catalog backend") {
    val dir = Files.createTempDirectory("graft-fidjdbc")
    val cat = new JdbcCatalog(s"jdbc:derby:$dir/cat;create=true", s"$dir/wh")
    val tbl = LakehouseTable.create(cat, spark, "ns", "j", fixture().schema)
    tbl.append(fixture())
    tbl.renameColumn("value1", "weight")
    assert(tbl.scan().select("weight").collect().map(_.getFloat(0)).sorted.toSeq ==
      Seq(1.5f, 2.5f, 3.5f, 4.5f))
    tbl.append(fixture().withColumnRenamed("value1", "weight"))
    assert(tbl.scan().count() == 8)
  }

  test("inner-add, struct-leaf widen and auto-merge run on the JDBC backend") {
    // the round's evolutions live in schema METADATA (nested shapes,
    // dotted stat poisoning, default keys) — this pins that the SQL
    // backend's schema serialization round-trips all of it
    import org.apache.spark.sql.functions.{struct => sstruct, lit}
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dir = Files.createTempDirectory("graft-evojdbc")
    val cat = new JdbcCatalog(s"jdbc:derby:$dir/cat;create=true", s"$dir/wh")
    val base = fixture().withColumn("props", sstruct($"group".as("g")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "je", base.schema)
    tbl.append(base)
    tbl.addStructField("props.score", IntegerType)
    tbl.widenStructField("props.score", LongType)
    val reloaded = LakehouseTable.load(cat, spark, "ns", "je")
    assert(graft.types.SchemaInfer.innerType(
      reloaded.schema, Seq("props", "score")).contains(LongType))
    assert(reloaded.scan().select($"props.score").collect()
      .forall(_.isNullAt(0)))
    // a drifting batch auto-merges through the reloaded handle
    val drift = fixture().withColumn("id", $"id" + 10)
      .withColumn("props", sstruct($"group".as("g"),
        ($"value2" * 2L).as("score"), $"value2".as("extra")))
      .withColumn("lang", lit("en"))
    reloaded.appendEvolve(drift)
    assert(reloaded.scan().filter($"props.score" > 50L)
      .select($"props.extra", $"lang").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ==
      Seq((30, "en"), (40, "en")))
  }

  test("managed write confs scope per write: session never mutated, no lock") {
    val saved = Seq(FieldIds.WriteConf, "spark.sql.parquet.outputTimestampType")
      .map(k => k -> spark.conf.getOption(k))
    try {
      // hostile session settings: the managed format overrides them in
      // each write job's own conf and must leave the session alone
      spark.conf.set(FieldIds.WriteConf, "false")
      spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
      val cat = new Snaplog(Files.createTempDirectory("graft-conf").toString)
      import org.apache.spark.sql.functions.{current_timestamp, lit}
      val df = fixture().withColumn("ts", current_timestamp())
      val tbl = LakehouseTable.create(cat, spark, "ns", "c", df.schema)
      tbl.append(df)
      val paths = cat.liveFiles("ns", "c").map(_.path)
      assert(paths.nonEmpty && paths.forall(FieldIds.fileCarriesIds(spark, _)),
        "managed write must stamp ids despite the session conf saying off")
      // INT64 micros despite the session's INT96: check the footer type
      val footer = {
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(paths.head),
          spark.sessionState.newHadoopConf()))
        try r.getFooter.getFileMetaData.getSchema.toString finally r.close()
      }
      assert(footer.contains("int64") && !footer.contains("int96"),
        s"timestamp must be INT64 micros, got:\n$footer")
      // the shared session's confs were NEVER touched (no save/restore
      // window for another thread to observe)
      assert(spark.conf.get(FieldIds.WriteConf) == "false")
      assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96")
      // a foreign write in the same session sees the user's settings
      val foreignDir = Files.createTempDirectory("graft-conf-foreign")
      df.write.mode("overwrite").parquet(foreignDir.toString)
      val fPaths = graft.table.FileStats.listParquet(foreignDir.toString)
      assert(fPaths.nonEmpty && !fPaths.exists(FieldIds.fileCarriesIds(spark, _)),
        "foreign writes must NOT inherit managed confs")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("concurrent managed writes to unrelated tables both stamp ids") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val cat = new Snaplog(Files.createTempDirectory("graft-conc").toString)
    val ta = LakehouseTable.create(cat, spark, "ns", "ca", fixture().schema)
    val tb = LakehouseTable.create(cat, spark, "ns", "cb", fixture().schema)
    Await.result(Future.sequence(Seq(
      Future(ta.append(fixture())), Future(tb.append(fixture())))), 2.minutes)
    Seq("ca", "cb").foreach { t =>
      val paths = cat.liveFiles("ns", t).map(_.path)
      assert(paths.nonEmpty && paths.forall(FieldIds.fileCarriesIds(spark, _)))
    }
  }

  test("inner rename: old files serve values by id in every plan shape") {
    import org.apache.spark.sql.functions.{struct => sstruct}
    import org.apache.spark.sql.types.IntegerType
    val cat = new Snaplog(Files.createTempDirectory("graft-inren").toString)
    val df = fixture()
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "ir", df.schema)
    // fresh tables carry DOTTED registry entries and stamp inner ids
    val reg0 = FieldIds.decode(
      cat.loadTable("ns", "ir").properties(FieldIds.RegistryProp))
    assert(reg0.contains("props.g") && reg0.contains("props.v2"), s"$reg0")
    tbl.append(df) // snapshot 1: files under the OLD inner name
    assert(cat.liveFiles("ns", "ir").map(_.path)
      .forall(FieldIds.fileCarriesIds(spark, _, nested = true)),
      "managed files must stamp INNER ids from birth")
    tbl.renameStructField("props.v2", "score")
    // both plan shapes answer from pre-rename files
    assert(tbl.scan().select($"props.score").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40), "pruned read")
    assert(tbl.scan().select($"props").collect()
      .map(_.getStruct(0).getInt(1)).sorted.toSeq == Seq(10, 20, 30, 40),
      "full read")
    assert(tbl.scan().filter($"props.score" > 25).count() == 2)
    // new writes land the evolved shape; eras mix
    tbl.append(df.withColumn("id", $"id" + 10)
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("score"))))
    assert(tbl.scan().select($"props.score").count() == 8)
    // time travel reads pre-rename snapshots under the CURRENT schema
    assert(tbl.scan(asOf = Some(1L)).select($"props.score").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40))
    // rename back — ids are stable, names are labels
    tbl.renameStructField("props.score", "v2")
    assert(tbl.scan().select($"props.v2").count() == 8)
    // renaming a CONTAINER re-keys its subtree
    val deep = fixture().withColumn("id", $"id" + 100)
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    tbl.overwrite(deep)
    tbl.renameStructField("props.g", "grp")
    val reg1 = FieldIds.decode(
      cat.loadTable("ns", "ir").properties(FieldIds.RegistryProp))
    assert(reg1.contains("props.grp") && !reg1.contains("props.g"))
    assert(tbl.scan().select($"props.grp").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("A", "A", "B", "C"))
  }

  test("inner drop + freed-name re-add: refusal by name, fresh-id shield by id") {
    import org.apache.spark.sql.functions.{struct => sstruct}
    import org.apache.spark.sql.types.IntegerType
    val cat = new Snaplog(Files.createTempDirectory("graft-indrop").toString)
    val df = fixture()
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "idr", df.schema)
    tbl.append(df)
    tbl.dropStructField("props.v2")
    assert(graft.types.SchemaInfer.innerType(
      tbl.schema, Seq("props", "v2")).isEmpty)
    assert(tbl.scan().select($"props").collect()
      .forall(_.getStruct(0).size == 1), "dropped leaf must not be served")
    // re-add under the freed name while inner resolution is BY NAME:
    // files still hold bytes at the path — refuse with compact guidance
    val e = intercept[IllegalArgumentException](
      tbl.addStructField("props.v2", IntegerType))
    assert(e.getMessage.contains("resurrect") ||
      e.getMessage.contains("compact"), e.getMessage)
    // compact() physically drops the field; expiring the pre-drop
    // history (whose files time travel would still read) clears the
    // probe, and the re-add proceeds with old rows reading NULL
    tbl.compact()
    cat.expireSnapshots("ns", "idr", keepLast = 1)
    tbl.addStructField("props.v2", IntegerType)
    assert(tbl.scan().select($"props.v2").collect().forall(_.isNullAt(0)))
    // BY-ID table (a rename flipped it): drop + immediate re-add is
    // legal without compaction — the fresh id shields the old bytes
    tbl.renameStructField("props.g", "grp") // flips inner resolution
    tbl.append(df.withColumn("id", $"id" + 10).withColumn("props",
      sstruct($"group".as("grp"), ($"value2" * 7).as("v2"))))
    tbl.dropStructField("props.v2")
    tbl.addStructField("props.v2", IntegerType)
    assert(tbl.scan().select($"props.v2").collect().forall(_.isNullAt(0)),
      "freed-name re-add on a by-id table must NOT resurrect old bytes")
  }

  test("inner rename migration path: pre-r13 files gate, compact clears") {
    import org.apache.spark.sql.functions.{struct => sstruct}
    val cat = new Snaplog(Files.createTempDirectory("graft-inmig").toString)
    val df = fixture()
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "mig", df.schema)
    // simulate a pre-r13 table: strip the dotted entries so appends
    // stamp TOP-LEVEL ids only
    val reg0 = FieldIds.decode(
      cat.loadTable("ns", "mig").properties(FieldIds.RegistryProp))
    cat.updateProperties("ns", "mig",
      Map(FieldIds.RegistryProp ->
        FieldIds.encode(reg0.filterNot(_._1.contains('.')))),
      Seq.empty)
    tbl.append(df)
    val paths = cat.liveFiles("ns", "mig").map(_.path)
    assert(paths.forall(FieldIds.fileCarriesIds(spark, _)))
    assert(!paths.exists(FieldIds.fileCarriesIds(spark, _, nested = true)),
      "pre-r13 shape: no inner ids in the files")
    // the rename BACKFILLS the dotted registry (persisted even though
    // the file gate refuses), so the prescribed compact() stamps them
    val e = intercept[IllegalArgumentException](
      tbl.renameStructField("props.v2", "score"))
    assert(e.getMessage.contains("compact"), e.getMessage)
    assert(FieldIds.decode(cat.loadTable("ns", "mig")
        .properties(FieldIds.RegistryProp)).contains("props.v2"),
      "backfilled dotted ids must persist across the refusal")
    tbl.compact()
    cat.expireSnapshots("ns", "mig", keepLast = 1)
    tbl.renameStructField("props.v2", "score")
    assert(tbl.scan().select($"props.score").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40))
  }

  test("SQL: inner RENAME/DROP route through the nested tier") {
    import org.apache.spark.sql.functions.{struct => sstruct}
    val wh = Files.createTempDirectory("graft-insql").toString
    val cat = new Snaplog(wh)
    val df = fixture()
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "sq", df.schema)
    tbl.append(df)
    spark.conf.set("spark.sql.catalog.ginner", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginner.warehouse", wh)
    spark.sql("ALTER TABLE ginner.ns.sq RENAME COLUMN props.v2 TO score")
    assert(spark.sql("SELECT props.score FROM ginner.ns.sq").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40))
    spark.sql("ALTER TABLE ginner.ns.sq DROP COLUMN props.score")
    assert(!spark.sql("SELECT props.* FROM ginner.ns.sq").columns
      .map(_.toLowerCase).contains("score"))
  }

  test("inner rename and write-default run on the JDBC catalog backend") {
    import org.apache.spark.sql.functions.{struct => sstruct}
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft-injdbc")
    val cat = new JdbcCatalog(s"jdbc:derby:$dir/cat;create=true", s"$dir/wh")
    val df = fixture()
      .withColumn("props", sstruct($"group".as("g"), $"value2".as("v2")))
    val tbl = LakehouseTable.create(cat, spark, "ns", "ij", df.schema)
    tbl.append(df)
    tbl.renameStructField("props.v2", "score")
    assert(tbl.scan().select($"props.score").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 20, 30, 40))
    tbl.addStructFieldDefaulted("props.bonus", IntegerType, Some("3"))
    tbl.append(df.withColumn("id", $"id" + 10).withColumn("props",
      sstruct($"group".as("g"), $"value2".as("score")))) // bonus omitted
    assert(tbl.scan().filter($"id" > 10).select($"props.bonus")
      .collect().map(_.getInt(0)).forall(_ == 3))
    assert(tbl.scan().filter($"id" <= 4).select($"props.bonus")
      .collect().forall(_.isNullAt(0)))
  }

  test("PIN: Spark prunes away interior field-id metadata — interior reads must widen to full subtrees") {
    // Why interior-renamed tables need POST-PRUNING id restoration
    // (SURVEY §8.5): Spark's parquet machinery WRITES interior
    // struct-field ids and FULL reads resolve them by id — but nested
    // schema PRUNING rebuilds the requested schema without the
    // interior metadata, so a raw pruned read (`select arr.aa`) falls
    // back to by-NAME matching, which under an interior RENAME
    // silently NULLS the leaf for every old file. Round 15 widened to
    // full-subtree-with-ids requests; round 16 keeps pruning and
    // re-attaches the ids where pruning has already run
    // (InteriorIdRestoreRule on the physical scan,
    // GraftScanBuilder.pruneColumns on the DSv2 path — the extension-
    // less table-API fallback still widens). This pin keeps the
    // underlying facts honest; if a Spark upgrade starts preserving
    // the metadata, the last assertion FAILS and flags that the whole
    // restoration layer can be retired.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def md(id: Long) = new MetadataBuilder()
      .putLong(FieldIds.MetaKey, id).build()
    val dir = Files.createTempDirectory("graft-interior-pin").toString
    val writeSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false, md(1)),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("a", IntegerType, nullable = true, md(10)),
        StructField("b", StringType, nullable = true, md(11)))),
        containsNull = true), nullable = true, md(2))))
    val rows = java.util.List.of(
      Row(1, Seq(Row(5, "x"), Row(6, "y"))),
      Row(2, Seq(Row(8, "z"))))
    spark.createDataFrame(rows, writeSchema)
      .write.format(graft.table.ManagedParquetFormat.Name)
      .mode("overwrite").save(dir)
    // fact 1: the footer carries the interior ids
    assert(FieldIds.fileCarriesIds(spark,
      graft.table.FileStats.listParquet(dir).head))
    // fact 2: a FULL read with a renamed interior leaf (same id) serves
    // the old values — the writer/reader id machinery itself works
    val readSchema = StructType(Seq(
      StructField("id", IntegerType, nullable = false, md(1)),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("aa", IntegerType, nullable = true, md(10)),
        StructField("bb", StringType, nullable = true, md(11)))),
        containsNull = true), nullable = true, md(2))))
    spark.conf.set(FieldIds.ReadConf, "true")
    val full = spark.read.schema(readSchema).parquet(dir)
      .orderBy("id").collect()
    assert(full(0).getSeq[Row](1).map(_.getInt(0)) == Seq(5, 6))
    // fact 3 (THE PIN): the nested-pruned read loses the id metadata
    // and nulls the renamed leaf — interior renames are unsafe until
    // this assertion flips on a Spark upgrade
    val pruned = spark.read.schema(readSchema).parquet(dir)
      .select(col("id"), col("arr.aa")).orderBy("id").collect()
    assert(pruned(0).getSeq[Integer](1).forall(_ == null),
      "Spark now preserves interior field-id metadata through nested " +
        "schema pruning — interior renames can be revisited (SURVEY §8.5)")
  }

  test("interior rename: old files serve by id under pruned and unpruned plans, table API and SQL") {
    // Round 15 (VERDICT r14 #7): renaming a struct member INSIDE a
    // list/map — metadata-only via the interior-id registry, with reads
    // flipped to full-subtree-with-ids requests (the pin above shows
    // why: nested pruning drops interior id metadata, so the pruned
    // shape must not reach the parquet reader).
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val wh = Files.createTempDirectory("graft-ev-interior").toString
    val cat = new Snaplog(wh)
    val schema0 = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("a", IntegerType),
        StructField("b", StringType)))), nullable = true),
      StructField("m", MapType(StringType, StructType(Seq(
        StructField("v", IntegerType)))), nullable = true)))
    val tbl = LakehouseTable.create(cat, spark, "ns", "ti", schema0)
    tbl.append(spark.createDataFrame(java.util.List.of(
      Row(1, Seq(Row(5, "x"), Row(6, "y")), Map("k" -> Row(10))),
      Row(2, Seq(Row(8, "z")), Map("k" -> Row(20)))), schema0))
    // both renames are metadata-only; files untouched
    tbl.renameInteriorField("arr.element.a", "aa")
    tbl.renameInteriorField("m.value.v", "vv")
    // UNPRUNED plan: full scan answers old values under the new names
    val full = tbl.scan().orderBy("id").collect()
    assert(full(0).getSeq[Row](1).map(_.getInt(0)) == Seq(5, 6), full.toSeq)
    assert(full(1).getMap[String, Row](2)("k").getInt(0) == 20, full.toSeq)
    // PRUNED plans — the shape the Spark pin shows silently nulls
    // without the full-subtree flip
    val prunedArr = tbl.scan().select(col("id"), col("arr.aa"))
      .orderBy("id").collect()
    assert(prunedArr(0).getSeq[Int](1) == Seq(5, 6),
      s"pruned array read must serve by id: ${prunedArr.toSeq}")
    // round 16 (VERDICT r15 #2): the pruned TABLE-API plan must keep
    // NESTED pruning — the physical scan requests ONLY the asked-for
    // interior leaf, with its field id restored post-pruning
    // (InteriorIdRestoreRule), never the full subtree the r15 fallback
    // widened to
    locally {
      val df = tbl.scan().select(col("arr.aa"))
      df.collect() // force preparation (the restore rule runs there)
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec in the pruned plan"))
      val arrField = scan.requiredSchema.fields.find(_.name == "arr")
        .getOrElse(fail(s"arr missing from ${scan.requiredSchema}"))
      val elem = arrField.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(elem.fieldNames.toSeq == Seq("aa"),
        s"interior-renamed scan must stay nested-PRUNED, got $elem")
      assert(elem.fields.head.metadata.contains(FieldIds.MetaKey),
        "the pruned leaf must carry its restored field id")
      assert(!scan.requiredSchema.fieldNames.contains("m") &&
        !scan.requiredSchema.fieldNames.contains("id"),
        s"top-level pruning must survive: ${scan.requiredSchema.fieldNames.toSeq}")
    }
    val prunedMap = tbl.scan()
      .select(col("id"), col("m")("k")("vv").as("mv"))
      .orderBy("id").collect()
    assert(prunedMap.map(_.getInt(1)).toSeq == Seq(10, 20),
      s"pruned map read must serve by id: ${prunedMap.toSeq}")
    // a session that sends parquet to DSv2 still plans the table-API
    // scan as the V1 file scan the restore rule rewrites (a log read)
    val v1List = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try {
      assert(tbl.scan().select(col("id"), col("arr.aa")).orderBy("id").collect()
        .map(_.getSeq[Int](1)).toSeq == Seq(Seq(5, 6), Seq(8)))
      val df = tbl.scan().select(col("arr.aa"))
      df.collect()
      val scan = df.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec without parquet in the V1 list"))
      val elem = scan.requiredSchema("arr").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(elem.fieldNames.toSeq == Seq("aa"), s"must stay nested-pruned, got $elem")
    } finally spark.conf.set("spark.sql.sources.useV1SourceList", v1List)
    // a NEW era lands under the renamed schema; both eras answer
    val schema1 = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("aa", IntegerType),
        StructField("b", StringType)))), nullable = true),
      StructField("m", MapType(StringType, StructType(Seq(
        StructField("vv", IntegerType)))), nullable = true)))
    tbl.append(spark.createDataFrame(java.util.List.of(
      Row(3, Seq(Row(7, "w")), Map("k" -> Row(30)))), schema1))
    val both = tbl.scan().select(col("id"), col("arr.aa")).orderBy("id")
      .collect()
    assert(both.map(_.getSeq[Int](1)).toSeq == Seq(Seq(5, 6), Seq(8), Seq(7)),
      s"old and new eras must both serve: ${both.toSeq}")
    // SQL path: pruned and unpruned, same answers
    spark.conf.set("spark.sql.catalog.gint", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gint.warehouse", wh)
    val sqlPruned = spark.sql(
      "SELECT id, arr.aa AS aas FROM gint.ns.ti ORDER BY id").collect()
    assert(sqlPruned.map(_.getSeq[Int](1)).toSeq ==
      Seq(Seq(5, 6), Seq(8), Seq(7)), sqlPruned.toSeq.toString)
    val sqlMap = spark.sql(
      "SELECT id, m['k'].vv AS mv FROM gint.ns.ti ORDER BY id").collect()
    assert(sqlMap.map(_.getInt(1)).toSeq == Seq(10, 20, 30),
      sqlMap.toSeq.toString)
    assert(spark.sql("SELECT SUM(x.aa) FROM gint.ns.ti " +
      "LATERAL VIEW explode(arr) AS x").head().getLong(0) == 5 + 6 + 8 + 7)
    // plan audit, SQL path: column pruning AND nested pruning both
    // survive the interior rename (round 16 — the r15 shape widened
    // interior-bearing roots to their full subtree; now the pruned
    // shape keeps only the requested leaf, id re-attached)
    val rel = spark.sql("SELECT arr.aa FROM gint.ns.ti").queryExecution
      .optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get
    val readSchema = rel.scan.readSchema()
    val readCols = readSchema.fieldNames.toSeq
    assert(readCols.contains("arr") && !readCols.contains("m") &&
      !readCols.contains("id"),
      s"interior-renamed SQL scan must keep top-level column pruning: $readCols")
    readSchema.fields.find(_.name == "arr").foreach { arrField =>
      arrField.dataType match {
        case org.apache.spark.sql.types.ArrayType(
            st: org.apache.spark.sql.types.StructType, _) =>
          assert(st.fieldNames.toSeq == Seq("aa"),
            s"interior-renamed SQL scan must keep NESTED pruning, got $st")
          assert(st.fields.head.metadata.contains(FieldIds.MetaKey),
            "the pruned leaf must carry its re-attached field id")
        case other => fail(s"unexpected arr type $other")
      }
    }
    // refusals: fixed interior tokens; struct-chain paths belong to
    // renameStructField; unknown fields
    val e1 = intercept[IllegalArgumentException](
      tbl.renameInteriorField("arr.element", "stuff"))
    assert(e1.getMessage.contains("fixed name-mapping"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      tbl.renameInteriorField("id", "nope"))
    assert(e2.getMessage.contains("renameStructField"), e2.getMessage)
    intercept[IllegalArgumentException](
      tbl.renameInteriorField("arr.element.ghost", "g2"))
  }

  test("interior ids: stable across write, export, import and re-export") {
    // Round 14 (#5): list/map INTERIOR ids live in graft.interior-ids
    // (name-mapping tokens). Managed writes stamp them, the Iceberg
    // export declares the SAME numbers (a strict-by-id reader matches
    // file stamps), import carries a source's interior ids, and a
    // re-export of an imported tree keeps them — no drift.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val cat = new Snaplog(Files.createTempDirectory("graft-intid").toString)
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("a", IntegerType),
        StructField("b", StringType)))), nullable = true),
      StructField("m", MapType(StringType, IntegerType), nullable = true)))
    val df = spark.createDataFrame(java.util.List.of(
      Row(1, Seq(Row(5, "x")), Map("k" -> 7)),
      Row(2, Seq(Row(8, "z"), Row(9, "w")), Map("k2" -> 9))), schema)
    val tbl = LakehouseTable.create(cat, spark, "ns", "ii", df.schema)
    val interior = FieldIds.decode(
      cat.loadTable("ns", "ii").properties(FieldIds.InteriorProp))
    assert(interior == Map("arr.element" -> 4, "arr.element.a" -> 5,
      "arr.element.b" -> 6, "m.key" -> 7, "m.value" -> 8), interior.toString)
    tbl.append(df)
    // the FILE stamps the interior struct ids the map declares
    locally {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val f = cat.liveFiles("ns", "ii").head.path
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf()))
      try {
        val root = r.getFooter.getFileMetaData.getSchema
        def child(t: org.apache.parquet.schema.GroupType,
            n: String): org.apache.parquet.schema.Type =
          t.getFields.get(t.getFieldIndex(n))
        val el = child(child(child(root, "arr").asGroupType, "list")
          .asGroupType, "element").asGroupType
        assert(el.getType("a").getId.intValue == 5, el.toString)
        assert(el.getType("b").getId.intValue == 6, el.toString)
      } finally r.close()
    }
    // export declares the SAME interior ids
    def interiorIdsOf(dest: java.nio.file.Path): (Int, Int, Int, Int, Int) = {
      val metaDir = dest.resolve("metadata")
      val hint = Files.readString(metaDir.resolve("version-hint.text")).trim
      val meta = JsonMethods.parse(
        Files.readString(metaDir.resolve(s"v$hint.metadata.json")))
      val fields = ((meta \ "schemas").asInstanceOf[JArray].arr.head
        \ "fields").asInstanceOf[JArray].arr
      val byName = fields.map(f => (f \ "name").extract[String] -> f).toMap
      val arrT = byName("arr") \ "type"
      val elFields = ((arrT \ "element") \ "fields").asInstanceOf[JArray].arr
        .map(f => (f \ "name").extract[String] -> (f \ "id").extract[Int]).toMap
      val mT = byName("m") \ "type"
      ((arrT \ "element-id").extract[Int],
        elFields("a"), elFields("b"),
        (mT \ "key-id").extract[Int],
        (mT \ "value-id").extract[Int])
    }
    val dest = Files.createTempDirectory("graft-intid-ice")
    graft.interop.IcebergExport.export(tbl, dest)
    assert(interiorIdsOf(dest) == ((4, 5, 6, 7, 8)), interiorIdsOf(dest).toString)
    // import carries the interior map; re-export keeps the ids
    val imp = graft.interop.IcebergImport.register(cat, spark, dest, "ns", "ii_rt")
    assert(FieldIds.decode(cat.loadTable("ns", "ii_rt")
      .properties(FieldIds.InteriorProp)) == interior)
    assert(imp.table.scan().count() == 2)
    val dest2 = Files.createTempDirectory("graft-intid-ice2")
    graft.interop.IcebergExport.export(imp.table, dest2)
    assert(interiorIdsOf(dest2) == ((4, 5, 6, 7, 8)), "re-export drifted")
    // evolution: a NEW container column allocates fresh interior ids
    // above the high-water mark, existing entries untouched
    tbl.addColumn("tags", ArrayType(StringType))
    val int2 = FieldIds.decode(
      cat.loadTable("ns", "ii").properties(FieldIds.InteriorProp))
    assert(int2("tags.element") > 8, int2.toString)
    assert(interior.forall { case (k, v) => int2.get(k).contains(v) })
  }
}
