package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.catalog.Snaplog
import graft.sql.GraftSqlCatalog
import graft.table.LakehouseTable

/** Partition evolution ([[LakehouseTable.updateSpec]]) composing with
  * the rest of the engine: mixed-coverage reads stay exact on every
  * path (native, SQL, transform predicates), layout-attributing
  * operations refuse mixed tables loudly, and compaction restores
  * uniformity. */
class SpecEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def ts(d: Int): Timestamp = Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")

  private def fixture(ids: Int*) =
    ids.map(i => (i, s"g${i % 2}", ts(1 + (i % 4)), i * 1.5))
      .toDF("id", "grp", "ts", "v")

  private def fresh(name: String): (String, LakehouseTable) = {
    val wh = Files.createTempDirectory(s"graft-pev-$name").toString
    (wh, LakehouseTable.create(
      new Snaplog(wh), spark, "ns", name, fixture(1).schema))
  }

  test("evolve to days(ts): SQL day-window reads stay exact over mixed files") {
    val (wh, t) = fresh("days")
    t.append(fixture(1 to 8: _*))           // old spec (none)
    t.updateSpec(Seq("days(ts)"))
    t.append(fixture(9 to 16: _*))          // new spec: days(ts)
    val files = t.catalog.liveFiles("ns", "days")
    assert(files.exists(!_.partitionValues.contains("ts_day")) &&
      files.exists(_.partitionValues.contains("ts_day")))
    spark.conf.set("spark.sql.catalog.gpev", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpev.warehouse", wh)
    // day-window filter: old files carry no ts_day — they must survive
    // pruning and filter row-level; result equals the predicate's truth
    val got = spark.sql(
      """SELECT id FROM gpev.ns.days
         WHERE ts >= TIMESTAMP '2024-03-02 00:00:00'
           AND ts <  TIMESTAMP '2024-03-03 00:00:00'
         ORDER BY id""").collect().map(_.getInt(0)).toSeq
    val exp = (1 to 16).filter(i => 1 + (i % 4) == 2)
    assert(got == exp)
    // the day-window COUNT must NOT be answered from metadata alone
    // while coverage is mixed (the forall gate declines) — value check
    val n = spark.sql(
      """SELECT COUNT(*) AS n FROM gpev.ns.days
         WHERE ts >= TIMESTAMP '2024-03-02 00:00:00'
           AND ts <  TIMESTAMP '2024-03-03 00:00:00'""")
      .collect().head.getLong(0)
    assert(n == exp.size.toLong)
  }

  test("partition overwrite and export refuse mixed coverage; compact unblocks") {
    val (_, t) = fresh("refuse")
    t.append(fixture(1, 2, 3, 4))
    t.updateSpec(Seq("grp"))
    t.append(fixture(5, 6))
    val ow = intercept[IllegalArgumentException](
      t.overwritePartitions(fixture(7, 8)))
    assert(ow.getMessage.contains("partition values"))
    val ex = intercept[IllegalArgumentException](
      graft.interop.IcebergExport.export(
        t, Files.createTempDirectory("graft-pev-ice")))
    assert(ex.getMessage.contains("predate the current partition spec"))
    t.compact()
    // both operations now work on the uniform table
    t.overwritePartitions(fixture(7, 8))
    val rep = graft.interop.IcebergExport.export(
      t, Files.createTempDirectory("graft-pev-ice2"))
    assert(rep.dataFiles > 0)
  }

  test("scan(partitionFilter) on a mixed transform field refuses with guidance") {
    val (_, t) = fresh("tfield")
    t.append(fixture(1, 2))
    t.updateSpec(Seq("days(ts)"))
    t.append(fixture(3, 4))
    val e = intercept[IllegalArgumentException](
      t.scan(partitionFilter = Map("ts_day" -> "19784")).collect())
    assert(e.getMessage.contains("compact"))
    // uniform coverage (fresh filter on covered identity column) fine
    assert(t.scan().count() == 4)
  }

  test("CALL update_partition_spec evolves via SQL, composite spec parses") {
    val (wh, t) = fresh("proc")
    t.append(fixture(1, 2, 3, 4))
    spark.conf.set("spark.sql.catalog.gpevp", classOf[GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpevp.warehouse", wh)
    val res = spark.sql(
      "CALL gpevp.system.update_partition_spec('ns', 'proc', 'days(ts),bucket(4,id)')")
      .collect().head.getString(0)
    assert(res == "days(ts),bucket(4,id)")
    assert(t.partitionColumns == Seq("days(ts)", "bucket(4,id)"))
    t.append(fixture(5, 6))
    val newer = t.catalog.liveFiles("ns", "proc")
      .filter(_.partitionValues.contains("ts_day"))
    assert(newer.nonEmpty && newer.forall(_.partitionValues.contains("id_bucket")))
  }

  test("re-parameterized transform reusing a derived field name refuses") {
    val (_, t) = fresh("reparam")
    t.updateSpec(Seq("bucket(4,id)"))
    // empty table: no file recorded id_bucket yet — re-parameterization
    // is still safe and allowed
    t.updateSpec(Seq("bucket(8,id)"))
    t.append(fixture(1 to 8: _*))
    // live files now record bucket(8) indexes under id_bucket: a width
    // change would consume them as bucket(4) values and mis-prune
    val e = intercept[IllegalArgumentException](
      t.updateSpec(Seq("bucket(4,id)")))
    assert(e.getMessage.contains("id_bucket") &&
      e.getMessage.contains("expireSnapshots"))
    // same hazard for truncate width
    val (_, t2) = fresh("reparam2")
    t2.updateSpec(Seq("truncate(2,grp)"))
    t2.append(fixture(1, 2, 3))
    val e2 = intercept[IllegalArgumentException](
      t2.updateSpec(Seq("truncate(3,grp)")))
    assert(e2.getMessage.contains("grp_trunc"))
    // different derived names are fine: days(ts) -> hours(ts) is a new
    // field; identity <-> transform moves are unaffected
    t2.updateSpec(Seq("days(ts)"))
    t2.append(fixture(4, 5))
    t2.updateSpec(Seq("hours(ts)"))
    t2.append(fixture(6, 7))
    assert(t2.scan().count() == 7)
    // unchanged parameterization (reorder / re-add of the identical
    // spec string) passes
    t.updateSpec(Seq("bucket(8,id)", "days(ts)"))
    t.append(fixture(9, 10))
    assert(t.scan().count() == 10)
    // history, not just live files, is the hazard surface: a COW
    // overwrite that drops the old files does NOT unblock while the
    // snapshots remain time-travelable
    val (_, t3) = fresh("reparam3")
    t3.updateSpec(Seq("bucket(4,id)"))
    t3.append(fixture(1, 2))
    t3.overwrite(fixture(3, 4))
    t3.compact()
    val e3 = intercept[IllegalArgumentException](
      t3.updateSpec(Seq("bucket(8,id)")))
    assert(e3.getMessage.contains("id_bucket"))
  }

  test("iceberg import: multi-spec tree lands old-spec files UNATTRIBUTED, reads stay exact") {
    // A foreign tree whose manifests carry MULTIPLE spec ids: files
    // under a non-default spec hold no value for the current spec's
    // fields — they must import with NO partition entry (graft's
    // mixed-coverage machinery keeps them through pruning and restores
    // exactness row-level). Recording the Hive null sentinel instead
    // would claim "the value IS null" and partition-filtered reads
    // would silently drop their rows.
    import scala.jdk.CollectionConverters._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    import org.json4s.JsonDSL._
    val wh = Files.createTempDirectory("graft-pev-imp").toString
    val cat = new Snaplog(wh)
    val t = LakehouseTable.create(cat, spark, "ns", "mspec",
      fixture(1).schema, Seq("grp"))
    t.append(fixture(1, 2, 3, 4))
    val dest = Files.createTempDirectory("graft-pev-tree")
    graft.interop.IcebergExport.export(t, dest)
    val metaDir = dest.resolve("metadata")
    // an extra data file written under an OLDER, empty spec (id-stamped
    // like the tree's other files, so the resolution probe stays by-id)
    val md = (id: Long) => new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(graft.types.FieldIds.MetaKey, id).build()
    val oldDir = dest.resolve("olddata")
    fixture(9, 10).select(col("id").as("id", md(1)),
        col("grp").as("grp", md(2)), col("ts").as("ts", md(3)),
        col("v").as("v", md(4))).repartition(1)
      .write.format(graft.table.ManagedParquetFormat.Name)
      .mode("overwrite").save(oldDir.toString)
    val oldFile = graft.table.FileStats.listParquet(oldDir.toString).head
    // forge a data manifest under spec-id 7 (no partition fields)
    val entrySchema = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int","field-id":0},
        |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
        |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
        |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |{"name":"content","type":"int","field-id":134},
        |{"name":"file_path","type":"string","field-id":100},
        |{"name":"file_format","type":"string","field-id":101},
        |{"name":"partition","type":{"type":"record","name":"r102","fields":[]},"field-id":102},
        |{"name":"record_count","type":"long","field-id":103},
        |{"name":"file_size_in_bytes","type":"long","field-id":104}
        |]},"field-id":2}]}""".stripMargin)
    val dfRec = new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema())
    dfRec.put("content", 0)
    dfRec.put("file_path", oldFile)
    dfRec.put("file_format", "PARQUET")
    dfRec.put("partition", new org.apache.avro.generic.GenericData.Record(
      entrySchema.getField("data_file").schema().getField("partition").schema()))
    dfRec.put("record_count", 2L)
    dfRec.put("file_size_in_bytes",
      Files.size(java.nio.file.Paths.get(oldFile)))
    val entry = new org.apache.avro.generic.GenericData.Record(entrySchema)
    entry.put("status", 1); entry.put("snapshot_id", 1L)
    entry.put("sequence_number", 1L); entry.put("file_sequence_number", 1L)
    entry.put("data_file", dfRec)
    val oldManifest = metaDir.resolve("manifest-oldspec.avro")
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](entrySchema))
      w.setMeta("format-version", "2"); w.setMeta("content", "data")
      w.create(entrySchema, oldManifest.toFile)
      try w.append(entry) finally w.close()
    }
    // splice into the manifest list under spec-id 7, and declare the
    // old spec in metadata.json's partition-specs
    val hint = Files.readString(metaDir.resolve("version-hint.text")).trim
    val metaFile = metaDir.resolve(s"v$hint.metadata.json")
    val metaJson = Files.readString(metaFile)
    val listPath = java.nio.file.Paths.get(
      """"manifest-list" : "([^"]+)"""".r.findFirstMatchIn(metaJson).get.group(1))
    val listRecs = {
      val r = new org.apache.avro.file.DataFileReader(listPath.toFile,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try r.iterator.asScala.toVector finally r.close()
    }
    val mfSchema = listRecs.head.getSchema
    val oldMf = new org.apache.avro.generic.GenericData.Record(mfSchema)
    oldMf.put("manifest_path", oldManifest.toString)
    oldMf.put("manifest_length", Files.size(oldManifest))
    oldMf.put("partition_spec_id", 7)
    oldMf.put("content", 0)
    oldMf.put("sequence_number", 1L); oldMf.put("min_sequence_number", 1L)
    oldMf.put("added_snapshot_id", 1L); oldMf.put("added_files_count", 1)
    oldMf.put("existing_files_count", 0); oldMf.put("deleted_files_count", 0)
    oldMf.put("added_rows_count", 2L); oldMf.put("existing_rows_count", 0L)
    oldMf.put("deleted_rows_count", 0L)
    locally {
      val w = new org.apache.avro.file.DataFileWriter(
        new org.apache.avro.generic.GenericDatumWriter[
          org.apache.avro.generic.GenericRecord](mfSchema))
      w.create(mfSchema, listPath.toFile)
      try { listRecs.foreach(w.append); w.append(oldMf) } finally w.close()
    }
    val parsed = JsonMethods.parse(metaJson)
    val updated = parsed.transformField {
      case ("partition-specs", JArray(specs)) =>
        ("partition-specs", JArray(specs :+
          ((("spec-id" -> 7) ~ ("fields" -> List.empty[JValue])): JValue)))
    }
    Files.writeString(metaFile, JsonMethods.pretty(JsonMethods.render(updated)))
    val imp = graft.interop.IcebergImport.register(
      cat, spark, dest, "ns", "mspec_rt")
    // the old-spec file is UNATTRIBUTED — no grp key at all
    val un = cat.liveFiles("ns", "mspec_rt")
      .filter(!_.partitionValues.contains("grp"))
    assert(un.size == 1 && un.head.path == oldFile, un.toString)
    assert(imp.table.scan().count() == 6)
    // identity partition filter stays EXACT: the unattributed file
    // survives pruning and row-filters (grp = g(i % 2))
    val got = imp.table.scan(partitionFilter = Map("grp" -> "g1"))
      .select("id").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 3, 9), got.toString)
  }

  test("iceberg refresh: a source spec evolution ADOPTS via graft spec evolution") {
    val wh = Files.createTempDirectory("graft-pev-refresh").toString
    val cat = new Snaplog(wh)
    val src = LakehouseTable.create(cat, spark, "ns", "specsrc",
      fixture(1).schema, Seq("grp"))
    src.append(fixture(1, 2, 3, 4))
    val dest = Files.createTempDirectory("graft-pev-refresh-tree")
    graft.interop.IcebergExport.export(src, dest)
    graft.interop.IcebergImport.register(cat, spark, dest, "ns", "specmirror")
    assert(cat.loadTable("ns", "specmirror").partitionColumns == Seq("grp"))
    // the source evolves its spec (here: drops partitioning — the
    // export-expressible direction; a foreign widened-spec tree takes
    // the same adoption path through the partCols mismatch) and lands
    // a new era under the new spec
    src.updateSpec(Seq.empty)
    src.append(fixture(11, 12, 13, 14))
    graft.interop.IcebergExport.export(src, dest)
    val r = graft.interop.IcebergImport.refresh(cat, spark, "ns", "specmirror")
    assert(!r.reset && r.dataFilesAdded >= 1, r.toString)
    assert(cat.loadTable("ns", "specmirror").partitionColumns.isEmpty,
      "the mirror's spec must have advanced with the source")
    assert(r.table.scan().select("id").collect().map(_.getInt(0)).sorted.toSeq
      == src.scan().select("id").collect().map(_.getInt(0)).sorted.toSeq)
    // old-era partition-attributed reads stay exact through the mix
    assert(r.table.scan().filter(col("grp") === "g1").count() ==
      src.scan().filter(col("grp") === "g1").count())
  }

  test("JDBC backend persists the evolved spec") {
    val dir = Files.createTempDirectory("graft-pev-jdbc")
    val cat = new graft.catalog.JdbcCatalog(
      s"jdbc:derby:$dir/cat;create=true", s"$dir/wh")
    val t = LakehouseTable.create(cat, spark, "ns", "j", fixture(1).schema)
    t.append(fixture(1, 2))
    t.updateSpec(Seq("days(ts)"))
    assert(cat.loadTable("ns", "j").partitionColumns == Seq("days(ts)"))
    t.append(fixture(3, 4))
    assert(cat.liveFiles("ns", "j")
      .exists(_.partitionValues.contains("ts_day")))
  }
}
