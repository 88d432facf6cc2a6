package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, Snaplog, Snapshot}
import graft.pipeline.Upsert
import graft.table.LakehouseTable

/** Delta-sized merge-on-read MERGE ([[LakehouseTable.mergeDelta]] and
  * the [[Upsert]] tier routed through it): one equality-delete + append
  * commit per batch, pre-existing data files carried by path untouched
  * — the per-trigger scale contract of the streaming upsert/CDC sink. */
class MergeDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = Seq(
    (1, "A", 1.5f, 10), (2, "A", 2.5f, 20),
    (3, "B", 3.5f, 30), (4, "C", 4.5f, 40)
  ).toDF("id", "group", "value1", "value2")

  private def fresh(name: String) = {
    val wh = Files.createTempDirectory(s"graft-md-$name").toString
    (new Snaplog(wh),
      LakehouseTable.create(new Snaplog(wh), spark, "ns", name, fixture().schema))
  }

  /** 60 rows, then an upsert of 30 (15 updated keys, 15 new) over
    * partition values A, B and C, fed in 4 tasks with AQE off, as a
    * streaming micro-batch runs it: the dedup shuffle's 4-task split
    * reaches the write uncoalesced. `beforeMerge` runs between the
    * two. Checks the visible rows and returns the merge commit. */
  private def clusteredMerge(tbl: LakehouseTable,
      beforeMerge: () => Unit = () => ()): Snapshot = {
    def rows(ids: Range, tag: Int) =
      ids.map(i => (i, Seq("A", "B", "C")(i % 3), i * 0.5f, i * 10 + tag))
        .toDF("id", "group", "value1", "value2")
    tbl.append(rows(0 until 60, 0))
    beforeMerge()
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    val snap =
      try Upsert.upsertTable(tbl, rows(45 until 75, 1).repartition(4), Seq("id"))
      finally prev.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    val got = tbl.scan().select("id", "value2").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).sorted.toSeq
    assert(got == (0 until 45).map(i => i -> i * 10) ++
      (45 until 75).map(i => i -> (i * 10 + 1)))
    assert(snap.summary("merge-rows") == "30")
    snap
  }

  /** The merge commit wrote exactly one data file per partition value. */
  private def assertOneFilePerValue(snap: Snapshot): Unit = {
    val data = snap.files.filterNot(_.deleteFile.contains(true))
    assert(snap.summary("merge-files") == "3" && data.size == 3,
      s"merge wrote ${data.size} files: ${data.map(_.partitionValues)}")
    assert(data.flatMap(_.partitionValues.get("group")).sorted ==
      Seq("A", "B", "C"))
  }

  private def partitioned(cat: Catalog, name: String,
      properties: Map[String, String] = Map.empty) =
    LakehouseTable.create(cat, spark, "ns", name, fixture().schema,
      Seq("group"), properties)

  private def snaplog(name: String) =
    new Snaplog(Files.createTempDirectory(s"graft-md-$name").toString)

  test("upsertTable commits batch-sized: prior data files carried untouched") {
    val (cat, tbl) = fresh("size")
    tbl.append(fixture())
    val before = cat.liveFiles("ns", "size").map(_.path).toSet
    val beforeMtimes = before.map(p =>
      p -> Files.getLastModifiedTime(java.nio.file.Paths.get(p))).toMap
    val patch = Seq((2, "A", 99.9f, 222), (5, "D", 5.5f, 50))
      .toDF("id", "group", "value1", "value2")
    val snap = Upsert.upsertTable(tbl, patch, Seq("id"))
    // ONE commit: an eq-delete key file + the batch's data files only
    assert(snap.operation == Snaplog.OpEqDelete)
    val delEntries = snap.files.filter(_.deleteFile.contains(true))
    val dataEntries = snap.files.filterNot(_.deleteFile.contains(true))
    assert(delEntries.size == 1 &&
      delEntries.head.equalityKey.contains("id") &&
      delEntries.head.rowCount == 2)
    assert(dataEntries.map(_.rowCount).sum == 2)
    // replay order inside the commit: delete BEFORE the batch's data
    assert(snap.files.head.deleteFile.contains(true))
    // every pre-existing data file still live, same path, same bytes
    val after = cat.liveFiles("ns", "size").map(_.path).toSet
    assert(before.subsetOf(after))
    before.foreach(p => assert(
      Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == beforeMtimes(p)))
    // visible content = new-wins merge
    val got = tbl.scan().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(3))).toSeq
    assert(got == Seq((1, 10), (2, 222), (3, 30), (4, 40), (5, 50)))
  }

  test("mergeDelta: the batch's own rows survive its delete; repeat is idempotent") {
    val (_, tbl) = fresh("own")
    tbl.append(fixture())
    val patch = Seq((1, "Z", 9.9f, 111)).toDF("id", "group", "value1", "value2")
    tbl.mergeDelta(Seq("id"), patch)
    val once = tbl.scan().orderBy("id").collect().toSeq
    assert(once.map(_.getInt(3)) == Seq(111, 20, 30, 40))
    tbl.mergeDelta(Seq("id"), patch)
    assert(tbl.scan().orderBy("id").collect().toSeq == once)
  }

  test("null-keyed rows append without deleting (anti-join MERGE semantics)") {
    val (_, tbl) = fresh("nulls")
    val base = Seq((Some(1), "A", 10), (None, "N", 77))
      .toDF("id", "group", "value2")
    val t2 = LakehouseTable.create(tbl.catalog, spark, "ns", "nulls2", base.schema)
    t2.append(base)
    val patch = Seq((Some(1), "A", 11), (None, "N2", 88))
      .toDF("id", "group", "value2")
    t2.mergeDelta(Seq("id"), patch)
    val got = t2.scan().orderBy(col("value2")).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]), r.getString(1))).toSeq
    // id=1 replaced; BOTH null-keyed rows present (nothing deleted)
    assert(got == Seq((Some(1), "A"), (None, "N"), (None, "N2")))
  }

  test("applyChanges delta form: D/U/I in one batch-sized commit") {
    val (cat, tbl) = fresh("cdc")
    tbl.append(fixture())
    val before = cat.liveFiles("ns", "cdc").map(_.path).toSet
    val changes = Seq(
      (1, "A", 0.0f, 0, "D"),
      (2, "A", 9.9f, 99, "U"),
      (5, "D", 5.5f, 50, "I")
    ).toDF("id", "group", "value1", "value2", "op")
    val snap = Upsert.applyChanges(tbl, changes, Seq("id"))
    assert(snap.operation == Snaplog.OpEqDelete)
    // the delete key file carries ALL three keys (1=D, 2+5 upsert keys)
    assert(snap.files.filter(_.deleteFile.contains(true)).map(_.rowCount).sum == 3)
    // upserted rows = 2 (the D key contributes no data row)
    assert(snap.files.filterNot(_.deleteFile.contains(true)).map(_.rowCount).sum == 2)
    assert(before.subsetOf(cat.liveFiles("ns", "cdc").map(_.path).toSet))
    val got = tbl.scan().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(3))).toSeq
    assert(got == Seq((2, 99), (3, 30), (4, 40), (5, 50)))
  }

  test("changelog over a merge commit: preimage delete + postimage insert, keyed pairing") {
    val (_, tbl) = fresh("cl")
    tbl.append(fixture())
    val from = tbl.currentSnapshotId
    val patch = Seq((2, "A", 9.9f, 222), (5, "D", 5.5f, 50))
      .toDF("id", "group", "value1", "value2")
    Upsert.upsertTable(tbl, patch, Seq("id"))
    val ch = tbl.scanChanges(from)
      .select(col("id"), col("value2"), col(LakehouseTable.ChangeTypeCol))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(ch == Set(
      (2, 20, "delete"),   // preimage of the updated key
      (2, 222, "insert"),  // postimage
      (5, 50, "insert")))  // plain insert (no preimage existed)
    val keyed = tbl.scanChangesKeyed(Seq("id"), from)
      .select(col("id"), col("value2"), col(LakehouseTable.ChangeTypeCol))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(keyed == Set(
      (2, 20, "update_preimage"),
      (2, 222, "update_postimage"),
      (5, 50, "insert")))
  }

  test("streaming table source tails across merge commits, batch-bounded") {
    val wh = Files.createTempDirectory("graft-md-stream").toString
    val cat = new Snaplog(wh)
    val df = fixture()
    val tbl = LakehouseTable.create(cat, spark, "ns", "tailm", df.schema)
    tbl.append(df)                                         // snap 1
    spark.conf.set("spark.sql.catalog.gmdst", classOf[graft.sql.GraftSqlCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmdst.warehouse", wh)
    val ckpt = Files.createTempDirectory("graft-md-stream-ck").toString
    val out = Files.createTempDirectory("graft-md-stream-out").toString
    def runOnce(): Seq[Int] = {
      val q = spark.readStream.table("gmdst.ns.tailm")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.exception.foreach(throw _)
      spark.read.parquet(out).select("id").collect().map(_.getInt(0)).toSeq.sorted
    }
    assert(runOnce() == Seq(1, 2, 3, 4))
    // two merge batches land; admission closes the batch between them
    Upsert.upsertTable(tbl,
      Seq((2, "A", 9.9f, 222)).toDF("id", "group", "value1", "value2"), Seq("id"))
    Upsert.upsertTable(tbl,
      Seq((6, "E", 6.5f, 60)).toDF("id", "group", "value1", "value2"), Seq("id"))
    // the tail emits ONLY the merges' own rows (skip-delete semantics:
    // the old id=2 row was emitted before the delete existed)
    assert(runOnce() == Seq(1, 2, 2, 3, 4, 6))
  }

  test("mergeDelta lays out batch files under the partition spec; pruning intact") {
    val wh = Files.createTempDirectory("graft-md-part").toString
    val cat = new Snaplog(wh)
    val df = fixture()
    val tbl = LakehouseTable.create(cat, spark, "ns", "pm", df.schema, Seq("group"))
    tbl.append(df)
    tbl.mergeDelta(Seq("id"),
      Seq((2, "A", 9.9f, 222), (5, "D", 5.5f, 50))
        .toDF("id", "group", "value1", "value2"))
    // the merge commit's data files record partition tuples like any
    // managed write — metadata pruning keeps working over them
    val snap = cat.snapshots("ns", "pm").last
    val data = snap.files.filterNot(_.deleteFile.contains(true))
    assert(data.nonEmpty && data.forall(_.partitionValues.contains("group")))
    val pruned = tbl.selectFiles(partitionFilter = Map("group" -> "D"))
    assert(pruned.nonEmpty && pruned.forall(_.partitionValues.get("group").contains("D")))
    val got = tbl.scan(partitionFilter = Map("group" -> "A"))
      .orderBy("id").collect().map(r => (r.getInt(0), r.getInt(3))).toSeq
    assert(got == Seq((1, 10), (2, 222)))
  }

  test("a merge writes one file per partition value unless the table says none") {
    val cat = snaplog("clus")
    assertOneFilePerValue(clusteredMerge(partitioned(cat, "clus")))
    // an explicit write.distribution-mode=none keeps the task fan-out
    val snap = clusteredMerge(partitioned(cat, "clusnone",
      Map("write.distribution-mode" -> "none")))
    val data = snap.files.filterNot(_.deleteFile.contains(true))
    assert(data.forall(_.partitionValues.contains("group")))
    assert(snap.summary("merge-files").toInt == data.size && data.size > 3,
      s"none must keep the 4-task fan-out over 3 values, got ${data.size} files")
  }

  test("composite-key mergeDelta: tuple semantics end-to-end") {
    val wh = Files.createTempDirectory("graft-md-comp").toString
    val cat = new Snaplog(wh)
    val df = Seq((1, "us", 10), (1, "eu", 11), (2, "us", 20))
      .toDF("uid", "region", "x")
    val tbl = LakehouseTable.create(cat, spark, "ns", "cm", df.schema)
    tbl.append(df)
    // upsert keyed on (uid, region): only the exact tuple is replaced
    val snap = tbl.mergeDelta(Seq("uid", "region"),
      Seq((1, "eu", 99), (3, "ap", 30)).toDF("uid", "region", "x"))
    assert(snap.files.filter(_.deleteFile.contains(true))
      .forall(_.equalityKey.contains("uid,region")))
    val got = tbl.scan().orderBy("uid", "region").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1, "eu", 99), (1, "us", 10), (2, "us", 20), (3, "ap", 30)))
    // changelog pairs the composite tuple into update images
    val keyed = tbl.scanChangesKeyed(Seq("uid", "region"), 1L)
      .select(col("uid"), col("region"), col("x"),
        col(LakehouseTable.ChangeTypeCol))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2),
        r.getString(3))).toSet
    assert(keyed == Set(
      (1, "eu", 11, "update_preimage"),
      (1, "eu", 99, "update_postimage"),
      (3, "ap", 30, "insert")))
  }

  test("a CDC 'D' row with a null key is a no-op, not a failure") {
    // equality is null-rejecting: the COW form's anti-join ignores
    // null-keyed deletes and EqDeleteRoute drops null IN-tuples — the
    // merge-on-read tier must agree, not die in the staged key write
    val wh = Files.createTempDirectory("graft-md-nullkey").toString
    val cat = new Snaplog(wh)
    val df = Seq((Some(1L), "a"), (Some(2L), "b")).toDF("id", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "nk", df.schema)
    tbl.append(df)
    val feed = Seq(
      (Some(2L), "b2", "U"),
      (Option.empty[Long], "ghost", "D")).toDF("id", "v", "op")
    graft.pipeline.Upsert.applyChanges(tbl, feed, Seq("id"))
    val got = tbl.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2")))
  }

  test("mergeDelta never evicts a caller's cache on the feed") {
    val wh = Files.createTempDirectory("graft-md-cache").toString
    val cat = new Snaplog(wh)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "cc", df.schema)
    tbl.append(df)
    val callerCached = Seq((2L, "b2")).toDF("id", "v").persist()
    try {
      tbl.mergeDelta(Seq("id"), callerCached)
      // the caller's cache entry must survive the merge's cleanup
      assert(callerCached.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE,
        "mergeDelta evicted the caller's cache")
    } finally callerCached.unpersist()
    assert(tbl.scan().count() == 2)
  }

  test("a MISTYPED (uncastable) CDC delete key fails loudly, not silently") {
    // null keys are no-ops; a non-null key the cast cannot represent is
    // a bug in the feed and must surface — the drop runs BEFORE the cast
    val wh = Files.createTempDirectory("graft-md-badkey").toString
    val cat = new Snaplog(wh)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val tbl = LakehouseTable.create(cat, spark, "ns", "bk", df.schema)
    tbl.append(df)
    val feed = Seq(("2", "b2", "U"), ("12x", "ghost", "D"))
      .toDF("id", "v", "op") // string-typed keys against a LONG column
    intercept[Exception] {
      graft.pipeline.Upsert.applyChanges(tbl, feed, Seq("id"))
    }
    // the table is untouched — the commit never staged
    assert(tbl.scan().count() == 2)
  }

  test("nested payload rides the merge tier: struct/map columns through CDC upsert") {
    // the LLM-pipeline CDC shape: flat key, nested payload — the delete
    // key file stays flat (stats-complete), the batch's nested columns
    // flow through the anti-join, changelog and MOR subtraction intact
    val base = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag")
      .withColumn("payload", struct(col("tag").as("t"), (col("id") * 10).as("v")))
      .withColumn("attrs", map(lit("k"), col("tag")))
    val wh = Files.createTempDirectory("graft-md-nest").toString
    val cat = new Snaplog(wh)
    val tbl = LakehouseTable.create(cat, spark, "ns", "nest", base.schema)
    tbl.append(base)
    val from = tbl.currentSnapshotId
    val patch = Seq((2, "B2"), (4, "d")).toDF("id", "tag")
      .withColumn("payload", struct(col("tag").as("t"), (col("id") * 100).as("v")))
      .withColumn("attrs", map(lit("k"), col("tag")))
    val snap = Upsert.upsertTable(tbl, patch, Seq("id"))
    assert(snap.operation == Snaplog.OpEqDelete)
    // nested content post-merge: key 2 rebound to the new struct values
    val got = tbl.scan()
      .select(col("id"), col("payload.t"), col("payload.v"), col("attrs")("k"))
      .orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSeq
    assert(got == Seq((1, "a", 10, "a"), (2, "B2", 200, "B2"),
      (3, "c", 30, "c"), (4, "d", 400, "d")))
    // pruned nested read through the MOR subtraction too
    assert(tbl.scan().select(col("payload.v")).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 30, 200, 400))
    // the delete key file records flat-key stats (bounds present on id)
    val del = cat.liveDeleteFiles("ns", "nest").head
    assert(del.columnStats.exists(_.contains("id")))
    // keyed changelog pairs pre/post images with the nested payload
    val ch = tbl.scanChangesKeyed(Seq("id"), from)
      .filter(col("id") === 2)
      .select(col(LakehouseTable.ChangeTypeCol), col("payload.v")).collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(ch == Seq(("update_postimage", 200), ("update_preimage", 20)), ch.toString)
    // maintenance retires the delete without disturbing nested content
    tbl.rewriteDeleteFiles()
    assert(cat.liveDeleteFiles("ns", "nest").isEmpty)
    assert(tbl.scan().select(col("payload.v")).collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(10, 30, 200, 400))
    // a NESTED equality-delete key refuses loudly (Iceberg keys are
    // primitive: no stats for attribution, no null-count proof)
    val e = intercept[IllegalArgumentException](
      tbl.deleteEq("payload", Seq("x")))
    assert(e.getMessage.contains("nested"))
  }

  test("merge tier runs unchanged on the JDBC catalog backend") {
    val dir = Files.createTempDirectory("graft-md-jdbc")
    val cat = new graft.catalog.JdbcCatalog(
      s"jdbc:derby:$dir/cat;create=true", s"$dir/wh")
    val df = fixture()
    val tbl = LakehouseTable.create(cat, spark, "ns", "mj", df.schema)
    tbl.append(df)
    val before = cat.liveFiles("ns", "mj").map(_.path).toSet
    Upsert.upsertTable(tbl,
      Seq((2, "A", 9.9f, 222), (5, "D", 5.5f, 50))
        .toDF("id", "group", "value1", "value2"), Seq("id"))
    val snap = cat.snapshots("ns", "mj").last
    assert(snap.operation == Snaplog.OpEqDelete &&
      snap.files.exists(_.deleteFile.contains(true)) &&
      snap.files.exists(!_.deleteFile.contains(true)))
    assert(before.subsetOf(cat.liveFiles("ns", "mj").map(_.path).toSet))
    assert(tbl.scan().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(3))).toSeq ==
      Seq((1, 10), (2, 222), (3, 30), (4, 40), (5, 50)))
    // a partitioned merge writes one file per partition value here too
    assertOneFilePerValue(clusteredMerge(partitioned(cat, "mjp")))
  }

  test("per-batch commit cost stays batch-sized across a micro-batch sequence") {
    val (cat, tbl) = fresh("cost")
    tbl.append(fixture())
    val initialFiles = cat.liveFiles("ns", "cost").map(_.path).toSet
    (1 to 5).foreach { i =>
      Upsert.upsertTable(tbl,
        Seq((i, "P", i * 1.0f, 1000 + i)).toDF("id", "group", "value1", "value2"),
        Seq("id"))
    }
    val snaps = cat.snapshots("ns", "cost").drop(1)
    assert(snaps.size == 5)
    // every merge snapshot lists exactly 1 key entry + its own data
    // files (single-row batch → 1 data file); nothing ever rewrites
    snaps.foreach { s =>
      assert(s.files.count(_.deleteFile.contains(true)) == 1)
      assert(s.files.count(!_.deleteFile.contains(true)) == 1)
    }
    assert(initialFiles.subsetOf(cat.liveFiles("ns", "cost").map(_.path).toSet))
    // content: keys 1..5 now carry the patched values; key 5 was new
    val got = tbl.scan().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(3))).toSeq
    assert(got == Seq((1, 1001), (2, 1002), (3, 1003), (4, 1004), (5, 1005)))
    // compaction materializes the accumulated key files and retires them
    tbl.compact()
    assert(cat.liveDeleteFiles("ns", "cost").isEmpty)
    assert(tbl.scan().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(3))).toSeq == got)
  }

  // ---- v3 row-lineage MERGE-update semantics (round 17) ------------------
  // The Iceberg v3 spec's writer guidance: an UPDATE keeps the row's
  // `_row_id`, bumping only `_last_updated_sequence_number`. mergeDelta
  // on a lineage-enabled table carries the matched pre-merge id into
  // the written image (materialized nullable column under the reserved
  // field id); inserts stay null and draw fresh commit-time ids.

  private def freshLineage(name: String, partitionColumns: Seq[String] = Seq.empty) = {
    val wh = Files.createTempDirectory(s"graft-md-$name").toString
    val cat = new Snaplog(wh)
    (cat, LakehouseTable.create(cat, spark, "ns", name, fixture().schema,
      partitionColumns, Map(Snaplog.RowLineageProp -> "true")))
  }

  private def lineageOf(tbl: LakehouseTable) = tbl.scanLineage()
    .select("id", "_row_id", "_last_updated_sequence_number").collect()
    .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))

  test("lineage merge update carries _row_id and bumps sequence; insert draws fresh id") {
    val (_, tbl) = freshLineage("lincarry")
    tbl.append(fixture()) // seq 1, ids 0..3
    val before = lineageOf(tbl).map(x => x._1 -> x._2).toMap
    val patch = Seq((2, "A", 99.9f, 222), (5, "D", 5.5f, 50))
      .toDF("id", "group", "value1", "value2")
    val snap = Upsert.upsertTable(tbl, patch, Seq("id")) // seq 2
    val after = lineageOf(tbl)
    assert(after.length == 5, after.toSeq.toString)
    val upd = after.find(_._1 == 2).get
    assert(upd._2 == before(2),
      s"updated row must KEEP its _row_id: $upd vs carried ${before(2)}")
    assert(upd._3 == snap.snapshotId,
      s"updated row's sequence must bump to the merge commit: $upd")
    val ins = after.find(_._1 == 5).get
    assert(ins._2 >= 4L && ins._3 == snap.snapshotId,
      s"unmatched insert draws a fresh id above the high-water mark: $ins")
    after.filter(x => x._1 != 2 && x._1 != 5).foreach { x =>
      assert(x._2 == before(x._1) && x._3 == 1L,
        s"untouched row must keep id AND sequence: $x")
    }
    assert(after.map(_._2).distinct.length == after.length,
      "visible row ids must stay unique")
    // the carry never leaks into the plain read surface
    assert(!tbl.scan().columns.contains("_row_id"))
  }

  test("a lineage merge writes one file per partition value, ids carried") {
    val (_, tbl) = freshLineage("linclus", Seq("group"))
    var before = Map.empty[Int, Long]
    val snap = clusteredMerge(tbl,
      () => before = lineageOf(tbl).map(x => x._1 -> x._2).toMap)
    assertOneFilePerValue(snap)
    val after = lineageOf(tbl).map(x => x._1 -> x._2).toMap
    assert(before.size == 60 && after.size == 75)
    assert(after.values.toSeq.distinct.size == 75,
      "visible row ids must stay unique")
    // untouched and updated keys keep their ids; new keys draw fresh ones
    (0 until 60).foreach(k => assert(after(k) == before(k), s"key $k"))
    assert((60 until 75).forall(k => !before.values.toSet(after(k))))
  }

  test("lineage applyChanges: upserts carry identity, deletes end it") {
    val (_, tbl) = freshLineage("lincdc")
    tbl.append(fixture()) // ids 0..3
    val before = lineageOf(tbl).map(x => x._1 -> x._2).toMap
    val changes = Seq(
      (2, "A", 7.5f, 777, "U"), // update: carries id
      (3, "B", 0.0f, 0, "D"),   // delete: identity ends
      (6, "E", 6.5f, 60, "I")   // insert: fresh id
    ).toDF("id", "group", "value1", "value2", "op")
    val snap = Upsert.applyChanges(tbl, changes, Seq("id"))
    val after = lineageOf(tbl)
    assert(after.map(_._1).sorted.toSeq == Seq(1, 2, 4, 6), after.toSeq.toString)
    assert(after.find(_._1 == 2).get._2 == before(2),
      "CDC update must carry the row id")
    assert(after.find(_._1 == 6).get._2 >= 4L,
      "CDC insert must draw a fresh id")
    assert(!after.map(_._2).contains(before(3)),
      "a deleted row's id must not resurface")
    assert(after.filter(x => Set(2, 6)(x._1)).forall(_._3 == snap.snapshotId))
  }

  test("merge on a PLAIN table writes no physical lineage column") {
    val (_, tbl) = fresh("nolincol")
    tbl.append(fixture())
    val patch = Seq((2, "A", 99.9f, 222)).toDF("id", "group", "value1", "value2")
    val snap = Upsert.upsertTable(tbl, patch, Seq("id"))
    val dataEntries = snap.files.filterNot(_.deleteFile.contains(true))
    val written = spark.read.parquet(dataEntries.map(_.path): _*)
    assert(!written.columns.contains("_row_id"),
      "a non-lineage table's merge files must stay byte-plain")
  }

  test("lineage merge: key matching several visible rows carries the smallest id") {
    val (_, tbl) = freshLineage("linmulti")
    // two rows share id=7 (the keep-last tier would refuse; mergeDelta
    // deletes BOTH and the carried identity is the smallest matched id)
    tbl.append(Seq((7, "A", 1.0f, 1), (7, "B", 2.0f, 2), (8, "C", 3.0f, 3))
      .toDF("id", "group", "value1", "value2")) // ids 0,1,2
    val patch = Seq((7, "Z", 9.0f, 9)).toDF("id", "group", "value1", "value2")
    Upsert.upsertTable(tbl, patch, Seq("id"))
    val after = lineageOf(tbl)
    assert(after.map(_._1).sorted.toSeq == Seq(7, 8))
    assert(after.find(_._1 == 7).get._2 == 0L,
      s"multi-match carries the SMALLEST matched id: ${after.toSeq}")
    assert(after.find(_._1 == 8).get._2 == 2L)
  }

  test("a repeated small upsert compiles no new code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (cat, tbl) = fresh("warm")
    tbl.append(spark.range(20000).select(col("id").cast("int").as("id"),
      (col("id") % 5).cast("string").as("group"),
      (col("id") % 7).cast("float").as("value1"),
      (col("id") * 10).cast("int").as("value2")))
    // 150 updates of existing keys, 150 new keys
    val patch = spark.range(19850, 20150).select(col("id").cast("int").as("id"),
      lit("P").as("group"), lit(0.5f).as("value1"), (-col("id")).cast("int").as("value2"))
    Upsert.upsertTable(tbl, patch, Seq("id")) // warms every plan shape
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Upsert.upsertTable(tbl, patch, Seq("id"))
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the repeat upsert compiled $compiled classes")
    val got = tbl.scan().select("id", "value2").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).sorted.toSeq
    val want = (0 until 19850).map(i => i -> i * 10) ++ (19850 until 20150).map(i => i -> -i)
    assert(got == want)
    val data = cat.liveFiles("ns", "warm").filterNot(_.deleteFile.contains(true))
    assert(data.nonEmpty && data.forall(f =>
      graft.types.FieldIds.fileCarriesIds(spark, f.path)))
  }
}
