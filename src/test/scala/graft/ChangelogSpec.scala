package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Snaplog
import graft.table.LakehouseTable

/** Row-level changelog reads ([[LakehouseTable.scanChanges]]): each
  * commit kind's emission contract, sequencing across mixed histories,
  * and the loud refusals. */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._
  import LakehouseTable.{ChangeTypeCol, ChangeSnapshotCol, ChangeInsert, ChangeDelete}

  private def fixture(ids: Int*): DataFrame =
    ids.map(i => (i, s"g${i % 3}", i * 1.5)).toDF("id", "grp", "v")

  private def freshTable(name: String, interval: Int = 100): LakehouseTable = {
    val cat = new Snaplog(
      Files.createTempDirectory(s"graft-cl-$name").toString, interval)
    LakehouseTable.create(cat, spark, "ns", name, fixture(1).schema)
  }

  /** Collected (change_type, snapshot_id, id) triples, sorted. */
  private def changes(df: DataFrame): Seq[(String, Long, Int)] =
    df.select(col(ChangeTypeCol), col(ChangeSnapshotCol), col("id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted

  test("append-only window emits each commit's rows as inserts") {
    val t = freshTable("appends")
    t.append(fixture(1, 2)) // snapshot 1
    t.append(fixture(3))    // snapshot 2
    assert(changes(t.scanChanges(0L)) == Seq(
      (ChangeInsert, 1L, 1), (ChangeInsert, 1L, 2), (ChangeInsert, 2L, 3)))
    // half-open window: (1, 2]
    assert(changes(t.scanChanges(1L)) == Seq((ChangeInsert, 2L, 3)))
    // empty window from current
    assert(t.scanChanges(2L).count() == 0)
    assert(t.scanChanges(2L).columns.toSeq == t.changesSchema.fieldNames.toSeq)
  }

  test("equality delete emits retractions of pre-visible rows only") {
    val t = freshTable("eqdel")
    t.append(fixture(1, 2, 3))          // 1
    t.deleteEq("id", Seq(2, 99))        // 2: 99 matches nothing
    t.append(fixture(2))                // 3: re-insert of a deleted key
    t.deleteEq("id", Seq(2))            // 4: deletes ONLY the re-insert
    val got = changes(t.scanChanges(0L))
    assert(got == Seq(
      (ChangeDelete, 2L, 2), (ChangeDelete, 4L, 2),
      (ChangeInsert, 1L, 1), (ChangeInsert, 1L, 2), (ChangeInsert, 1L, 3),
      (ChangeInsert, 3L, 2)))
    // a second delete of key 2 would re-emit nothing: row already gone
    t.deleteEq("id", Seq(2)) // 5
    assert(changes(t.scanChanges(4L)).isEmpty)
  }

  test("changelog net effect equals the table's visible state") {
    val t = freshTable("net")
    t.append(fixture(1, 2, 3, 4))
    t.deleteEq("id", Seq(1, 3))
    t.append(fixture(5, 1))
    val cl = t.scanChanges(0L)
    val ins = cl.filter(col(ChangeTypeCol) === ChangeInsert)
      .select("id", "grp", "v")
    val del = cl.filter(col(ChangeTypeCol) === ChangeDelete)
      .select("id", "grp", "v")
    val net = ins.exceptAll(del).orderBy("id").collect().map(_.getInt(0)).toSeq
    val visible = t.scan().orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(net == visible && visible == Seq(1, 2, 4, 5))
  }

  test("position (MOR) delete emits the rows at the vector's positions") {
    val t = freshTable("mor")
    t.append(fixture(1, 2, 3, 4)) // 1
    t.deleteMor(col("id") >= 3)   // 2
    val got = changes(t.scanChanges(0L))
    assert(got == Seq(
      (ChangeDelete, 2L, 3), (ChangeDelete, 2L, 4),
      (ChangeInsert, 1L, 1), (ChangeInsert, 1L, 2),
      (ChangeInsert, 1L, 3), (ChangeInsert, 1L, 4)))
  }

  test("MOR vector over an eq-deleted row does not re-emit it") {
    val t = freshTable("moreq")
    t.append(fixture(1, 2, 3)) // 1
    t.deleteEq("id", Seq(3))   // 2 — row 3 now invisible
    t.deleteMor(col("id") >= 2) // 3 — vector may cover 2 AND the dead 3
    val dels = changes(t.scanChanges(2L)).filter(_._1 == ChangeDelete)
    assert(dels == Seq((ChangeDelete, 3L, 2)))
  }

  test("COW delete emits exactly the deleted rows, no carry/churn noise") {
    val t = freshTable("cow")
    t.append(fixture(1, 2))    // 1 — file A (will be untouched/carried)
    t.append(fixture(3, 4))    // 2 — file B (will be rewritten)
    t.delete(col("id") === 4)  // 3 — COW: carries A, rewrites B
    val got = changes(t.scanChanges(2L))
    // carried file A contributes nothing; survivor row 3 (copied into
    // the rewrite) cancels via multiset difference
    assert(got == Seq((ChangeDelete, 3L, 4)))
  }

  test("overwrite emits the exact row diff; rollback mirrors it") {
    val t = freshTable("ow")
    t.append(fixture(1, 2)) // 1
    t.overwrite(fixture(2, 9)) // 2: -1, +9 (2 is churn — cancels)
    assert(changes(t.scanChanges(1L)) == Seq(
      (ChangeDelete, 2L, 1), (ChangeInsert, 2L, 9)))
    t.rollbackTo(1L) // 3: inverse diff, metadata-only re-list
    assert(changes(t.scanChanges(2L)) == Seq(
      (ChangeDelete, 3L, 9), (ChangeInsert, 3L, 1)))
  }

  test("compaction and checkpoint folds are changelog no-ops") {
    val t = freshTable("fold", interval = 3)
    t.append(fixture(1)) // 1
    t.append(fixture(2)) // 2
    t.deleteEq("id", Seq(1)) // 3
    t.compact()          // 4 (replace) — materializes, retires deletes
    val app = t.append(fixture(3)) // (+ a checkpoint may fold in between)
    val got = changes(t.scanChanges(0L))
    assert(got == Seq(
      (ChangeDelete, 3L, 1),
      (ChangeInsert, 1L, 1), (ChangeInsert, 2L, 2),
      (ChangeInsert, app.snapshotId, 3)))
    // a window crossing ONLY the fold is empty
    assert(changes(t.scanChanges(3L, Some(4L))).isEmpty)
  }

  test("WAP-staged commits surface only when published") {
    val t = freshTable("wap")
    t.append(fixture(1))            // 1
    t.appendToBranch("audit", fixture(7)) // 2 — staged, not main
    assert(changes(t.scanChanges(0L)) == Seq((ChangeInsert, 1L, 1)))
    val pub = t.fastForward("audit") // publish
    assert(changes(t.scanChanges(1L)) ==
      Seq((ChangeInsert, pub.snapshotId, 7)))
  }

  test("keyed changelog pairs same-commit delete+insert into update images") {
    val t = freshTable("keyed")
    t.append(fixture(1, 2, 3)) // 1
    // overwrite: row 2 changes value (update), row 3 vanishes (delete),
    // row 4 appears (insert), row 1 carries unchanged (churn — cancels)
    t.overwrite(fixture(1).unionByName(
      Seq((2, "g2", 99.0)).toDF("id", "grp", "v")).unionByName(fixture(4))) // 2
    val got = t.scanChangesKeyed(Seq("id"), 1L)
      .select(col(LakehouseTable.ChangeTypeCol), col("id"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .toSeq.sorted
    assert(got == Seq(
      ("delete", 3, 4.5),
      ("insert", 4, 6.0),
      ("update_postimage", 2, 99.0),
      ("update_preimage", 2, 3.0)))
    // unpaired commits pass through: an eq-delete alone stays 'delete'
    t.deleteEq("id", Seq(4)) // 3
    assert(t.scanChangesKeyed(Seq("id"), 2L)
      .select(col(LakehouseTable.ChangeTypeCol)).collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    // ambiguous pairing (same key twice on one side of a commit) fails
    t.append(fixture(7).unionByName(fixture(7))) // 4: id 7 twice
    t.deleteEq("id", Seq(7))                      // 5
    t.append(fixture(7))                          // 6: re-insert
    val err = intercept[Exception] {
      // commit 5's delete retracts BOTH id-7 rows → two deletes, one key
      t.scanChangesKeyed(Seq("id"), 4L, Some(5L)).collect()
    }
    assert(err.getMessage.contains("ambiguous") ||
      Option(err.getCause).exists(_.getMessage.contains("ambiguous")))
    // unknown key column refuses
    intercept[IllegalArgumentException](t.scanChangesKeyed(Seq("nope"), 1L))
  }

  test("keyed changelog: null keys fall through unpaired, no spurious ambiguity") {
    val t = freshTable("keyednull")
    val sch = fixture(1).schema
    val nulls = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(1, null, 1.0),
      org.apache.spark.sql.Row(2, null, 2.0)), sch)
    t.append(nulls) // one commit, TWO null-keyed rows — must not trip
                    // the ambiguity guard (null keys never pair)
    val got = t.scanChangesKeyed(Seq("grp"), 0L)
      .select(col(LakehouseTable.ChangeTypeCol), col("id"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    assert(got == Seq(("insert", 1), ("insert", 2)))
  }

  test("keyed pairing refuses a change type other than insert or delete") {
    val t = freshTable("keyedtype")
    t.append(fixture(1, 2)) // 1
    val ok = t.scanChanges(0L)
    val cols = fixture(1).columns.toSeq
    assert(t.pairChanges(ok, Seq("id"), cols, "probe").count() == 2)
    // one row typed as an image the pairing itself emits: it must not
    // fold into the insert side (nor pass through when its key is null)
    val retyped = ok.withColumn(ChangeTypeCol,
      when(col("id") === 2, lit("update_preimage")).otherwise(col(ChangeTypeCol)))
    Seq(retyped, retyped.withColumn("id", lit(null).cast("int"))).foreach { bad =>
      val err = intercept[Exception](
        t.pairChanges(bad, Seq("id"), cols, "probe").collect())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).mkString("\n")
      assert(msgs.contains("probe: change type 'update_preimage'"), msgs)
    }
  }

  test("long append runs collapse into one stamped scan, ids exact") {
    val t = freshTable("runs")
    (1 to 12).foreach(i => t.append(fixture(i))) // >= 8: batched path
    t.deleteEq("id", Seq(3)) // 13 — run boundary + per-commit path
    (13 to 14).foreach(i => t.append(fixture(i))) // short run: per-commit
    val got = changes(t.scanChanges(0L))
    val exp = ((1 to 12).map(i => (ChangeInsert, i.toLong, i)) :+
      (ChangeDelete, 13L, 3)) ++
      (13 to 14).map(i => (ChangeInsert, i.toLong + 1L, i))
    assert(got == exp.sorted)
    // the lineage twin stamps commit ids and row ids from each file's
    // log position, under a warehouse path a URI would percent-encode
    val wh = Files.createTempDirectory("graft cl runs a=b").toString
    assert(wh.contains(" ") && wh.contains("="))
    val lt = LakehouseTable.create(new Snaplog(wh), spark, "ns", "linruns",
      fixture(1).schema, properties = Map(Snaplog.RowLineageProp -> "true"))
    (1 to 12).foreach(i => lt.append(fixture(i)))
    lt.deleteEq("id", Seq(3))
    (13 to 14).foreach(i => lt.append(fixture(i)))
    val lin = lt.scanChangesLineage(0L)
      .select(col(ChangeTypeCol), col(ChangeSnapshotCol), col("id"),
        col("_row_id"), col("_last_updated_sequence_number"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    // one row per append: row id = rows before it, sequence = its commit
    val linExp = ((1 to 12).map(i =>
        (ChangeInsert, i.toLong, i, i - 1L, i.toLong)) :+
      ((ChangeDelete, 13L, 3, 2L, 3L))) ++
      (13 to 14).map(i => (ChangeInsert, i + 1L, i, i - 1L, i + 1L))
    assert(lin == linExp.sorted, lin.toString)
  }

  test("changelog spanning a type widening emits consistently-wide rows") {
    // widening is metadata-only (no snapshot), so a window spanning it
    // replays narrow-written and wide-written files alike — the PINNED
    // contract: every leg reads with the CURRENT (wide) schema, so the
    // feed is uniformly wide, never a mixed-type union
    val cat = new Snaplog(Files.createTempDirectory("graft-cl-widen").toString)
    val narrow = Seq((1, "a", 10), (2, "b", 20)).toDF("id", "grp", "n")
    val t = LakehouseTable.create(cat, spark, "ns", "widen", narrow.schema)
    t.append(narrow)                       // 1: files carry int32 n
    t.widenColumn("n", org.apache.spark.sql.types.LongType)
    t.append(Seq((3L, "c", 3000000000L)    // 2: files carry int64 n
      ).toDF("id", "grp", "n")
      .withColumn("id", col("id").cast("int")))
    t.deleteEq("id", Seq(1))               // 3: deletes a NARROW-written row
    val ch = t.scanChanges(0L)
    // schema is uniformly wide, including the delete leg's preimage
    assert(ch.schema("n").dataType == org.apache.spark.sql.types.LongType)
    val got = ch.select(col(ChangeTypeCol), col(ChangeSnapshotCol),
        col("id"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == Seq(
      (ChangeDelete, 3L, 1, 10L),          // narrow preimage, emitted wide
      (ChangeInsert, 1L, 1, 10L), (ChangeInsert, 1L, 2, 20L),
      (ChangeInsert, 2L, 3, 3000000000L)).sorted)
    // keyed refinement across the widening works too (no pairing here,
    // just schema consistency through the full-outer pairing join)
    val keyed = t.scanChangesKeyed(Seq("id"), 0L)
    assert(keyed.schema("n").dataType == org.apache.spark.sql.types.LongType)
    assert(keyed.count() == 4)
  }

  test("changelog spanning inner-add and default-add reads current-schema rows") {
    // both evolutions are metadata-only (no snapshot), so a window
    // spanning them replays pre- and post-evolution files alike — the
    // PINNED contract mirrors the widening one: every leg reads with
    // the CURRENT schema, so pre-add rows emit the existence default
    // (not null) and a null struct leaf, and the delete leg's preimage
    // does too
    import org.apache.spark.sql.functions.struct
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val cat = new Snaplog(Files.createTempDirectory("graft-cl-evo").toString)
    val era1 = Seq((1, "a"), (2, "b")).toDF("id", "grp")
      .withColumn("p", struct(col("grp").as("t")))
    val t = LakehouseTable.create(cat, spark, "ns", "evo", era1.schema)
    t.append(era1)                               // 1: pre-evolution files
    t.addStructField("p.v", IntegerType)
    t.addColumn("seg", StringType, "'legacy'")
    t.append(Seq((3, "c")).toDF("id", "grp")     // 2: post-evolution files
      .withColumn("p", struct(col("grp").as("t"), lit(30).as("v")))
      .withColumn("seg", lit("hot")))
    t.deleteEq("id", Seq(1))                     // 3: deletes a PRE-add row
    val ch = t.scanChanges(0L)
    assert(ch.schema.fieldNames.contains("seg"))
    val got = ch.select(col(ChangeTypeCol), col(ChangeSnapshotCol),
        col("id"), col("seg"), col("p.v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getString(3), if (r.isNullAt(4)) -1 else r.getInt(4)))
      .toSeq.sorted
    assert(got == Seq(
      (ChangeDelete, 3L, 1, "legacy", -1),       // preimage fills the default
      (ChangeInsert, 1L, 1, "legacy", -1), (ChangeInsert, 1L, 2, "legacy", -1),
      (ChangeInsert, 2L, 3, "hot", 30)).sorted, got.toString)
    val keyed = t.scanChangesKeyed(Seq("id"), 0L)
    assert(keyed.schema.fieldNames.contains("seg") && keyed.count() == 4)
  }

  test("refusals: unknown snapshots and expired-away creation history") {
    val t = freshTable("refuse")
    t.append(fixture(1)) // 1
    t.append(fixture(2)) // 2
    intercept[IllegalArgumentException](t.scanChanges(42L))
    intercept[IllegalArgumentException](t.scanChanges(1L, Some(42L)))
    intercept[IllegalArgumentException](t.scanChanges(2L, Some(1L)))
    // expire early history → changelog-from-creation is unanswerable
    t.compact()          // 3 (replace) — the reset base expire requires
    t.append(fixture(3)) // 4
    t.catalog.expireSnapshots("ns", "refuse", keepLast = 2)
    val err = intercept[IllegalArgumentException](t.scanChanges(0L))
    assert(err.getMessage.contains("expired"))
    // ...but a retained-snapshot start still works
    assert(changes(t.scanChanges(3L)).map(_._3) == Seq(3))
  }

  // ---- lineage-stamped changelog (round 17, VERDICT r16 #3) --------------

  private def freshLineageTable(name: String): LakehouseTable = {
    val cat = new Snaplog(
      Files.createTempDirectory(s"graft-cl-$name").toString)
    LakehouseTable.create(cat, spark, "ns", name, fixture(1).schema,
      properties = Map(Snaplog.RowLineageProp -> "true"))
  }

  test("lineage changelog stamps durable row ids on every change row") {
    val t = freshLineageTable("lincl")
    t.append(fixture(1, 2, 3).repartition(1)
      .sortWithinPartitions("id"))   // 1: ids 0,1,2 by sort order
    t.deleteEq("id", Seq(2))         // 2: the dead row carries its id
    t.append(fixture(4))             // 3: fresh id 3
    val got = t.scanChangesLineage(0L)
      .select(col(ChangeTypeCol), col(ChangeSnapshotCol), col("id"),
        col("_row_id"), col("_last_updated_sequence_number"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    assert(got == Seq(
      (ChangeDelete, 2L, 2, 1L, 1L), // id it held, seq of its file
      (ChangeInsert, 1L, 1, 0L, 1L),
      (ChangeInsert, 1L, 2, 1L, 1L),
      (ChangeInsert, 1L, 3, 2L, 1L),
      (ChangeInsert, 3L, 4, 3L, 3L)), got.toString)
    // an empty window still answers the lineage-extended schema
    val empty = t.scanChangesLineage(3L)
    assert(empty.count() == 0 &&
      empty.columns.contains("_row_id") &&
      empty.columns.contains("_last_updated_sequence_number"))
    // a table without lineage refuses loudly instead of guessing
    val plain = freshTable("linclplain")
    plain.append(fixture(1))
    val e = intercept[IllegalArgumentException](
      plain.scanChangesLineage(0L).collect())
    assert(e.getMessage.contains("lineage"), e.getMessage)
  }

  test("lineage changelog: MOR vectors and overwrites carry/end identity correctly") {
    val t = freshLineageTable("linmor")
    t.append(fixture(1, 2, 3).repartition(1)
      .sortWithinPartitions("id"))      // 1: ids 0,1,2
    t.deleteMor(col("id") === 2)        // 2: position vector
    val mor = t.scanChangesLineage(1L)
      .select(col(ChangeTypeCol), col("id"), col("_row_id")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(mor == Seq((ChangeDelete, 2, 1L)),
      s"the vector-killed row carries the id it held: $mor")
    // overwrite ends EVERY identity — under v3 semantics rewritten-
    // verbatim content with fresh ids is delete+insert, the stream's
    // truth (the documented divergence from plain scanChanges)
    t.overwrite(fixture(1, 3).repartition(1).sortWithinPartitions("id")) // 3
    val ow = t.scanChangesLineage(2L)
      .select(col(ChangeTypeCol), col("id"), col("_row_id")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(ow.filter(_._1 == ChangeDelete).map(x => (x._2, x._3)).toSet ==
      Set((1, 0L), (3, 2L)), s"old identities end: $ow")
    val inserted = ow.filter(_._1 == ChangeInsert)
    assert(inserted.map(_._2).sorted == Seq(1, 3) &&
      inserted.forall(_._3 >= 3L),
      s"overwrite content re-enters under FRESH ids: $ow")
    // plain scanChanges keeps the content-diff view: the same window
    // shows NO changes for rows the overwrite kept verbatim
    assert(t.scanChanges(2L).count() == 0,
      "content-identical overwrite is a plain-changelog no-op")
  }

  test("row-id-keyed changelog pairs a MERGE's images by durable identity") {
    val t = freshLineageTable("linpair")
    t.append(fixture(1, 2, 3).repartition(1)
      .sortWithinPartitions("id"))   // 1: ids 0,1,2
    // MERGE update of id=2: ONE commit, postimage CARRIES the
    // preimage's _row_id — the pairing needs no key columns at all
    graft.pipeline.Upsert.upsertTable(t,
      fixture(2).withColumn("v", lit(99.9)), Seq("id")) // 2
    val keyed = t.scanChangesKeyedByRowId(1L)
      .select(col(ChangeTypeCol), col("id"), col("_row_id"),
        col("_last_updated_sequence_number"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .toSeq.sortBy(_._1)
    assert(keyed == Seq(
      ("update_postimage", 2, 1L, 2L, 99.9),
      ("update_preimage", 2, 1L, 1L, 3.0)), keyed.toString)
    // an unmatched-key MERGE row stays an unpaired insert with a fresh
    // id (the high-water mark advanced past snapshot 2's assignment)
    graft.pipeline.Upsert.upsertTable(t,
      fixture(5).repartition(1), Seq("id")) // 3: id 5 matches nothing
    val ins = t.scanChangesKeyedByRowId(2L)
      .select(col(ChangeTypeCol), col("id"), col("_row_id")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ins == Seq((ChangeInsert, 5, 4L)), ins.toString)
  }
}
