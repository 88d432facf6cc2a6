package graft

import java.nio.file.Files

import graft.catalog.Snaplog
import graft.streaming.StreamingIngest
import graft.table.LakehouseTable

/** Streaming sink semantics not covered by the driver's oracle queries:
  * foreachBatch is at-least-once, so the upsert sink must recognize and
  * skip replayed micro-batches — but ONLY batches replayed from one
  * durable checkpoint. A re-invocation without a checkpoint restarts
  * batch ids at 0, so its batches must never be skipped against a stale
  * high-water mark (that would silently drop newly-landed files). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("checkpointed upsert sink applies only the delta on re-invocation") {
    val drop = Files.createTempDirectory("graft-stream-drop").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "k", "v")
    df.filter($"id" <= 2).coalesce(1).write.mode("append").parquet(drop)
    df.filter($"id" === 3).coalesce(1).write.mode("append").parquet(drop)
    val cat = new Snaplog(Files.createTempDirectory("graft-stream-wh").toString)
    val table = LakehouseTable.create(cat, spark, "ns", "t", df.schema)
    def run(): Long = StreamingIngest.upsertEachBatch(
      StreamingIngest.readParquetStream(spark, drop, df.schema,
        maxFilesPerTrigger = 1),
      table, Seq("id"), checkpointLocation = Some(ckpt))

    assert(run() == 2L) // two files, one batch each
    assert(table.maxSummaryValue(StreamingIngest.StreamBatchKey).contains(1L))

    // same checkpoint, no new files: nothing re-processes
    assert(run() == 0L)
    assert(table.scan().count() == 3)

    // a NEW file lands; the checkpoint makes its batch id monotonic
    // (2 > high-water 1) so exactly the delta applies
    Seq((4L, "d", 40.0), (1L, "a2", 11.0)).toDF("id", "k", "v")
      .coalesce(1).write.mode("append").parquet(drop)
    assert(run() == 1L)
    assert(table.maxSummaryValue(StreamingIngest.StreamBatchKey).contains(2L))
    val got = table.scan().orderBy("id").collect()
    assert(got.length == 4)
    assert(got.head.getAs[String]("k") == "a2") // id 1 upserted by the delta
  }

  test("mergeSchema evolves the sink table across drifting stream runs") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.LongType
    val drop = Files.createTempDirectory("graft-stream-drop-ms").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt-ms").toString
    val eraA = Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "k", "score")
    eraA.coalesce(1).write.mode("append").parquet(drop)
    val cat = new Snaplog(Files.createTempDirectory("graft-stream-wh-ms").toString)
    val table = LakehouseTable.create(cat, spark, "ns", "ms", eraA.schema)
    def run(schema: org.apache.spark.sql.types.StructType): Long =
      StreamingIngest.upsertEachBatch(
        StreamingIngest.readParquetStream(spark, drop, schema,
          maxFilesPerTrigger = 1),
        table, Seq("id"), checkpointLocation = Some(ckpt), mergeSchema = true)
    assert(run(eraA.schema) == 1L)
    assert(table.schema.fieldNames.toSeq == Seq("id", "k", "score"),
      "identical schema must evolve nothing")
    // the upstream drifts: score widens to long, a lang column appears;
    // the RESUMED run reads the drop wider and the sink evolves to match
    val eraB = Seq((2L, "b2", 3000000000L, "en"), (3L, "c", 30L, "xx"))
      .toDF("id", "k", "score", "lang")
    eraB.coalesce(1).write.mode("append").parquet(drop)
    assert(run(eraB.schema) == 1L)
    assert(table.schema("score").dataType == LongType)
    assert(table.schema.fieldNames.contains("lang"))
    val got = table.scan().select("id", "k", "score", "lang").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) "-" else r.getString(3))).toSeq
    assert(got == Seq((1L, "a", 10L, "-"), (2L, "b2", 3000000000L, "en"),
      (3L, "c", 30L, "xx")))
    // resume with nothing new: no batch, no evolution, content stable
    assert(run(eraB.schema) == 0L)
    assert(table.scan().count() == 3)
    assert(table.scan().filter(col("lang").isNull).count() == 1)
  }

  test("consolidateAfterDeletes bounds outstanding key files and keeps resume exact") {
    val drop = Files.createTempDirectory("graft-stream-drop3").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt3").toString
    val df = Seq((1L, "a", 10.0)).toDF("id", "k", "v")
    (1 to 4).foreach(i =>
      Seq((i.toLong, s"v$i", i * 10.0), (1L, s"patch$i", 1.0 + i))
        .toDF("id", "k", "v").coalesce(1).write.mode("append").parquet(drop))
    val cat = new Snaplog(Files.createTempDirectory("graft-stream-wh3").toString)
    val table = LakehouseTable.create(cat, spark, "ns", "t", df.schema)
    def run(): Long = StreamingIngest.upsertEachBatch(
      StreamingIngest.readParquetStream(spark, drop, df.schema,
        maxFilesPerTrigger = 1),
      table, Seq("id"), checkpointLocation = Some(ckpt),
      consolidateAfterDeletes = 2)
    assert(run() == 4L)
    // every time the outstanding key-file count hit 2, a compact
    // retired them — the read-side anti-join depth stays bounded
    // (< 2 outstanding after the final consolidation check)
    assert(cat.liveDeleteFiles("ns", "t").size < 2,
      s"outstanding deletes: ${cat.liveDeleteFiles("ns", "t").size}")
    assert(cat.snapshots("ns", "t")
      .exists(_.operation == graft.catalog.Snaplog.OpReplace))
    // content exact: one row per key; id 1 carries the LAST-applied
    // patch (batch order between same-mtime files is not pinned, so
    // assert the patch family, not a specific batch)
    val got = table.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(got.head._2.startsWith("patch"))
    assert(got.tail == Seq((2L, "v2"), (3L, "v3"), (4L, "v4")))
    // exactly-once across the mid-stream resets: the batch high-water
    // mark survives compaction and a re-run applies nothing
    assert(run() == 0L)
    assert(table.scan().count() == 4)
  }

  test("checkpoint file checksums on: a stateful upsert stream lands the same table") {
    // every engine session runs with checkpoint checksums OFF
    // (EngineDefaults.confs); this runs the same stream with them ON.
    // The dedup keeps streaming state, so each micro-batch commits
    // state-store files — the files the checksums cover.
    val drop = Files.createTempDirectory("graft-stream-drop-ck").toString
    // keys disjoint across files plus one cross-file duplicate: the
    // result is the same in either file order
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
      .coalesce(1).write.mode("append").parquet(drop)
    Seq((3L, "c", 30.0), (2L, "b", 20.0)).toDF("id", "k", "v")
      .coalesce(1).write.mode("append").parquet(drop)
    def run(s: org.apache.spark.sql.SparkSession) = {
      val ckpt = Files.createTempDirectory("graft-stream-ckpt-ck")
      val cat = new Snaplog(Files.createTempDirectory("graft-stream-wh-ck").toString)
      val schema = spark.read.parquet(drop).schema
      val table = LakehouseTable.create(cat, s, "ns", "t", schema)
      val stream = StreamingIngest.readParquetStream(s, drop, schema,
        maxFilesPerTrigger = 1).dropDuplicates("id", "k", "v")
      assert(StreamingIngest.upsertEachBatch(stream, table, Seq("id"),
        checkpointLocation = Some(ckpt.toString)) == 2L)
      val rows = table.scan().orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      // Spark's checkpoint checksum files end in .crc; Hadoop's local
      // file system also writes hidden ".name.crc" files — skip those
      val checksums = graft.util.Fs.walkList(ckpt).map(_.getFileName.toString)
        .filter(n => n.endsWith(".crc") && !n.startsWith("."))
      (rows, checksums)
    }
    val checked = spark.newSession()
    checked.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "true")
    val (plain, plainSums) = run(spark)
    val (withSums, sums) = run(checked)
    assert(plain == Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    assert(withSums == plain)
    assert(plainSums.isEmpty, plainSums)
    assert(sums.nonEmpty, "the checksum-enabled run must write checksum files")
  }

  test("uncheckpointed re-invocation never skips new data against a stale mark") {
    val drop = Files.createTempDirectory("graft-stream-drop2").toString
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "k", "v")
    df.filter($"id" <= 2).coalesce(1).write.mode("append").parquet(drop)
    df.filter($"id" === 3).coalesce(1).write.mode("append").parquet(drop)
    val cat = new Snaplog(Files.createTempDirectory("graft-stream-wh2").toString)
    val table = LakehouseTable.create(cat, spark, "ns", "t", df.schema)
    def run(): Long = StreamingIngest.upsertEachBatch(
      StreamingIngest.readParquetStream(spark, drop, df.schema,
        maxFilesPerTrigger = 1),
      table, Seq("id"))

    assert(run() == 2L)
    assert(table.scan().count() == 3)

    // new file lands; with no checkpoint the whole directory replays
    // from batch 0 under a FRESH run-scoped key — the old run's mark
    // must not suppress it. Replays re-apply idempotently; the new
    // file's rows land.
    Seq((4L, "d", 40.0)).toDF("id", "k", "v")
      .coalesce(1).write.mode("append").parquet(drop)
    assert(run() == 3L)
    assert(table.scan().count() == 4)
    assert(table.scan().orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }
}
