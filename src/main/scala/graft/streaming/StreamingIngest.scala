package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.Upsert
import graft.table.LakehouseTable

/** Event row consumed by [[StreamingIngest.sessionizeStream]]. */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, ts_ns: Long,
    event_id: Long)

/** Per-user state: events buffered until the session horizon passes.
  * Bounded by the watermark — state for a user exists only while the
  * watermark is within gap+delay of their last event. */
case class SessBuffer(tsNs: Seq[Long], eventIds: Seq[Long])

/** One closed session emitted on event-time timeout. */
case class SessionRow(user_id: Long, session_seq: Int, n_events: Long,
    start_ns: Long, end_ns: Long)

/** Structured-Streaming front door for the lakehouse (SURVEY.md §2.9:
  * the reference's incremental append snapshots re-expressed as a real
  * stream): `readStream` over a parquet drop directory, then either
  *
  *  - [[upsertEachBatch]] — `foreachBatch` MERGE into a Snaplog table:
  *    every micro-batch becomes one upsert commit (exactly the
  *    reference's append-per-batch snapshot cadence, but with
  *    keyed-dedup semantics instead of blind append), or
  *  - [[windowedCounts]] — watermarked tumbling-window aggregation, the
  *    canonical stateful-streaming shape.
  *
  * Scale notes: parquet-dir streaming scales by file listing only
  * (maxFilesPerTrigger bounds batch size); the foreachBatch upsert
  * inherits the anti-join MERGE's single key shuffle per batch;
  * watermark bounds window state so long-running jobs don't grow
  * unboundedly.
  */
object StreamingIngest {

  /** Shuffle partitions while a STATEFUL streaming query plans+runs.
    * The state-store instance count is shuffle.partitions × (stores per
    * stateful operator) and each instance pays per-micro-batch snapshot
    * and maintenance I/O — pure fixed overhead when micro-batches are
    * small. The value is captured into the query's checkpoint at start,
    * so it scopes to the streaming query only; batch plans before/after
    * keep the session's setting. Production jobs with real per-batch
    * volume would size this like any shuffle (state shards ≈ cores). */
  val StreamStatePartitions: Int =
    sys.env.getOrElse("GRAFT_STREAM_STATE_PARTITIONS", "8").toInt

  def withStreamShufflePartitions[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, StreamStatePartitions.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Stream a parquet directory as micro-batches. */
  def readParquetStream(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Commit-summary key carrying the micro-batch id of a streaming
    * upsert — the exactly-once handshake between the Spark checkpoint
    * and the table log. */
  val StreamBatchKey: String = graft.catalog.Snaplog.StreamBatchKey

  /** foreachBatch MERGE: each micro-batch upserts into `table` keyed by
    * `keys`. Runs the stream to completion of currently-available input
    * (synchronous — callers control the lifecycle for long-lived jobs).
    * Returns the number of micro-batches committed.
    *
    * Exactly-once: foreachBatch is at-least-once (a crash between sink
    * commit and checkpoint advance replays the batch), so every commit
    * records its batchId in the snapshot summary and a batch whose id
    * is ≤ the highest committed id is skipped — the standard idempotent-
    * sink pattern for transactional targets (Delta/Iceberg
    * txnAppId/txnVersion). That pattern is only sound when batchIds are
    * monotonic across invocations, i.e. when they come from ONE durable
    * checkpoint: pass `checkpointLocation` for any stream that may be
    * re-invoked over the same table. Without a checkpoint every
    * invocation restarts at batchId 0, so the summary key is scoped by
    * a fresh per-run id instead — replay protection within the run,
    * never a cross-run skip (which would silently drop new data).
    *
    * Maintenance cadence: each micro-batch lands as a delta-sized
    * merge-on-read commit ([[LakehouseTable.mergeDelta]]) carrying one
    * equality-delete key file and, on a partitioned table, one data
    * file per partition value the batch touches (hash-clustered unless
    * the table sets `write.distribution-mode`), so the files every read
    * and consolidation opens grow by that count per trigger, not by
    * write tasks × values. Scans read every OUTSTANDING key file (one
    * key scan and one broadcast join per key-column set) besides the
    * data files — so a long-running sink should consolidate
    * periodically. `consolidateAfterDeletes = N` (0 = off)
    * compacts the table whenever the outstanding delete-entry count
    * reaches N: the rewrite materializes every subtraction, retires
    * the key files, and resets the replay window, bounding the key
    * files a read scans to N at any stream length. Compaction is a
    * `replace` (content no-op for the changelog), but like any reset
    * commit it breaks OTHER streams tailing this table — size N to
    * your read topology (Iceberg streaming upserts carry the same
    * compact-vs-tail tension).
    *
    * `mergeSchema = true` runs [[LakehouseTable.evolveToMatch]] on each
    * micro-batch before the upsert (Delta's streaming mergeSchema): a
    * months-long ingest whose upstream sprouts columns keeps flowing —
    * additive drift only, every evolution gate still armed. Note the
    * STREAM's own analyzed schema is fixed at start; this evolves the
    * SINK table for batches the source already delivers wider. */
  def upsertEachBatch(stream: DataFrame, table: LakehouseTable,
      keys: Seq[String], checkpointLocation: Option[String] = None,
      consolidateAfterDeletes: Int = 0,
      mergeSchema: Boolean = false): Long = {
    var batches = 0L
    val batchKey = checkpointLocation match {
      case Some(_) => StreamBatchKey
      case None => s"$StreamBatchKey-run-${java.util.UUID.randomUUID().toString.take(8)}"
    }
    // explicit function value avoids the Scala/Java foreachBatch
    // overload ambiguity
    val perBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val applied = table.maxSummaryValue(batchKey)
      if (!batch.isEmpty && !applied.exists(_ >= batchId)) {
        if (mergeSchema) table.evolveToMatch(batch.schema)
        Upsert.upsertTable(table, batch, keys,
          summary = Map(batchKey -> batchId.toString))
        batches += 1
        if (consolidateAfterDeletes > 0 &&
            table.catalog.liveDeleteFiles(table.namespace, table.name).size
              >= consolidateAfterDeletes)
          table.compact()
      }
    }
    var writer = stream.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch(perBatch)
    checkpointLocation.foreach(loc => writer = writer.option("checkpointLocation", loc))
    val q = writer.start()
    q.processAllAvailable()
    q.stop()
    batches
  }

  /** Watermarked streaming deduplication: `dropDuplicates` on the key
    * columns with dedup state bounded by the event-time watermark (the
    * standard exactly-once ingest guard in front of an append sink).
    * Emits the deduplicated rows to the memory sink (append mode — a
    * single stateful operator, so every surviving row is emitted
    * deterministically for a static input) and returns them. */
  def dedupStream(spark: SparkSession, stream: DataFrame, tsCol: String,
      keys: Seq[String], watermark: String, queryName: String): DataFrame = {
    val deduped = stream
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)
    withStreamShufflePartitions(spark) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(queryName)
  }

  /** Gap-based sessionization as a CUSTOM STATEFUL streaming operator
    * (`flatMapGroupsWithState` + event-time timeout — SURVEY.md §2.9
    * extension beyond the built-in window/dedup shapes): events buffer
    * per user; when the watermark passes a user's last event + gap, the
    * buffer is sorted (ts, event_id — the same total order as the batch
    * oracle), split at gaps > `gapNs`, and the closed sessions are
    * emitted append-only.
    *
    * Determinism contract: state flushes are driven ONLY by the final
    * watermark, so for a static input the output equals the batch
    * sessionization regardless of how files batch into triggers. The
    * caller advances the watermark past every real session (sentinel
    * event) so no session is left open; a sentinel user's own state is
    * simply never emitted. Buffering is bounded by the watermark
    * horizon — the standard production design for out-of-order session
    * assembly (incremental merge would trade exactness under
    * re-ordering for memory; not needed while horizon ≪ corpus). */
  def sessionizeStream(spark: SparkSession, stream: DataFrame, tsCol: String,
      gapNs: Long, watermark: String, queryName: String): DataFrame = {
    import spark.implicits._
    // the watermarked column must survive into the stateful operator
    // (selecting it away would strip the event-time watermark the
    // timeout relies on)
    val typed = stream
      .withWatermark(tsCol, watermark)
      .select(col("user_id"), col(tsCol).as("ts"), col("ts_ns"), col("event_id"))
      .as[SessEvent]
    val sessions = typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuffer, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessEvent], state: GroupState[SessBuffer]) =>
          if (state.hasTimedOut) {
            val buf = state.get
            state.remove()
            val evs = buf.tsNs.zip(buf.eventIds).sorted
            var seq = 0
            var out = List.empty[SessionRow]
            var start = 0
            var i = 1
            while (i <= evs.length) {
              if (i == evs.length || evs(i)._1 - evs(i - 1)._1 > gapNs) {
                seq += 1
                out ::= SessionRow(user, seq, (i - start).toLong,
                  evs(start)._1, evs(i - 1)._1)
                start = i
              }
              i += 1
            }
            out.reverseIterator
          } else {
            val prev = state.getOption.getOrElse(SessBuffer(Nil, Nil))
            val add = it.toSeq
            val buf = SessBuffer(prev.tsNs ++ add.map(_.ts_ns),
              prev.eventIds ++ add.map(_.event_id))
            state.update(buf)
            // fire once the watermark is past this user's session horizon
            state.setTimeoutTimestamp(buf.tsNs.max / 1000000L + gapNs / 1000000L + 1L)
            Iterator.empty
          }
      }
    withStreamShufflePartitions(spark) {
      val q = sessions.toDF().writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(queryName)
  }

  /** Watermarked STREAM–STREAM interval join (the last of the stateful
    * §2.9 shapes): both sides buffer in join state bounded by their
    * watermarks plus the interval condition — Spark derives how long a
    * row can still find a partner and evicts it after. For a static
    * input set the inner join drains to exactly the batch interval-join
    * answer (watermarks only bound STATE, never drop inner-join
    * results). `condition` must relate the two event-time columns with
    * a bounded interval or state grows unboundedly. */
  def intervalJoinStreams(left: DataFrame, leftTsCol: String,
      right: DataFrame, rightTsCol: String, condition: String,
      watermark: String, queryName: String,
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermark)
    val r = right.withWatermark(rightTsCol, watermark)
    val joined = l.join(r, expr(condition), joinType)
    withStreamShufflePartitions(joined.sparkSession) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    joined.sparkSession.table(queryName)
  }

  /** Watermarked tumbling-window counts per key column — the stateful
    * aggregation shape. Materializes currently-available input through
    * the memory sink and returns the result (deterministic for a static
    * input set: equals the batch aggregation). */
  def windowedCounts(spark: SparkSession, stream: DataFrame, tsCol: String,
      keyCol: String, windowLen: String, watermark: String,
      queryName: String): DataFrame = {
    val agg = stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
    withStreamShufflePartitions(spark) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(queryName)
  }
}
