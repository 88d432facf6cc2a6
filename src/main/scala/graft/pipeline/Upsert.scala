package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Snapshot
import graft.table.LakehouseTable

/** MERGE / upsert semantics: "for duplicate keys, the new row overrides
  * the existing one" (reference `upsert.py:44-56` docstring; lazy twin
  * `upsert_parquet-lazy-polars.py:53-56` `group_by(key).agg(all().last())`).
  *
  * The reference's keep-"last" depends on pandas/Polars row order, which
  * has no Spark analogue (no stable row order in a distributed engine).
  * We preserve the semantics that matter — new-batch-beats-existing — and
  * make the within-batch tie deterministic via an explicit `tiebreak`
  * column (documented deviation, SURVEY.md §7.4).
  *
  * Formulation: the deduplicated batch lands as ONE merge-on-read
  * commit ([[LakehouseTable.mergeDelta]]) — the existing table is never
  * scanned, joined or rewritten, so the per-call cost is batch-sized.
  */
object Upsert {

  /** Deduplicate `incoming` to one row per key. With `tiebreak`, the row
    * with the highest tiebreak value wins (deterministic); without, an
    * arbitrary-but-single row per key via dropDuplicates. */
  def dedupIncoming(incoming: DataFrame, keys: Seq[String],
      tiebreak: Option[String] = None): DataFrame = tiebreak match {
    case Some(tb) =>
      val w = Window.partitionBy(keys.map(col): _*)
        .orderBy(col(tb).desc, monotonically_increasing_id())
      incoming.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    case None => incoming.dropDuplicates(keys)
  }

  /** Table-level upsert — DELTA-SIZED (merge-on-read): one commit
    * carrying an equality-delete file of the batch's keys plus the
    * batch's data files ([[LakehouseTable.mergeDelta]]). Pre-existing
    * data files are untouched (carried by path), so the per-call cost
    * is batch-sized — the property that makes this the streaming MERGE
    * sink at 100 TB, where the reference's `table.overwrite(merged)`
    * (`upsert.py:84`) would rewrite the table per micro-batch. Visible
    * content is identical to the overwrite form: new-batch-beats-
    * existing per key, null-keyed rows append without deleting.
    * Maintenance ([[LakehouseTable.compact]] / `rewriteDataFiles`)
    * materializes the accumulated key files on the usual cadence. */
  def upsertTable(table: LakehouseTable, incoming: DataFrame,
      keys: Seq[String], tiebreak: Option[String] = None,
      summary: Map[String, String] = Map.empty): Snapshot =
    table.mergeDelta(keys, dedupIncoming(incoming, keys, tiebreak),
      summary = summary)

  /** CDC apply — MERGE with a delete clause: `changes` carries `opCol`
    * where 'D' rows delete their key and every other op (including a
    * null op, treated as upsert) upserts its row (the Delta
    * `whenMatchedDelete` / Iceberg `MERGE … WHEN MATCHED THEN DELETE`
    * shape, and the natural sink for a CDC feed). The whole feed lands
    * in ONE delta-sized commit, so readers see the change set
    * atomically and the per-call cost is feed-sized, never table-sized.
    *
    * Per-key op ordering: the WINNING row per key (highest `tiebreak`)
    * decides the outcome — a key whose latest op is 'D' is deleted even
    * if the same feed carries earlier upserts for it, and vice versa.
    * Without a tiebreak the winner among conflicting ops for one key is
    * arbitrary-but-single (same caveat as [[dedupIncoming]]) — feeds
    * with per-key op sequences should always pass a tiebreak.
    *
    * Scale contract: one feed-sized shuffle (the winner resolution) and
    * one delete-key file write; the existing table is never scanned,
    * joined, or rewritten. */
  def applyChanges(table: LakehouseTable, changes: DataFrame,
      keys: Seq[String], opCol: String = "op",
      tiebreak: Option[String] = None): Snapshot = {
    // Resolve the winner per key FIRST, over all ops — then the winner's
    // op decides delete vs upsert. Filtering 'D' before the dedup would
    // resurrect keys whose final op is a delete.
    // winners feeds BOTH mergeDelta inputs (upsert rows + delete keys)
    // — persist so the dedup shuffle runs once per batch, not per feed
    val winners = dedupIncoming(changes, keys, tiebreak)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val isDelete = coalesce(col(opCol) === "D", lit(false))
      // delta-sized: upserted keys delete their old row via mergeDelta's
      // own key feed; delete-winner keys ride as extra delete-only keys —
      // ONE commit, batch-sized, no table scan or rewrite
      // cacheFeed=false: both feeds read through the winners cache
      // above — a second cache layer inside mergeDelta would double
      // the batch's storage footprint for no saved computation
      table.mergeDelta(keys, winners.filter(!isDelete),
        extraDeleteKeys = Some(
          winners.filter(isDelete).select(keys.map(col): _*)),
        cacheFeed = false)
    } finally winners.unpersist(false)
  }
}
