package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{Catalog, DataFileEntry, Snaplog, Snapshot, TableMetadata}
import graft.types.SchemaInfer

/** Facade over one Snaplog table — the analogue of PyIceberg's `Table`
  * object as the reference uses it (load → scan/append/overwrite/
  * add_files/history, SURVEY.md §2.1 S9, S15–S21).
  *
  * Scale design notes:
  *  - `scan` builds the file list from the snapshot log (with optional
  *    metadata partition pruning) BEFORE handing Spark the scan, and
  *    passes the table schema explicitly — no directory listing, no
  *    footer-merge job at plan time. Catalyst still gets predicate
  *    pushdown / column pruning / row-group skipping on the files.
  *  - writes go through `partitionBy` on a mirrored layout column
  *    (`__p_<col>`) so the partition value ALSO stays in the data file:
  *    readers never depend on dir-name inference, and explicit-file-list
  *    scans keep the column without basePath gymnastics.
  *  - commits are one log line each; a transactional multi-append is a
  *    single union + single write job + ONE commit (reference
  *    `main-polars.py:165-186`).
  */
final class LakehouseTable(
    val catalog: Catalog,
    val spark: SparkSession,
    val namespace: String,
    val name: String) {

  import LakehouseTable.{ChangeTypeCol, ChangeSnapshotCol,
    ChangeTimestampCol, ChangeInsert, ChangeDelete}

  def meta: TableMetadata = catalog.loadTable(namespace, name)
  def schema: StructType = meta.schema
  def partitionColumns: Seq[String] = meta.partitionColumns

  private def layoutCol(c: String) = FileStats.layoutCol(c)

  // ---- read path --------------------------------------------------------

  /** Current (or time-travel) snapshot as a DataFrame.
    *
    * @param asOf snapshot id for time travel (reference `table.history()`
    *             enumeration, `read_history.py:7-11`)
    * @param partitionFilter identity-partition equality pruning done on
    *             log metadata — files from other partitions are never
    *             given to Spark at all.
    * @param rangeFilter per-column [lo, hi] file skipping, judged by the
    *             same pruner ([[FilePrune.keep]]) a filter on the
    *             returned frame runs inside the log's file index; it
    *             prunes files only and filters no row.
    */
  def scan(
      asOf: Option[Long] = None,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (Option[Double], Option[Double])] = Map.empty)
      : DataFrame = {
    // ONE replay yields data files, position vectors AND the replay
    // order equality deletes key off; metadata pruning applies to the
    // data entries without disturbing the sequence
    val ordered = catalog.liveEntriesOrdered(namespace, name, asOf)
    val m = meta
    residualPartitionFilter(
      assembleOrdered(ordered, dataKeep(m, partitionFilter, rangeFilter),
        scope = pruneScope(m)),
      ordered, partitionFilter)
  }

  /** Iceberg v3 ROW LINEAGE read surface: the table's current content
    * plus `_row_id` and `_last_updated_sequence_number`, per the v3
    * spec's virtual-column semantics — `_row_id` = the file's assigned
    * `first_row_id` + the row's position in the file, stable under
    * outstanding deletes (a position vector or equality delete removes
    * rows WITHOUT renumbering survivors, exactly what the
    * MOR-subtracted assembly preserves: `__scan_pos` is the original
    * file position); `_last_updated_sequence_number` = the data file's
    * sequence number, except for rows whose file materializes the
    * column physically (rewrites carry the old value; a MERGE update's
    * rows read the merge commit's sequence — the v3 bump — while their
    * `_row_id` is the CARRIED physical value, see [[carryMergeRowIds]]).
    *
    * Lineage exists on files adopted from a v3 row-lineage tree
    * ([[graft.interop.IcebergImport]] assigns per the spec's
    * inheritance model at register and carries it through refresh) and
    * on NATIVE tables under [[graft.catalog.Snaplog.RowLineageProp]]
    * (round 16 — every commit assigns; [[enableRowLineage]] backfills
    * a live table). Files without an assignment refuse loudly rather
    * than serve guessed ids. Rewrites PRESERVE identity the way the v3
    * spec's writers do: a compaction of a row-lineage table
    * MATERIALIZES `_row_id`/`_last_updated_sequence_number` into the
    * rewritten files (reserved field ids), and the read coalesces the
    * physical column first — so ids are stable under append, delete,
    * upsert AND compact/rewrite. Scale: the per-file (first_row_id,
    * seq) map is file-count-sized and broadcast; the row-id arithmetic
    * is a codegen'd column expression on the scan; the physical-column
    * read adds two long columns on rewritten files only (absent
    * columns null-fill for free). */
  def scanLineage(asOf: Option[Long] = None): DataFrame =
    lineageFrame(catalog.liveEntriesOrdered(namespace, name, asOf), _ => true)

  /** The extended read schema every lineage read requests: the table's
    * read schema plus the two MATERIALIZED lineage columns under the
    * v3 spec's reserved field ids — present in rewritten/merge files,
    * null-filled for plain ones; per-row precedence is physical-first
    * (the spec's rule), realized by the callers' coalesce. */
  private def lineageReadSchema: StructType = {
    import graft.types.FieldIds.{RowIdCol, LastUpdatedCol}
    def rmd(id: Long) = new MetadataBuilder()
      .putLong(graft.types.FieldIds.MetaKey, id).build()
    StructType(readSchema.fields ++ Seq(
      StructField(RowIdCol, LongType, nullable = true,
        rmd(graft.types.FieldIds.RowIdFieldId)),
      StructField(LastUpdatedCol, LongType, nullable = true,
        rmd(graft.types.FieldIds.LastUpdatedFieldId))))
  }

  /** [[scanLineage]] over the entries `keep` selects — also the
    * content source a row-lineage REWRITE materializes from, and (with
    * `retainMeta`) the lineage-stamped assembly the changelog's
    * position-delete emission joins against. A scanned file's
    * assignment (`firstRowId`, `dataSeq`) is looked up by its index in
    * `ordered` (`__scan_seq`, [[EqDeletes.visible]]), never by path. */
  private def lineageFrame(ordered: Seq[DataFileEntry],
      keep: DataFileEntry => Boolean,
      retainMeta: Boolean = false): DataFrame = {
    import spark.implicits._
    import graft.types.FieldIds.{RowIdCol, LastUpdatedCol}
    val data = ordered.zipWithIndex.filter { case (e, _) =>
      !e.deleteFile.contains(true) && keep(e) }
    if (data.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(schema.fields ++ Seq(
          StructField(RowIdCol, LongType, nullable = false),
          StructField(LastUpdatedCol, LongType, nullable = false)) ++
          (if (retainMeta) Seq(
            StructField("__scan_seq", LongType, nullable = true),
            StructField("__scan_pos", LongType, nullable = true))
          else Seq.empty)))
    requireLineage(data.map(_._1))
    // the read requests the MATERIALIZED lineage columns too
    // ([[lineageReadSchema]]) — the coalesce below prefers the physical
    // value per row, exactly the spec's precedence. Those columns ride
    // reserved FIELD IDS; a session with field-id reads enabled would
    // refuse files carrying no ids at all (foreign add_files / REST
    // commits on a never-evolved table) instead of name-matching and
    // null-filling — set the spec-intended relaxation (sticky session
    // conf, the same pattern readSchema uses for ReadConf; safe — see
    // [[graft.types.FieldIds.ReadIgnoreMissingConf]]).
    spark.conf.set(graft.types.FieldIds.ReadIgnoreMissingConf, "true")
    val base = assembleOrdered(ordered, keep, retainMeta = true,
      schemaOverride = Some(lineageReadSchema))
    val assigned = data.collect { case (e, i) if !e.lineageInFile.contains(true) =>
      (i.toLong, e.firstRowId.get, e.dataSeq.get) }
    val withLookup =
      if (assigned.isEmpty)
        base.withColumn("__ln_first", lit(null).cast("long"))
          .withColumn("__ln_seq", lit(null).cast("long"))
      else base.join(broadcast(assigned.toDF("__ln_idx", "__ln_first", "__ln_seq")),
          col("__scan_seq") === col("__ln_idx"), "left")
        .drop("__ln_idx")
    val stamped = withLookup
      .withColumn(RowIdCol, coalesce(col(RowIdCol),
        col("__ln_first") + col("__scan_pos"),
        raise_error(lit("row lineage: a scanned row has no assignment " +
          s"and no materialized $RowIdCol"))))
      .withColumn(LastUpdatedCol,
        coalesce(col(LastUpdatedCol), col("__ln_seq")))
      .drop("__ln_first", "__ln_seq")
    if (retainMeta) stamped else stamped.drop("__scan_seq", "__scan_pos")
  }

  /** Every data file in `data` must carry a row-lineage assignment or
    * materialize the lineage columns itself. */
  private def requireLineage(data: Seq[DataFileEntry]): Unit = {
    val missing = data.filter(e => !e.lineageInFile.contains(true) &&
      (e.firstRowId.isEmpty || e.dataSeq.isEmpty))
    require(missing.isEmpty,
      s"$namespace.$name: ${missing.size} data file(s) carry no row-lineage " +
        "assignment — _row_id/_last_updated_sequence_number serve on " +
        "tables adopted from an Iceberg v3 row-lineage tree and on native " +
        "tables with row lineage enabled (enableRowLineage(), or the " +
        "graft.row-lineage property at creation); scan() serves the " +
        "content without lineage")
  }

  /** Keep `scan(partitionFilter)` EXACT across partition evolution:
    * metadata pruning keeps any file that records no value for a
    * filtered field (it predates the spec — pruning must stay
    * conservative), so when coverage is incomplete the filter is
    * re-applied row-level. Identity fields (and plain schema columns)
    * re-check against the column's text form — the same external form
    * the layout recorded; a non-identity transform field cannot be
    * re-derived per row here, so incomplete coverage refuses loudly
    * with compact-first guidance. Uniformly-covered tables (the
    * overwhelmingly common case) skip this entirely. */
  private def residualPartitionFilter(df: DataFrame,
      ordered: Seq[DataFileEntry],
      partitionFilter: Map[String, String]): DataFrame = {
    if (partitionFilter.isEmpty) return df
    val dataFiles = ordered.filterNot(_.deleteFile.contains(true))
    val uncovered = partitionFilter.keys.toSeq.filterNot(k =>
      dataFiles.forall(_.partitionValues.contains(k)))
    if (uncovered.isEmpty) return df
    val partFields = PartitionTransforms.parseAll(meta.partitionColumns)
    // the re-check compares col.cast("string") against the stored
    // directory/external text — exact only for types whose cast-to-
    // string IS that external form (timestamps render '…12:34:56.0' vs
    // dir '…12:34:56'; floats have formatting drift). Same type set
    // overwritePartitions trusts for attribution.
    def textRoundTrips(c: String): Boolean =
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType).exists {
        case StringType | IntegerType | LongType | ShortType | ByteType |
             DateType | BooleanType => true
        case _ => false
      }
    uncovered.foldLeft(df) { (d, k) =>
      val sourceCol = partFields.find(_.fieldName.equalsIgnoreCase(k)) match {
        case Some(IdentityField(c)) => Some(c)
        case Some(_) => None // transform field: not row-re-checkable
        case None => schema.fieldNames.find(_.equalsIgnoreCase(k))
      }
      val c = sourceCol.filter(textRoundTrips).getOrElse(
        throw new IllegalArgumentException(
          s"partition filter on '$k' is not decidable for every live file " +
            "(partition evolution left files without a recorded value, and " +
            "the field is not re-checkable row-level — a transform field, or " +
            "a type whose text form differs from the stored layout value) — " +
            "compact() to rewrite under the current spec, or filter the " +
            "transform's source column"))
      val v = partitionFilter(k)
      if (v == Snaplog.HiveDefaultPartition) d.filter(col(c).isNull)
      else d.filter(col(c).cast("string") === v)
    }
  }

  /** The schema scans request — after a rename/drop the stored schema
    * carries field ids, and the session must resolve columns BY ID
    * (Spark's fieldId read conf; a no-op for id-free schemas). */
  private def readSchema: StructType = {
    val s = schema
    if (graft.types.FieldIds.hasIds(s))
      spark.conf.set(graft.types.FieldIds.ReadConf, "true")
    val props = meta.properties
    // an interior-renamed table resolves list/map interior members BY
    // ID: the read schema carries the interior ids (the one case the
    // "never attach interiors to read schemas" rule inverts — see
    // FieldIds.InteriorByIdProp) and the scan runs on [[readSession]]
    if (props.get(graft.types.FieldIds.InteriorByIdProp).contains("true"))
      graft.types.FieldIds.attachInterior(s,
        props.get(graft.types.FieldIds.InteriorProp)
          .map(graft.types.FieldIds.decode).getOrElse(Map.empty))
    else s
  }

  /** Is this table in interior-by-id read mode (an interior member was
    * renamed, natively or by refresh adoption)? */
  private def interiorByIdMode: Boolean =
    meta.properties.get(graft.types.FieldIds.InteriorByIdProp)
      .contains("true")

  /** Can the session's plans restore interior ids POST-pruning? True
    * when [[graft.sql.InteriorIdRestoreRule]] was injected
    * (spark.sql.extensions=graft.GraftExtensions) — interior-by-id
    * scans then keep FULL nested pruning (round 16): the reader option
    * below carries the id map to the physical plan and the rule
    * re-stamps the pruned schema. The rule rewrites
    * `FileSourceScanExec`, the V1 file scan, which every scan here
    * plans: they are log reads ([[LogScan]]), a V1 relation whatever
    * `spark.sql.sources.useV1SourceList` says. */
  private def interiorRestoreInjected: Boolean =
    spark.sessionState.columnarRules
      .exists(_.isInstanceOf[graft.sql.InteriorIdRestoreRule])

  /** Reader options every scan-path parquet read attaches: the
    * interior-id map for [[graft.sql.InteriorIdRestoreRule]] when the
    * table reads interior-by-id and the rule is present; empty
    * otherwise. */
  private def readOptions: Map[String, String] =
    if (!interiorByIdMode || !interiorRestoreInjected) Map.empty
    else Map(graft.types.FieldIds.InteriorOptKey ->
      meta.properties.getOrElse(graft.types.FieldIds.InteriorProp, ""))

  /** Session the SCAN path reads under. With the graft extensions
    * injected this is ALWAYS the caller's session — interior-by-id
    * tables keep full nested pruning via [[readOptions]] +
    * [[graft.sql.InteriorIdRestoreRule]]. Without the extensions,
    * interior-by-id tables fall back to the round-15 contract: a
    * session CLONE with nested schema pruning disabled (Spark's
    * pruning rebuilds pruned read schemas WITHOUT interior field-id
    * metadata — the FieldEvolutionSpec pin — so an un-restored pruned
    * plan would silently null renamed interior leaves of old files;
    * full-subtree requests with ids attached resolve in every plan
    * shape). The clone is built with cloneSession semantics
    * (GraftStreamingShim.sessionWithConfs), so the caller's runtime
    * SQL confs — session timezone, case sensitivity, ANSI mode — keep
    * applying; the clone's conf governs the whole plan because scan()
    * returns a DataFrame BOUND to it. */
  @volatile private var interiorClone: SparkSession = null
  private def readSession: SparkSession =
    if (!interiorByIdMode || interiorRestoreInjected) spark
    else {
      if (interiorClone == null) synchronized {
        if (interiorClone == null)
          interiorClone = org.apache.spark.sql.GraftStreamingShim
            .sessionWithConfs(spark, Map(
              graft.types.FieldIds.ReadConf -> "true",
              "spark.sql.optimizer.nestedSchemaPruning.enabled" -> "false"))
      }
      interiorClone
    }

  /** THE scan-path parquet read: a log read ([[LogScan]]) of exactly
    * `files` under the table's read schema and interior-restore
    * options, on [[readSession]]. */
  private def readParquet(files: Seq[DataFileEntry]): DataFrame =
    LogScan.read(readSession, readSchema, files, readOptions)

  /** The visible rows of the data files `keep` selects from
    * replay-ordered entries ([[EqDeletes.visible]]: one log read with
    * equality deletes and position vectors subtracted by broadcast
    * joins), read on [[readSession]] with [[readOptions]]. A reset
    * commit (compaction/overwrite) retires the deletes entirely.
    * `retainMeta` keeps the scan-position columns (`__scan_seq`, the
    * file's index in `ordered`, and `__scan_pos`) on the result — the
    * changelog's position-delete emission joins on them AFTER the
    * outstanding-vector subtraction has already run. */
  private def assembleOrdered(ordered: Seq[DataFileEntry],
      keep: DataFileEntry => Boolean, retainMeta: Boolean = false,
      schemaOverride: Option[StructType] = None,
      scope: PruneScope = pruneScope(meta)): DataFrame =
    EqDeletes.visible(readSession, schemaOverride.getOrElse(readSchema),
      ordered, keep, withMeta = retainMeta, readerOptions = readOptions,
      scope = Some(scope))

  /** The table's pruning scope: its partition spec and the names whose
    * stats an evolution rebinding poisoned. */
  private def pruneScope(m: TableMetadata): PruneScope = PruneScope(m.partitionColumns,
    graft.types.FieldIds.namesSet(m.properties, graft.types.FieldIds.StatsUnsafeProp))

  /** Metadata pruning predicate over one data file — the filter
    * [[selectFiles]] applies, extracted so sequence-aware assembly can
    * prune without re-replaying the log. `partitionFilter` selects by
    * recorded identity value; each `rangeFilter` entry becomes `>=` /
    * `<=` predicates judged by [[FilePrune.keep]], for columns whose
    * bounds were collected in a numeric domain only: string columns
    * record lexicographic min/max ({"1","100","20"} records
    * ["1","20"]) and decimal bounds are unscaled, so a range naming
    * such a column never prunes. */
  private def dataKeep(m: TableMetadata,
      partitionFilter: Map[String, String],
      rangeFilter: Map[String, (Option[Double], Option[Double])])
      : DataFileEntry => Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val ranges = rangeFilter.toSeq.flatMap { case (c, (lo, hi)) =>
      m.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType).filter {
        case IntegerType | LongType | ShortType | ByteType | FloatType |
             DoubleType | DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }.toSeq.flatMap { dt =>
        val a = AttributeReference(c, dt)()
        lo.map(v => GreaterThanOrEqual(a, Literal(v))) ++ hi.map(v => LessThanOrEqual(a, Literal(v)))
      }
    }
    val inRange = FilePrune.keep(ranges, pruneScope(m))
    // a file with NO recorded value for the field predates the
    // current spec (partition evolution) — pruning must keep it;
    // scan() restores exactness with a residual row filter
    f => partitionFilter.forall { case (k, v) => f.partitionValues.get(k).forall(_ == v) } &&
      inRange(f)
  }

  /** The file set `scan` with the same arguments would read — partition
    * pruning then stat-based skipping, both on log metadata alone.
    * Public so callers and tests can measure skipping effectiveness
    * (files pruned vs total) without scanning anything. */
  def selectFiles(
      asOf: Option[Long] = None,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (Option[Double], Option[Double])] = Map.empty)
      : Seq[DataFileEntry] = {
    // Partition pruning then stat-based file skipping (Iceberg manifest
    // pruning) through FilePrune.keep, the pruner every read shares:
    // drop files whose recorded identity value / [min,max] cannot
    // match. Files without metadata for a column always survive —
    // pruning is an optimization, never a correctness filter, so
    // callers still apply the row-level predicate. Columns whose NAME
    // was rebound by evolution never prune, nor do NaN-poisoned bounds.
    catalog.liveFiles(namespace, name, asOf)
      .filter(dataKeep(meta, partitionFilter, rangeFilter))
  }

  /** Tag the current (or a given) snapshot with an immutable name —
    * the release/audit mark pattern (Iceberg tags). */
  def tag(name: String, snapshotId: Option[Long] = None): Unit = {
    val id = snapshotId.orElse(catalog.currentSnapshot(namespace, this.name)
      .map(_.snapshotId)).getOrElse(
      throw new IllegalStateException(s"table $namespace.${this.name} has no snapshots"))
    catalog.setRef(namespace, this.name, name, id, refType = "tag")
    ()
  }

  /** Create or retarget a named branch pointer. */
  def setBranch(name: String, snapshotId: Long): Unit = {
    catalog.setRef(namespace, this.name, name, snapshotId, refType = "branch")
    ()
  }

  // ---- write-audit-publish (WAP) branches --------------------------------

  /** Stage an append onto a named branch WITHOUT touching main — the
    * Iceberg write-audit-publish workflow: data files write normally
    * and the commit lands in the log, but it carries the
    * `wap.branch` marker and a parentId pointing at the BRANCH head,
    * so main replay (and checkpoint folds, and incremental reads) skip
    * it entirely. Audit the branch with [[scanBranch]]; publish with
    * [[fastForward]]; abandon by dropping the ref and letting
    * expiration/vacuum collect the files. First staged append forks
    * the branch from the current main head. */
  def appendToBranch(branch: String, df: DataFrame): Snapshot = {
    val existing = catalog.refs(namespace, name).get(branch)
    existing.foreach(r => require(r.refType == "branch",
      s"ref '$branch' is a tag — tags are immutable"))
    // a NEW branch forks from the MAIN head, not the raw log tail —
    // the tail may be another branch's staged commit, and chaining on
    // it would cross lineages
    val parent = existing.map(_.snapshotId)
      .orElse(catalog.snapshots(namespace, name)
        .filterNot(Snaplog.isWapStaged).lastOption.map(_.snapshotId))
    val snap = writeCommit(Seq(df), Snaplog.OpAppend,
      extraSummary = Map(Snaplog.WapBranchKey -> branch),
      parentIdOverride = parent)
    catalog.setRef(namespace, name, branch, snap.snapshotId, refType = "branch")
    snap
  }

  /** Scan a branch's content: main as of the fork point + the branch's
    * staged appends (lineage-exact — see [[Catalog.branchLineage]]). A
    * branch ref pointing at a plain (published) snapshot reads
    * identically to [[scanRef]]. */
  def scanBranch(branch: String): DataFrame = {
    // staged appends come AFTER every base delete in sequence, so base
    // equality deletes never touch branch-staged rows
    val (base, staged) = catalog.branchLineage(namespace, name, branch)
    val ordered = base
      .map(b => catalog.liveEntriesOrdered(namespace, name, Some(b)))
      .getOrElse(Seq.empty) ++ staged.flatMap(_.files)
    assembleOrdered(ordered, _ => true)
  }

  /** Publish a staged branch onto main (Iceberg's `fast_forward`): ONE
    * conditional append of every staged file. Requires main to be
    * content-unchanged since the branch's fork point (automatic
    * checkpoint folds are content no-ops and do not block) — if main
    * really advanced, the staged work no longer fast-forwards and must
    * be re-staged or merged by the caller. The fork-point validation
    * and the commit expectation derive from ONE history read, so a main
    * commit racing the publish surfaces as CommitConflictException
    * instead of a silent merge. The branch ref retargets to the
    * published snapshot, so branch and main converge; the staged
    * commits stay in the log as audit history (skipped by main replay,
    * as always). */
  def fastForward(branch: String): Snapshot = {
    val all = catalog.snapshots(namespace, name)
    val (base, staged) = catalog.branchLineage(namespace, name, branch)
    require(staged.nonEmpty,
      s"branch '$branch' has no staged commits to publish")
    val realAdvance = all.filter(_.snapshotId > base.getOrElse(0L))
      .filterNot(s => Snaplog.isWapStaged(s) ||
        s.operation == Snaplog.OpCheckpoint)
    require(realAdvance.isEmpty,
      s"main advanced past branch '$branch' fork point " +
        s"(commits ${realAdvance.map(_.snapshotId).mkString(",")}) — " +
        "not fast-forwardable; re-stage against current main")
    val snap = catalog.commit(namespace, name, Snaplog.OpAppend,
      staged.flatMap(_.files),
      Map("fast-forwarded-from" -> branch,
        "published-commits" -> staged.size.toString),
      expectedSnapshotId = Some(all.lastOption.map(_.snapshotId).getOrElse(0L)))
    catalog.setRef(namespace, name, branch, snap.snapshotId, refType = "branch")
    snap
  }

  /** Scan the snapshot a named ref (tag or branch) points at — time
    * travel by name instead of id. */
  def scanRef(refName: String,
      partitionFilter: Map[String, String] = Map.empty,
      rangeFilter: Map[String, (Option[Double], Option[Double])] = Map.empty)
      : DataFrame = {
    val r = catalog.refs(namespace, name).getOrElse(refName,
      throw new IllegalArgumentException(
        s"ref '$refName' not found for $namespace.$name"))
    scan(asOf = Some(r.snapshotId), partitionFilter, rangeFilter)
  }

  /** Incremental (CDC-style) read: the NET rows added after
    * `fromSnapshot` up to `toSnapshot` (default: current) — the Iceberg
    * incremental-scan analogue, and the scale primitive for consumers
    * that must not re-read the table per cycle. Pure log metadata
    * decides the file set; Spark only ever sees the delta files.
    * An EQUALITY delete inside the range nets out: in-window rows its
    * keys match (per replay order — files added before the delete) are
    * subtracted by the same broadcast anti-join a full scan uses, so a
    * keyed CDC feed composes with incremental consumption. (Its effect
    * on rows emitted before `fromSnapshot` is inherently outside an
    * additive delta — consumers needing retraction re-read the table.)
    * A reset commit (overwrite / replace) or a position delete inside
    * the range is rejected because its delta is not expressible as
    * file-adds. */
  def scanIncremental(fromSnapshot: Long,
      toSnapshot: Option[Long] = None): DataFrame = {
    val snaps = catalog.snapshots(namespace, name)
    require(snaps.exists(_.snapshotId == fromSnapshot),
      s"unknown snapshot $fromSnapshot")
    val upTo = toSnapshot.getOrElse(
      snaps.filterNot(Snaplog.isWapStaged).last.snapshotId)
    // guards + path-set difference live in ONE place shared with the
    // streaming table source (Catalog.addedEntriesBetween)
    assembleOrdered(
      catalog.addedEntriesBetween(namespace, name, fromSnapshot, upTo), _ => true)
  }

  /** Row-level CHANGELOG read (Iceberg changelog scan / Delta CDF
    * analogue): every row-level change committed in `(fromSnapshot,
    * toSnapshot]`, stamped with `_change_type` ('insert' | 'delete'),
    * `_commit_snapshot_id` and `_commit_timestamp`. Unlike
    * [[scanIncremental]] (the NET additive delta), the changelog
    * replays each commit's own changes — including retractions of rows
    * emitted BEFORE the window, which an additive delta cannot express.
    * `fromSnapshot = 0` means "since table creation".
    *
    * Per-commit semantics (main lineage; WAP-staged commits are not
    * main history and contribute only when published):
    *  - append / add_files → every row of the added files as 'insert'
    *  - eq_delete → the PRE-COMMIT-visible rows its key tuples match,
    *    as 'delete' (rows already deleted earlier are not re-emitted;
    *    a later re-insert of the key is an independent 'insert')
    *  - mor_delete → the pre-commit-visible rows at the vector's
    *    (file, position) pairs, as 'delete'
    *  - overwrite / COW delete (incl. rollback) → the exact row-level
    *    diff of removed-vs-added files: carried-by-path files are
    *    skipped outright and rewrite churn cancels via multiset
    *    difference (Iceberg's "carryover row" elimination), so a COW
    *    delete emits exactly its deleted rows, never the copied ones
    *  - replace (compaction) / checkpoint → content no-ops, nothing
    *
    * Scale: an append-only window reads ONLY the added files (no
    * shuffle, no prior-table read), and runs of consecutive appends
    * collapse into ONE scan stamped from a broadcast path→commit
    * lookup — the plan is O(non-append commits), so a streaming
    * table's thousands-of-appends history stays plannable. A delete
    * commit must produce the deleted rows' full content, so it scans
    * the prior live set restricted to a broadcast semi-join on the
    * (predicate-sized) key or position set; an overwrite diff shuffles
    * only the REMOVED + ADDED files (multiset EXCEPT), never untouched
    * carried data. Both costs are inherent to row-level change capture
    * (Iceberg's changelog pays the same) and bounded by the commit's
    * own touch set, not the table. */
  def scanChanges(fromSnapshot: Long,
      toSnapshot: Option[Long] = None): DataFrame =
    changesFrame(fromSnapshot, toSnapshot, lineage = false)

  /** [[scanChanges]] with the Iceberg-v3 LINEAGE columns stamped on
    * every change row (round 17, VERDICT r16 #3): `_row_id` and
    * `_last_updated_sequence_number` ride beside the change metadata,
    * so a CDC consumer keys update pairing on durable row identity
    * instead of declared identifier columns — the v3-native form of
    * `create_changelog_view`'s identifier_columns workaround
    * ([[scanChangesKeyedByRowId]] does that pairing). Requires lineage
    * to serve (a v3-adopted tree, [[enableRowLineage]], or the
    * creation-time property); files without an assignment refuse
    * loudly, like [[scanLineage]]. Delete rows carry the id the row
    * held when it died; a MERGE update's postimage carries the SAME id
    * as its preimage (the round-17 carry), which is what makes row-id
    * pairing work. Costs match [[scanChanges]] leg for leg — the
    * lineage stamp is the same broadcast per-file lookup + codegen'd
    * position add the lineage scan uses, never an extra shuffle.
    * One honest divergence: an OVERWRITE's legs compare content WITH
    * identity, so rows an overwrite rewrote verbatim still emit as
    * delete+insert when their ids changed — under v3 semantics an
    * overwrite genuinely ends every identity, so that IS the change
    * stream's truth (plain [[scanChanges]] keeps the content-diff
    * view). */
  def scanChangesLineage(fromSnapshot: Long,
      toSnapshot: Option[Long] = None): DataFrame =
    changesFrame(fromSnapshot, toSnapshot, lineage = true)

  private def changesFrame(fromSnapshot: Long,
      toSnapshot: Option[Long], lineage: Boolean): DataFrame = {
    val snaps = catalog.snapshots(namespace, name).filterNot(Snaplog.isWapStaged)
    val ids = snaps.map(_.snapshotId)
    require(fromSnapshot == 0L || ids.contains(fromSnapshot),
      s"unknown snapshot $fromSnapshot of $namespace.$name")
    val upTo = toSnapshot.getOrElse(ids.lastOption.getOrElse(0L))
    require(upTo == 0L || ids.contains(upTo),
      s"unknown snapshot $upTo of $namespace.$name")
    require(upTo >= fromSnapshot,
      s"toSnapshot $upTo precedes fromSnapshot $fromSnapshot")
    val window = snaps.filter(s =>
      s.snapshotId > fromSnapshot && s.snapshotId <= upTo)
    // "since creation" is unanswerable once earlier history has been
    // expired: the oldest retained snapshot still names its dropped
    // parent, so the gap is detectable. Loud refusal beats a silently
    // incomplete changelog.
    require(fromSnapshot != 0L || window.headOption.forall(_.parentId.isEmpty),
      s"changelog from table creation is unavailable: history before " +
        s"snapshot ${window.headOption.map(_.snapshotId).getOrElse(0L)} was " +
        "expired — start from a retained snapshot")
    // An APPEND-op commit carrying DELETE entries is the Iceberg-import
    // shape (one add_files registering data + foreign MOR state): its
    // net content is not expressible as plain inserts — emitting the
    // data files raw would show rows the imported deletes subtract.
    // Refuse loudly; the import commit is table CREATION, so consumers
    // start the changelog AT it (initial content via scan, changes
    // after), or compact() to materialize the net rows first.
    window.filter(s => s.operation == Snaplog.OpAppend ||
        s.operation == Snaplog.OpAddFiles).foreach { s =>
      require(s.files.forall(f => !f.deleteFile.contains(true)),
        s"changelog window crosses snapshot ${s.snapshotId}: an " +
          s"${s.operation} commit carrying merge-on-read delete entries " +
          "(an Iceberg import) — its net content is not an insert " +
          "stream; start from that snapshot " +
          s"(scanChanges(${s.snapshotId}, …)) or compact() first")
    }

    // mutable buffer: appending per commit must stay O(1) — an
    // immutable Seq ++ per commit is quadratic over a 10^4-append log
    val prefixBuf = scala.collection.mutable.ArrayBuffer[DataFileEntry](
      (if (fromSnapshot == 0L) Seq.empty[DataFileEntry]
       else catalog.liveEntriesOrdered(namespace, name, Some(fromSnapshot))): _*)
    def prefix: Seq[DataFileEntry] = prefixBuf.toSeq
    def resetPrefix(fs: Seq[DataFileEntry]): Unit = {
      prefixBuf.clear(); prefixBuf ++= fs
    }
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def stamp(df: DataFrame, tpe: String, s: Snapshot): DataFrame =
      df.withColumn(ChangeTypeCol, lit(tpe))
        .withColumn(ChangeSnapshotCol, lit(s.snapshotId))
        .withColumn(ChangeTimestampCol,
          lit(new java.sql.Timestamp(s.timestampMs)))
    def hasData(entries: Seq[DataFileEntry]): Boolean =
      entries.exists(f => !f.deleteFile.contains(true))
    // Lineage mode swaps each leg's row source for its lineage-stamped
    // twin — same file lists, same join shapes, two extra long columns:
    //  - raw INSERT content of specific entries = lineageFrame over a
    //    delete-free entry list (degenerates to a plain read + the
    //    per-file id lookup);
    //  - MOR-visible PRE-IMAGES = lineageFrame over the prefix (ids
    //    survive the subtraction untouched — positions never renumber).
    def readEntries(entries: Seq[DataFileEntry]): DataFrame =
      if (lineage) lineageFrame(entries, _ => true)
      else readParquet(entries)
    def visiblePrefix(entries: Seq[DataFileEntry],
        keep: DataFileEntry => Boolean, retainMeta: Boolean): DataFrame =
      if (lineage) lineageFrame(entries, keep, retainMeta)
      else assembleOrdered(entries, keep, retainMeta)

    // Plan-size bound: one union leg PER COMMIT would explode the
    // driver plan on a streaming table's history (a day of micro-batch
    // appends = thousands of legs). Runs of >= 8 consecutive appends
    // collapse into ONE scan whose rows carry their file's index in the
    // run ([[LogScan.readSeq]]), stamped from a broadcast index ->
    // commit lookup — the plan is then O(non-append commits), not
    // O(commits).
    def isAppendOp(s: Snapshot) =
      s.operation == Snaplog.OpAppend || s.operation == Snaplog.OpAddFiles
    // O(1)-per-commit run construction: grow the CURRENT run in its
    // own buffer, sealing it on each op-kind change
    val runs = scala.collection.mutable.ListBuffer.empty[Vector[Snapshot]]
    locally {
      val cur = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
      window.foreach { s =>
        if (!(isAppendOp(s) && cur.nonEmpty)) {
          if (cur.nonEmpty) { runs += cur.toVector; cur.clear() }
          if (!isAppendOp(s)) runs += Vector(s) else cur += s
        } else cur += s
      }
      if (cur.nonEmpty) runs += cur.toVector
    }
    def stampAppendRun(run: Vector[Snapshot]): Unit = {
      val entries = run.flatMap(s =>
        s.files.filterNot(_.deleteFile.contains(true)).map(_ -> s))
      if (entries.isEmpty) return
      // the lineage twin of the lookup carries each file's assignment
      // (None for materialized-lineage files — their physical columns
      // win the coalesce), so the batched run pays the SAME single
      // broadcast join for commit stamps and row ids alike
      import spark.implicits._
      val lk = broadcast(entries.zipWithIndex.map { case ((f, s), i) =>
        (i.toLong, s.snapshotId, new java.sql.Timestamp(s.timestampMs),
          f.firstRowId, f.dataSeq)
      }.toDF("__cl_idx", "__cl_snap", "__cl_ts", "__cl_first", "__cl_seq2"))
      val files = entries.map(_._1).zipWithIndex.map { case (f, i) => f -> i.toLong }
      val base =
        if (!lineage)
          LogScan.readSeq(readSession, readSchema, files, readOptions)
            .select(col("*"), col(LogScan.SeqCol).as("__cl_idx"))
        else {
          requireLineage(files.map(_._1))
          spark.conf.set(graft.types.FieldIds.ReadIgnoreMissingConf, "true")
          LogScan.readSeq(readSession, lineageReadSchema, files, readOptions)
            .select(col("*"), col(LogScan.SeqCol).as("__cl_idx"),
              col("_metadata.row_index").as("__cl_pos"))
        }
      val stamped0 = base
        .join(lk, Seq("__cl_idx"), "left")
        .withColumn(ChangeTypeCol, lit(ChangeInsert))
        .withColumn(ChangeSnapshotCol, col("__cl_snap"))
        .withColumn(ChangeTimestampCol, col("__cl_ts"))
      val stamped =
        if (!lineage) stamped0
        else {
          import graft.types.FieldIds.{RowIdCol, LastUpdatedCol}
          stamped0
            .withColumn(RowIdCol, coalesce(col(RowIdCol),
              col("__cl_first") + col("__cl_pos")))
            .withColumn(LastUpdatedCol,
              coalesce(col(LastUpdatedCol), col("__cl_seq2")))
            .drop("__cl_pos")
        }
      parts += stamped.drop(
        "__cl_idx", "__cl_snap", "__cl_ts", "__cl_first", "__cl_seq2")
    }
    runs.foreach { run =>
      if (isAppendOp(run.head) && run.size >= 8) {
        stampAppendRun(run)
        prefixBuf ++= run.flatMap(_.files)
      } else run.foreach { s =>
      s.operation match {
        case Snaplog.OpCheckpoint | Snaplog.OpReplace =>
          resetPrefix(s.files) // content no-op: new replay basis, no changes
        case Snaplog.OpAppend | Snaplog.OpAddFiles =>
          val data = s.files.filterNot(_.deleteFile.contains(true))
          if (data.nonEmpty)
            parts += stamp(readEntries(data), ChangeInsert, s)
          prefixBuf ++= s.files
        case Snaplog.OpEqDelete =>
          // apply entry-by-entry so a commit carrying several key files
          // sequences exactly like the scan-side replay does. A MERGE
          // commit (mergeDelta) lists data files AFTER its key file —
          // they emit as inserts (batched per consecutive run), and the
          // replay position means the commit's own deletes never touch
          // them: preimage-delete + postimage-insert per upserted key.
          val dataRun = scala.collection.mutable.ArrayBuffer.empty[DataFileEntry]
          def flushRun(): Unit = if (dataRun.nonEmpty) {
            parts += stamp(readEntries(dataRun.toSeq), ChangeInsert, s)
            dataRun.clear()
          }
          s.files.foreach { entry =>
            if (EqDeletes.isEq(entry)) {
              flushRun()
              val cur = prefix // ONE buffer snapshot per entry
              if (hasData(cur)) {
                val cols = EqDeletes.keyCols(entry)
                val fields = LogScan.keyFields(readSession, entry, cols)
                // coalesce(1): no Exchange in the predicate-sized
                // broadcast build (round 18); on readSession, the
                // session the visible prefix it semi-joins reads on
                val keys = broadcast(
                  LogScan.read(readSession, StructType(fields), Seq(entry))
                    .select(fields.zipWithIndex.map { case (f, i) =>
                      col(f.name).as(s"__eqdel_$i") }: _*).coalesce(1).distinct())
                val vis = visiblePrefix(cur, _ => true, retainMeta = false)
                val matched = vis.join(keys,
                  cols.zipWithIndex.map { case (c, i) =>
                    vis(c) === col(s"__eqdel_$i") }.reduce(_ && _),
                  "left_semi")
                parts += stamp(matched, ChangeDelete, s)
              }
            } else if (!entry.deleteFile.contains(true)) dataRun += entry
            prefixBuf += entry
          }
          flushRun()
        case Snaplog.OpMorDelete =>
          val vectors = s.files.filter(EqDeletes.isPos)
          if (vectors.nonEmpty && hasData(prefix)) {
            val cur = prefix
            val matched = EqDeletes.joinVectors(
                visiblePrefix(cur, _ => true, retainMeta = true),
                cur, vectors, "left_semi")
              .drop("__scan_seq", "__scan_pos")
            parts += stamp(matched, ChangeDelete, s)
          }
          prefixBuf ++= s.files
        case _ => // overwrite / COW delete / rollback: exact row diff
          val prevDataPaths = prefix
            .filterNot(_.deleteFile.contains(true)).map(_.path).toSet
          val newData = s.files.filterNot(_.deleteFile.contains(true))
          val newPaths = newData.map(_.path).toSet
          val removedPaths = prevDataPaths -- newPaths
          val added = newData.filterNot(f => prevDataPaths(f.path))
          val remVis = if (removedPaths.isEmpty) None
            else Some(visiblePrefix(prefix, f => removedPaths(f.path),
              retainMeta = false))
          val addRows = if (added.isEmpty) None
            else Some(readEntries(added))
          (remVis, addRows) match {
            case (Some(rem), Some(add)) =>
              parts += stamp(rem.exceptAll(add), ChangeDelete, s)
              parts += stamp(add.exceptAll(rem), ChangeInsert, s)
            case (Some(rem), None) => parts += stamp(rem, ChangeDelete, s)
            case (None, Some(add)) => parts += stamp(add, ChangeInsert, s)
            case (None, None) => // metadata-only no-op commit
          }
          resetPrefix(s.files)
      }
      }
    }
    if (parts.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        if (lineage) changesLineageSchema else changesSchema)
    else parts.reduce(_.unionByName(_))
  }

  /** KEYED changelog (Iceberg `create_changelog_view` with identifier
    * columns / Delta CDF update images): refine [[scanChanges]]'
    * delete+insert rows into UPDATE images — within one commit, a
    * delete and an insert carrying the same key tuple become
    * 'update_preimage' + 'update_postimage'; unpaired changes stay
    * 'insert'/'delete'. The pairing is one full-outer join on
    * (commit, key) — change-set-sized, never table-sized. A key tuple
    * appearing more than once per commit per side makes the pairing
    * ambiguous and fails loudly (`raise_error` inline — no extra
    * driver pass); null-valued keys never pair (SQL join semantics)
    * and fall through unpaired. */
  def scanChangesKeyed(keys: Seq[String], fromSnapshot: Long,
      toSnapshot: Option[Long] = None): DataFrame = {
    require(keys.nonEmpty, "scanChangesKeyed needs at least one key column")
    val cols = keys.map(k => schema.fieldNames
      .find(_.equalsIgnoreCase(k)).getOrElse(throw new IllegalArgumentException(
        s"key column '$k' not in schema (${schema.fieldNames.mkString(", ")})")))
    pairChanges(scanChanges(fromSnapshot, toSnapshot), cols,
      schema.fieldNames.toSeq, "scanChangesKeyed")
  }

  /** [[scanChangesKeyed]] keyed on DURABLE ROW IDENTITY instead of
    * declared identifier columns (round 17, VERDICT r16 #3): the
    * change stream is [[scanChangesLineage]] and the pairing key is
    * `_row_id` — the Iceberg-v3-native form of `create_changelog_view`
    * with identifier columns. A MERGE update's postimage CARRIES its
    * preimage's id (the round-17 merge carry), so within one commit
    * the dead preimage and the new image pair into
    * 'update_preimage'/'update_postimage' with NO knowledge of the
    * table's key columns — and because ids are durable and unique,
    * the ambiguity guard only ever fires on a genuinely corrupt
    * stream. Both images keep their own
    * `_last_updated_sequence_number`, so a consumer sees the v3
    * sequence bump ride the update pair. Cost shape matches
    * [[scanChangesKeyed]]: one full-outer join on (commit, _row_id),
    * change-set-sized. */
  def scanChangesKeyedByRowId(fromSnapshot: Long,
      toSnapshot: Option[Long] = None): DataFrame = {
    import graft.types.FieldIds.{RowIdCol, LastUpdatedCol}
    pairChanges(scanChangesLineage(fromSnapshot, toSnapshot), Seq(RowIdCol),
      schema.fieldNames.toSeq ++ Seq(RowIdCol, LastUpdatedCol),
      "scanChangesKeyedByRowId")
  }

  /** Shared delete+insert → update-image pairing over a change stream
    * (`dataCols` = the payload columns the images carry; `cols` = the
    * pairing key). One full-outer join on (commit, key) — change-set-
    * sized, never table-sized. The input carries only `insert` and
    * `delete` rows; any other change type fails the read. */
  private[graft] def pairChanges(changes: DataFrame, cols: Seq[String],
      dataCols: Seq[String], label: String): DataFrame = {
    // both join sides derive from this one plan — persist so the
    // changelog (per-commit scans, anti/semi joins) executes once, not
    // once per side; change sets are window-sized, not table-sized.
    // The result must stay lazy (eager materialization would charge
    // callers who never execute), so the cache outlives this method —
    // and Spark's CacheManager holds Dataset caches STRONGLY, so
    // without bookkeeping every call would leak one cache entry for
    // the session's lifetime. Bound it to ONE live cache per table:
    // a new keyed-changelog read evicts the previous read's cache
    // (the evicted plan stays correct — it just recomputes).
    val ch = changes
      .withColumn(ChangeTypeCol,
        when(col(ChangeTypeCol).isin(ChangeInsert, ChangeDelete),
          col(ChangeTypeCol))
          .otherwise(raise_error(concat(lit(s"$label: change type '"),
            coalesce(col(ChangeTypeCol), lit("null")),
            lit(s"' is neither '$ChangeInsert' nor '$ChangeDelete'")))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    locally {
      val key = s"${System.identityHashCode(catalog)}:$namespace.$name"
      Option(LakehouseTable.changelogCache.put(key, ch))
        .foreach(prev => prev.unpersist(false))
    }
    // ONE hash aggregation over (commit, key) does the ambiguity guard
    // AND the delete+insert pairing (round 18, guide §2.4): the former
    // shape ran a count-window per side (an Exchange + Sort each) and a
    // full-outer sort-merge join — three clustered operators where one
    // suffices. `first(…, ignoreNulls)` is deterministic here because
    // the guard raises on any (commit, key, side) with more than one
    // row, and it carries ANY payload type (maps included — no ordering
    // comparison anywhere). Null-valued keys never pair (the old
    // equi-join was null-rejecting), so they bypass the aggregation
    // entirely and pass through unpaired — grouping would otherwise
    // lump all null keys together and fire the guard on a plain
    // multi-row append of null-keyed rows.
    val payload = struct((dataCols :+ ChangeTimestampCol).map(col): _*)
    val anyNullKey = cols.map(col(_).isNull).reduce(_ || _)
    val isDel = col(ChangeTypeCol) === ChangeDelete
    val grouped = ch.filter(!anyNullKey)
      .groupBy((ChangeSnapshotCol +: cols).map(col): _*)
      .agg(
        first(when(isDel, payload), ignoreNulls = true).as("__pre"),
        first(when(!isDel, payload), ignoreNulls = true).as("__post"),
        sum(when(isDel, 1L).otherwise(0L)).as("__nd"),
        sum(when(!isDel, 1L).otherwise(0L)).as("__ni"))
    val guarded = grouped.where(
      when(col("__nd") > 1 || col("__ni") > 1, raise_error(concat(
          lit(s"$label(${cols.mkString(",")}): key tuple ("),
          concat_ws(",", cols.map(c => col(c).cast("string")): _*),
          lit(") changes more than once as '"),
          when(col("__nd") > 1, lit(ChangeDelete)).otherwise(lit(ChangeInsert)),
          lit("' in commit "),
          col(ChangeSnapshotCol).cast("string"),
          lit(" — pairing is ambiguous; use scanChanges"))))
        .otherwise(lit(true)))
    val emitted = guarded.select(col(ChangeSnapshotCol),
      explode(when(col("__pre").isNotNull && col("__post").isNotNull,
          array(
            struct(lit("update_preimage").as("t"), col("__pre").as("r")),
            struct(lit("update_postimage").as("t"), col("__post").as("r"))))
        .when(col("__pre").isNotNull,
          array(struct(lit(ChangeDelete).as("t"), col("__pre").as("r"))))
        .otherwise(
          array(struct(lit(ChangeInsert).as("t"), col("__post").as("r")))))
        .as("__c"))
    val paired = emitted.select(
      (dataCols.map(c => col(s"__c.r.$c")) :+
        col("__c.t").as(ChangeTypeCol) :+
        col(ChangeSnapshotCol) :+
        col(s"__c.r.$ChangeTimestampCol").as(ChangeTimestampCol)): _*)
    val nullKeyed = ch.filter(anyNullKey).select(
      (dataCols.map(col) :+ col(ChangeTypeCol) :+ col(ChangeSnapshotCol) :+
        col(ChangeTimestampCol)): _*)
    paired.unionByName(nullKeyed)
  }

  /** Schema [[scanChanges]] emits: the table columns plus the three
    * change-metadata columns. */
  def changesSchema: StructType =
    StructType(schema.fields ++ Seq(
      StructField(ChangeTypeCol, StringType, nullable = false),
      StructField(ChangeSnapshotCol, LongType, nullable = false),
      StructField(ChangeTimestampCol, TimestampType, nullable = false)))

  /** Schema [[scanChangesLineage]] emits: [[changesSchema]] with the
    * two v3 lineage columns between the table columns and the change
    * metadata. */
  def changesLineageSchema: StructType = {
    import graft.types.FieldIds.{RowIdCol, LastUpdatedCol}
    StructType(schema.fields ++ Seq(
      StructField(RowIdCol, LongType, nullable = false),
      StructField(LastUpdatedCol, LongType, nullable = false)) ++
      changesSchema.fields.drop(schema.fields.length))
  }

  /** SQL access to the changelog: register `scanChanges(from, to)`
    * under a temp view, the same surface [[registerView]] gives the
    * current snapshot. */
  def registerChangesView(viewName: String, fromSnapshot: Long,
      toSnapshot: Option[Long] = None): Unit =
    scanChanges(fromSnapshot, toSnapshot).createOrReplaceTempView(viewName)

  /** Register the current snapshot for the SQL path (reference S10:
    * DuckDB `iceberg_scan` → here `spark.sql` over a temp view). */
  def registerView(viewName: String): Unit =
    scan().createOrReplaceTempView(viewName)

  /** Snapshot history as a DataFrame (S21). */
  def history: DataFrame = {
    val rows = catalog.snapshots(namespace, name).map { s =>
      Row(s.snapshotId, s.parentId.map(Long.box).orNull,
        new java.sql.Timestamp(s.timestampMs), s.operation,
        s.files.size.toLong, s.files.map(_.rowCount).sum)
    }
    val sch = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("num_records", LongType, nullable = false)))
    spark.createDataFrame(rows.asJava, sch)
  }

  // ---- write path -------------------------------------------------------

  /** Append one batch as one snapshot (S15). */
  def append(df: DataFrame): Snapshot = writeCommit(Seq(df), Snaplog.OpAppend)

  /** N batches → ONE commit (S16, `txn.commit_transaction()`): a single
    * union'd write job, so the cluster sees one append of all batches. */
  def appendTransactional(dfs: Seq[DataFrame]): Snapshot = {
    require(dfs.nonEmpty, "appendTransactional of zero batches")
    writeCommit(dfs, Snaplog.OpAppend, Map("batches" -> dfs.size.toString))
  }

  /** Replace entire table contents, new snapshot (S17, `table.overwrite`).
    * Callers whose replacement CONTENT derives from a scan of the table
    * (merge/upsert) pass the snapshot id they scanned as
    * `expectedSnapshotId`; a concurrent commit then surfaces as a
    * retryable CommitConflictException instead of silently vanishing
    * under the overwrite. */
  def overwrite(df: DataFrame, summary: Map[String, String] = Map.empty,
      expectedSnapshotId: Option[Long] = None): Snapshot =
    writeCommit(Seq(df), Snaplog.OpOverwrite, extraSummary = summary,
      expected = expectedSnapshotId)

  /** Flip the table to NATIVE row lineage (round 16,
    * [[graft.catalog.Snaplog.RowLineageProp]]): every subsequent
    * commit assigns Iceberg-v3 `first_row_id`/data-sequence lineage to
    * its new data files, and existing history is BACKFILLED in listing
    * order ([[graft.catalog.Catalog.assignRowLineage]]) so
    * [[scanLineage]] serves immediately. Metadata-only at any table
    * size (one log rewrite, zero data movement). Like renameTable, run
    * the flip without concurrent writers on this table; idempotent.
    *
    * Lineage stability boundary: MAINTENANCE rewrites (compact,
    * rewriteDataFiles/DeleteFiles, COW delete survivors) and the MOR
    * tier (mergeDelta, deleteMor, deleteEq) preserve surviving rows'
    * ids — content-identical rows keep their identity. MERGE UPDATES
    * also preserve identity (round 17, the v3 spec's update guidance):
    * [[mergeDelta]] — and through it Upsert.upsertTable/applyChanges —
    * CARRIES the matched pre-merge row's `_row_id` into the updated
    * image (materialized physically; see [[carryMergeRowIds]]) while
    * `_last_updated_sequence_number` bumps to the merge commit's
    * sequence. CONTENT REPLACEMENT (overwrite, the keep-last COW
    * upsert tier, rollback-then-rewrite) assigns fresh ids to
    * everything it writes: the new snapshot's rows are new content by
    * construction, exactly the semantics an external v3 writer's
    * overwrite produces. */
  def enableRowLineage(): TableMetadata = {
    require(!schema.fieldNames.exists(n =>
      n.equalsIgnoreCase(graft.types.FieldIds.RowIdCol) ||
        n.equalsIgnoreCase(graft.types.FieldIds.LastUpdatedCol)),
      s"$namespace.$name: a user column already uses a reserved lineage " +
        "name (_row_id / _last_updated_sequence_number)")
    catalog.updateProperties(namespace, name,
      Map(Snaplog.RowLineageProp -> "true"), Seq.empty)
    catalog.assignRowLineage(namespace, name)
    meta
  }

  /** Snapshot id the next conditional write should expect — 0 for an
    * empty table (the id `commit` compares against when no snapshot
    * exists yet). */
  def currentSnapshotId: Long =
    catalog.currentSnapshot(namespace, name).map(_.snapshotId).getOrElse(0L)

  /** Restore the table's live content to that of an earlier snapshot —
    * Iceberg's `rollback_to_snapshot`, the bad-commit escape hatch. The
    * log is append-only, so rollback is a NEW metadata-only overwrite
    * commit re-listing the target snapshot's live file set: zero data
    * movement at any table size, everything after the target stays
    * time-travelable, and the conditional commit makes a racing writer
    * fail cleanly instead of interleaving with the restore.
    *
    * Refusals, both loud: a WAP-staged branch commit is not main
    * content (publish or scan the branch instead), and a target with
    * outstanding merge-on-read vectors cannot be restored by re-listing
    * data files alone — the overwrite would retire the vectors and
    * resurrect their deleted rows; compact first, then roll back to the
    * compaction. */
  def rollbackTo(snapshotId: Long): Snapshot = {
    val snaps = catalog.snapshots(namespace, name)
    val target = snaps.find(_.snapshotId == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"unknown snapshot $snapshotId of $namespace.$name"))
    require(!Snaplog.isWapStaged(target),
      s"snapshot $snapshotId is a WAP-staged branch commit, not main " +
        "content — fast-forward the branch or scan it instead")
    require(catalog.liveDeleteFiles(namespace, name, Some(snapshotId)).isEmpty,
      s"snapshot $snapshotId carries outstanding merge-on-read delete " +
        "vectors — rollback would resurrect deleted rows; compact first")
    catalog.commit(namespace, name, Snaplog.OpOverwrite,
      catalog.liveFiles(namespace, name, Some(snapshotId)),
      Map("engine" -> "rollback", "rollback-to" -> snapshotId.toString),
      expectedSnapshotId = Some(snaps.last.snapshotId))
  }

  /** Dynamic partition overwrite (Iceberg `replacePartitions`, Spark's
    * `partitionOverwriteMode=dynamic`): replaces ONLY the partitions
    * present in `df`; every other partition's files carry into the new
    * snapshot untouched — so a daily re-run rewrites one day, not the
    * table. Works under hidden partitioning too: touched partitions
    * are computed with the SAME layout expressions the writer
    * directories by (`PartitionTransforms.layoutExpr`), so a days(ts)
    * table replaces exactly the days `df` covers — write-side and
    * attribution-side values agree by construction. The
    * touched-partition set is metadata-sized (distinct transformed
    * tuples, collected to the driver like any catalog op); data files
    * never rewrite outside the touched set. */
  def overwritePartitions(df: DataFrame): Snapshot = {
    val parts = partitionColumns
    require(parts.nonEmpty,
      s"dynamic partition overwrite needs a partitioned table; $namespace.$name has no partition columns")
    val partFields = PartitionTransforms.parseAll(parts)
    // IDENTITY attribution compares the df value's cast-to-string text
    // against the stored (unescaped) directory value — exact only for
    // types whose external text round-trips the dir encoding. Refuse
    // the rest (e.g. timestamps render '…12:34:56.0' vs dir
    // '…12:34:56') rather than silently carrying files of a touched
    // partition and duplicating its rows. TRANSFORM fields are always
    // exact: the attribution below evaluates the very expression that
    // produced the stored value.
    locally {
      import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, IntegerType, LongType, ShortType, StringType}
      val sch = schema
      val bad = partFields.collect { case IdentityField(c) => c }.filterNot { c =>
        sch.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType).exists {
          case StringType | IntegerType | LongType | ShortType | ByteType |
               DateType | BooleanType => true
          case _ => false
        }
      }
      require(bad.isEmpty,
        s"dynamic partition overwrite supports string/integral/date/boolean " +
          s"identity partition columns; (${bad.mkString(", ")}) cannot be " +
          "attributed exactly — overwrite() the table, or partition by a " +
          "transform of the column")
    }
    // Evaluate the layout expressions on the NORMALIZED rows (the same
    // shape writeCommit lays out) and string-normalize exactly like the
    // directory encoding: null AND empty string both land in Spark's
    // __HIVE_DEFAULT_PARTITION__ sentinel, so a null-partition rewrite
    // replaces the old null-partition files instead of duplicating them.
    val normalized = SchemaInfer.normalize(df, schema)
    val touched = normalized.select(partFields.map(pf =>
        PartitionTransforms.layoutExpr(pf, normalized.schema)
          .cast(org.apache.spark.sql.types.StringType).as(pf.fieldName)): _*)
      .distinct().collect()
      .map(r => partFields.map { pf =>
        val v = r.get(r.fieldIndex(pf.fieldName))
        pf.fieldName -> (if (v == null || v.toString.isEmpty)
          Snaplog.HiveDefaultPartition else v.toString)
      }.toMap)
      .toSet
    val base = currentSnapshotId
    require(catalog.liveDeleteFiles(namespace, name).isEmpty,
      "dynamic partition overwrite with outstanding merge-on-read delete " +
        "vectors would resurrect deleted rows in carried partitions — " +
        "compact() first to materialize them")
    val live = catalog.liveFiles(namespace, name)
    // A file with no recorded partition value (e.g. registered via
    // addFiles without partition metadata) cannot be attributed to a
    // partition: carrying it could duplicate touched-partition rows,
    // dropping it could lose data. Refuse rather than guess.
    val fieldNames = partFields.map(_.fieldName)
    val unattributed = live.filterNot(f =>
      fieldNames.forall(f.partitionValues.contains))
    require(unattributed.isEmpty,
      s"dynamic partition overwrite: ${unattributed.size} live file(s) carry no " +
        s"partition values for (${fieldNames.mkString(", ")}) — e.g. ${unattributed.head.path}; " +
        "rewrite the table (overwrite/compact) before using overwritePartitions")
    val carry = live.filterNot { f =>
      touched.contains(fieldNames.map(n => n -> f.partitionValues(n)).toMap)
    }
    writeCommit(Seq(df), Snaplog.OpOverwrite,
      extraSummary = Map("replaced-partitions" -> touched.size.toString),
      carryFiles = carry, expected = Some(base))
  }

  /** Highest long recorded under `key` across ALL commit summaries —
    * the lookup an idempotent streaming sink uses to recognize replayed
    * micro-batches. Survives overwrite/replace resets (replay scans
    * every snapshot line, not just the live suffix) and survives
    * `expireSnapshots` for keys in [[Snaplog.CarryMaxKeys]], whose
    * running maximum folds forward into the retained log. */
  def maxSummaryValue(key: String): Option[Long] =
    catalog.snapshots(namespace, name)
      .flatMap(_.summary.get(key))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
      .maxOption

  /** Metadata-only registration of pre-existing parquet files (S18,
    * `table.add_files` `main-ray.py:109-121`): log entries pointing at
    * the absolute paths; zero data movement. Row counts/sizes come from
    * parquet footers (metadata-only reads). Optional `batchSize` mirrors
    * the reference's 100-files-per-commit batching. */
  def addFiles(paths: Seq[String], batchSize: Int = 0): Seq[Snapshot] = {
    // an evolved (read-by-id) table cannot take foreign registrations:
    // id-less files would make every scan throw, and another system's
    // ids would silently map the wrong physical columns — the same
    // invariant renameColumn gated at evolution time, kept afterward
    require(!graft.types.FieldIds.hasIds(schema),
      s"$namespace.$name has evolved columns (read-by-id): add_files of " +
        "foreign parquet is not verifiable against its field ids — load " +
        "the files and append() them instead")
    val entries = FileStats.statAll(spark, paths, _ => Map.empty)
    val groups = if (batchSize > 0) entries.grouped(batchSize).toSeq else Seq(entries)
    groups.map(g => catalog.commit(namespace, name, Snaplog.OpAddFiles, g))
  }

  /** Copy-on-write row-level DELETE: remove rows matching `condition`,
    * rewriting ONLY the data files that contain matches. One pushdown-
    * friendly pass finds the affected files and their matched-row counts
    * (a group-count by each file's log position — untouched files cost footer +
    * pruned-row-group reads); survivors of affected files are rewritten;
    * the commit carries untouched files + rewritten files as a reset
    * (`delete`) snapshot. At 100 TB this is the difference between
    * rewriting a handful of files and rewriting the table — the Iceberg
    * COW model. Returns the new snapshot (a no-op delete still commits,
    * with `deleted-rows` = 0, so callers get an audit record). */
  def delete(condition: Column): Snapshot = {
    val base = currentSnapshotId
    val live = catalog.liveFiles(namespace, name)
    // a row-lineage table's COW rewrite MATERIALIZES the lineage
    // columns into the rewritten survivors (the same carry
    // compact/rewrite use): a deleted row vanishes, every survivor
    // keeps its identity — the v3 contract. Plain tables are
    // byte-identical to before.
    val lineageMode =
      meta.properties.get(Snaplog.RowLineageProp).contains("true")
    def cowRewrite(content: DataFrame, summary: Map[String, String],
        carry: Seq[DataFileEntry] = Seq.empty): Snapshot = {
      val entries = stageDataFiles(Seq(content),
        withLineageCols = lineageMode)
      catalog.commit(namespace, name, Snaplog.OpDelete, carry ++ entries,
        summary, expectedSnapshotId = Some(base))
    }
    def content(keep: DataFileEntry => Boolean): DataFrame = {
      val ordered = catalog.liveEntriesOrdered(namespace, name)
      if (lineageMode) lineageFrame(ordered, keep)
      else assembleOrdered(ordered,
        f => !f.deleteFile.contains(true) && keep(f))
    }
    if (live.isEmpty)
      return catalog.commit(namespace, name, Snaplog.OpDelete, Seq.empty,
        Map("deleted-rows" -> "0", "rewritten-files" -> "0"))
    if (catalog.liveDeleteFiles(namespace, name).nonEmpty) {
      // Outstanding MOR vectors: a COW delete is a RESET commit, which
      // retires vectors — carrying untouched files would resurrect
      // their MOR-deleted rows. Materialize everything in one rewrite
      // (compact + delete in a single commit). ONE pass (round 18,
      // guide §1.2): the rewrite's own write job counts the deleted
      // rows via Dataset.observe on the pre-filter frame — the former
      // shape ran a full MOR scan just for the summary count before a
      // second full MOR pass rewrote. CollectMetrics is a pushdown
      // barrier, so the `!condition` filter cannot slide below the
      // counting aggregate (pinned in SnaplogSpec).
      val obs = org.apache.spark.sql.Observation()
      val kept = content(_ => true)
        .observe(obs, sum(when(condition, 1L).otherwise(0L)).as("__del"))
        .filter(!condition)
      val entries = stageDataFiles(Seq(kept), withLineageCols = lineageMode)
      // null = a sum over zero visible rows; a MISSING key means the
      // observation never reported, which must not pass as 0 deleted
      val deletedRows = Option(obs.get.getOrElse("__del",
          throw new IllegalStateException(
            s"delete on $namespace.$name: the rewrite reported no __del count")))
        .map(_.asInstanceOf[Number].longValue()).getOrElse(0L)
      return catalog.commit(namespace, name, Snaplog.OpDelete, entries,
        Map("deleted-rows" -> deletedRows.toString,
          "rewritten-files" -> live.size.toString,
          "materialized-mor" -> "true"),
        expectedSnapshotId = Some(base))
    }
    // matches counted per file by its index in `live` (the log read's
    // per-file constant), not by the scanned path text
    val indexed = live.toIndexedSeq
    val matched = LogScan.readSeq(readSession, readSchema,
        indexed.zipWithIndex.map { case (f, i) => f -> i.toLong }, readOptions)
      .filter(condition)
      .groupBy(col(LogScan.SeqCol)).count()
      .collect().map(r => indexed(r.getLong(0).toInt).path -> r.getLong(1)).toMap
    val deletedRows = matched.values.sum
    val (touched, untouched) = live.partition(f => matched.contains(f.path))
    if (touched.isEmpty)
      return catalog.commit(namespace, name, Snaplog.OpDelete, live,
        Map("deleted-rows" -> "0", "rewritten-files" -> "0"))
    val touchedPaths = matched.keySet
    cowRewrite(content(f => touchedPaths(f.path)).filter(!condition),
      Map("deleted-rows" -> deletedRows.toString,
        "rewritten-files" -> touched.size.toString),
      carry = untouched)
  }

  /** EQUALITY delete (the Iceberg v2 equality-delete tier): `DELETE
    * WHERE keyCol IN (values)` as ONE key-valued delete file + one
    * layered commit — NO data scan at all, unlike [[deleteMor]]'s
    * pushdown pass. The scale primitive for keyed streaming CDC: a
    * delete feed commits key files as fast as the log accepts them,
    * and scans subtract by broadcast anti-join on the key. The delete
    * applies to data files committed BEFORE it (replay order), so a
    * later re-insert of the same key survives — and like position
    * vectors it is retired by any reset commit ([[compact]]
    * materializes). Null values are rejected (an equality delete
    * cannot express IS NULL). */
  def deleteEq(keyCol: String, values: Seq[Any]): Snapshot = {
    val field = keyField(keyCol)
    require(values.nonEmpty, "deleteEq of zero values")
    require(!values.contains(null),
      "deleteEq cannot delete null keys (equality is null-rejecting)")
    val keyDf = SchemaInfer.normalize(
      spark.createDataFrame(
        values.map(v => Row(v)).asJava,
        StructType(Seq(StructField(field.name, field.dataType, nullable = false)))),
      StructType(Seq(field.copy(nullable = false))))
    deleteEq(keyCol, keyDf)
  }

  /** DataFrame-valued equality delete — the CDC-feed form of the Seq
    * overload: the key set stays DISTRIBUTED end-to-end (dedup + write
    * are cluster jobs; nothing ever collects to the driver), so a
    * delete feed sourced from another table commits at any feed size.
    * Same one-commit layering and replay-order semantics. The feed must
    * be a single column, castable to the key column's type; null keys
    * are rejected (proved from the written file's parquet footer null
    * counts — no second validation pass over the feed). An EMPTY feed
    * commits a zero-value audit snapshot instead of throwing (a CDC
    * cycle with nothing to delete is normal). */
  def deleteEq(keyCol: String, keys: DataFrame): Snapshot =
    deleteEq(Seq(keyCol), keys)

  /** COMPOSITE-key equality delete (Iceberg's equality deletes are
    * field-list-valued for exactly this): the feed's columns map
    * POSITIONALLY onto `keyCols`, each row is one deleted key tuple,
    * and rows match only when EVERY key column is equal — SQL
    * `(k1, k2) IN (…)` semantics, null-rejecting per column. One
    * key-tuple parquet + one layered commit, same replay-order
    * sequencing as the single-key form. */
  def deleteEq(keyCols: Seq[String], keys: DataFrame): Snapshot = {
    val base = currentSnapshotId
    val (delFiles, encodedKey, nValues) = stageEqDelete(keyCols, keys)
    catalog.commit(namespace, name, Snaplog.OpEqDelete, delFiles,
      Map("equality-key" -> encodedKey,
        "delete-values" -> nValues.toString),
      expectedSnapshotId = Some(base))
  }

  /** Stage (write + footer-stat + null-reject) one equality-delete key
    * file for `keyCols`, WITHOUT committing — shared by [[deleteEq]]
    * and [[mergeDelta]]. Returns (entries, encoded key, value count);
    * an empty feed stages nothing and returns zero entries (callers
    * commit the audit no-op or skip). */
  private def stageEqDelete(keyCols: Seq[String], keys: DataFrame)
      : (Seq[DataFileEntry], String, Long) = {
    require(keyCols.nonEmpty, "equality delete needs at least one key column")
    val fields = keyCols.map(keyField)
    val names = fields.map(_.name)
    require(names.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size == names.size,
      s"duplicate key columns: ${names.mkString(", ")}")
    // comma is the composite encoding in the log's equalityKey field
    require(names.forall(!_.contains(",")),
      s"key column names cannot contain ',': ${names.mkString(", ")}")
    require(keys.schema.fields.length == fields.length,
      s"delete feed must carry exactly the key columns (${names.mkString(", ")}), " +
        s"got (${keys.columns.mkString(", ")})")
    val encodedKey = names.mkString(",")
    // distinct BEFORE the single-file coalesce so the MAP-side partial
    // dedup runs parallel; coalesce(1) (round 18) folds the final dedup
    // into the single write task instead of repartition(1)'s extra
    // exchange — one less shuffle per commit, same one output file,
    // and the final-task size is bounded by the same invariant that
    // makes the key set broadcastable at scan time
    val keyDf = keys.toDF(names: _*)
      .select(fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .distinct().coalesce(1)
    val delDir = catalog.dataDir(namespace, name)
      .resolve(s"eqdel-${java.util.UUID.randomUUID().toString.take(12)}")
    // a managed write here too: a timestamp KEY column written INT96
    // would carry no footer stats, degrading the delete tier's
    // bounds-overlap selection (rewriteDeleteFiles) to rewrite-everything
    keyDf.write.format(ManagedParquetFormat.Name)
      .mode("overwrite").save(delDir.toString)
    val delFiles = listParquet(delDir.toString).map { p =>
      statFile(p, Map.empty)
        .copy(deleteFile = Some(true), equalityKey = Some(encodedKey))
    }
    val nValues = delFiles.map(_.rowCount).sum
    if (nValues == 0) {
      graft.util.Fs.deleteTree(delDir)
      return (Seq.empty, encodedKey, 0L)
    }
    // null rejection from footer metadata; a footer without the null
    // count (shouldn't happen for parquet we just wrote) re-checks with
    // one filter job rather than trusting absence
    val nullKeys = names.map(n => delFiles.map(f =>
      f.nullCounts.flatMap(_.get(n)).getOrElse {
        val key = LogScan.keyFields(spark, f, Seq(n))
        LogScan.read(spark, StructType(key), Seq(f))
          .filter(col(key.head.name).isNull).count()
      }).sum).sum
    if (nullKeys > 0) {
      graft.util.Fs.deleteTree(delDir)
      throw new IllegalArgumentException(
        s"deleteEq feed carries $nullKeys null key value(s) — equality is " +
          "null-rejecting; filter them out (or delete IS NULL rows via " +
          "deleteMor)")
    }
    (delFiles, encodedKey, nValues)
  }

  /** DELTA-SIZED MERGE (merge-on-read upsert — the Iceberg v2
    * equality-delete MERGE, the scale path for keyed streaming CDC):
    * ONE commit whose file list is the batch's equality-delete key file
    * FOLLOWED by the batch's data files. Replay order makes the
    * semantics exact: the key file applies to every data file committed
    * before it (the old rows for those keys disappear), while the
    * batch's own rows — listed after it — survive. Per-commit cost is
    * BATCH-sized: no table scan, no anti-join against existing data,
    * no rewrite of any pre-existing file (they all carry by path,
    * untouched) — at 100 TB each micro-batch trigger costs its own
    * delta, not a table pass, which is the difference between a
    * streaming MERGE sink that works and one that rewrites the table
    * per trigger. Scans pay one key-file scan and one broadcast join
    * per key-column set, at any number of outstanding key files
    * ([[EqDeletes]]); [[compact]]/[[rewriteDataFiles]]
    * materializes and retires them on the usual maintenance cadence.
    *
    * On a partitioned table the batch's data files are hash-clustered
    * by partition value (`write.distribution-mode=hash`, the layout
    * Iceberg's Spark writer uses under that mode) unless the table
    * sets the property: ONE file per partition value per commit,
    * whatever task split the caller's dedup shuffle left, so a stream
    * of small triggers does not leave tasks × values footer-dominated
    * files for every later read and compaction to open. The batch is
    * delta-sized, so the extra shuffle is too. An explicit
    * `write.distribution-mode` (`none` included) still decides.
    *
    * `rows` must be batch-deduplicated to one row per key tuple
    * (callers: [[graft.pipeline.Upsert.dedupIncoming]]); null-keyed
    * rows append WITHOUT deleting anything (equality is null-rejecting
    * — exactly the anti-join MERGE's semantics). `extraDeleteKeys`
    * carries delete-only keys (a CDC feed's 'D' ops), positionally
    * mapped onto `keyCols`.
    *
    * The commit is BLIND (no expected snapshot): it derives nothing
    * from current content — "new beats whatever precedes in replay
    * order" is the contract at any interleaving, so concurrent merges
    * serialize by log position instead of aborting each other. */
  def mergeDelta(keyCols: Seq[String], rows: DataFrame,
      extraDeleteKeys: Option[DataFrame] = None,
      summary: Map[String, String] = Map.empty,
      cacheFeed: Boolean = true): Snapshot = {
    val fields = keyCols.map(keyField)
    val names = fields.map(_.name)
    // the feed plan feeds TWO write jobs (key file, then data files) —
    // persist it once so a CDC batch's upstream dedup/shuffle doesn't
    // run twice per trigger (batches are feed-sized by contract).
    // Respect a CALLER's cache: persisting an already-cached Dataset is
    // a no-op, but unpersisting it here would evict the caller's entry
    // — only drop what this method created. `cacheFeed = false` is for
    // callers whose feed already reads from their own cached ancestor
    // (applyChanges), where a second cache layer buys nothing.
    val cacheHere = cacheFeed &&
      rows.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val batch =
      if (cacheHere)
        rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else rows
    try {
      val ownKeys = batch.select(names.map(col): _*).na.drop("any")
      val feed = extraDeleteKeys match {
        // NULL extra tuples drop like ownKeys' do — equality is
        // null-rejecting per column, so a CDC 'D' row with a null key
        // is a no-op (the COW anti-join / EqDeleteRoute IN semantics).
        // The drop runs BEFORE the key cast: a non-null value the cast
        // cannot represent must still reach stageEqDelete's loud null
        // rejection (a mistyped delete key is a bug, not a no-op).
        case Some(extra) => ownKeys.unionByName(extra.toDF(names: _*)
          .na.drop("any")
          .select(names.zip(fields).map { case (n, f) =>
            col(n).cast(f.dataType).as(n) }: _*))
        case None => ownKeys
      }
      val (delFiles, encodedKey, nValues) = stageEqDelete(keyCols, feed)
      // v3 row lineage (round 17): on a lineage-enabled table the merge
      // CARRIES matched rows' ids — see [[carryMergeRowIds]]. An empty
      // feed has no keys to match, so everything is an insert and the
      // plain commit-time assignment applies.
      val lineageMode =
        meta.properties.get(Snaplog.RowLineageProp).contains("true") &&
          delFiles.nonEmpty
      val dataFiles =
        if (!lineageMode) stageDataFiles(Seq(batch), defaultDistribution = "hash")
        else stageDataFiles(Seq(carryMergeRowIds(names, batch, delFiles)),
          carriedRowId = true, defaultDistribution = "hash")
      catalog.commit(namespace, name, Snaplog.OpEqDelete,
        delFiles ++ dataFiles,
        summary ++ Map("equality-key" -> encodedKey,
          "delete-values" -> nValues.toString,
          "merge-files" -> dataFiles.size.toString,
          "merge-rows" -> dataFiles.map(_.rowCount).sum.toString))
    } finally if (cacheHere) batch.unpersist(false)
  }

  /** Iceberg v3 MERGE UPDATE semantics for [[mergeDelta]] on a
    * row-lineage table: an updated row SHOULD keep its `_row_id` (only
    * `_last_updated_sequence_number` bumps), so a CDC consumer keying
    * on row id tracks identity across updates. This attaches the
    * PRE-MERGE `_row_id` to each batch row whose key tuple matches a
    * currently-visible row; the value is MATERIALIZED into the written
    * files (nullable physical column under the reserved v3 field id —
    * the same carry mechanism compaction uses), null for unmatched
    * (insert) rows, which draw fresh ids from the commit-time
    * assignment. The lineage read's per-row coalesce (physical first,
    * then `first_row_id + pos`) serves both from one file.
    *
    * Scale shape: the probe does NOT break mergeDelta's batch-sized
    * cost model at the file level — the staged delete file's footer
    * bounds select only the data files whose key-column [min,max]
    * bounds overlap the batch's keys ([[EqDeletes.touchedDataPaths]],
    * the same attribution the delete-tier compaction trusts), the
    * matched-id lookup is a broadcast semi-join + key-grouped min (the
    * carried map is batch-key-sized), and the batch-side join
    * broadcasts that map. A key-clustered table prunes to the touched
    * slice; a fully interleaved key column degrades to one pruned scan
    * of overlapping files per merge — the price of the v3 update
    * contract, paid only on lineage-enabled tables.
    *
    * A key matching SEVERAL visible rows carries the SMALLEST matched
    * `_row_id` (deterministic); the other matched identities end with
    * their rows, exactly as the merge's delete-then-insert semantics
    * dictate. Concurrent merges carrying the same key both write the
    * same carried id; replay order leaves exactly one image visible,
    * so visible ids stay unique. */
  private def carryMergeRowIds(names: Seq[String], batch: DataFrame,
      delFiles: Seq[DataFileEntry]): DataFrame = {
    import graft.types.FieldIds.RowIdCol
    val ordered = catalog.liveEntriesOrdered(namespace, name)
    val statsUnsafe = graft.types.FieldIds.namesSet(
      meta.properties, graft.types.FieldIds.StatsUnsafeProp)
    val dataEntries = ordered.filterNot(_.deleteFile.contains(true))
    val touched = EqDeletes.touchedDataPaths(spark,
      dataEntries ++ delFiles, statsUnsafe, schema)
    if (touched.isEmpty)
      return batch.withColumn(RowIdCol, lit(null).cast(LongType))
    val pre = lineageFrame(ordered, f => touched(f.path))
    // the staged delete file IS the batch's distinct non-null key set
    // (stageEqDelete dedups and null-rejects before writing) — read it
    // back instead of re-deriving from the batch (round 18): one tiny
    // file read replaces a batch scan + distinct shuffle per merge
    val keys = LogScan.read(spark,
        StructType(LogScan.keyFields(spark, delFiles.head, names)), delFiles)
      .toDF(names: _*).coalesce(1)
    val carried = pre.join(broadcast(keys), names.toSeq, "left_semi")
      .groupBy(names.map(col): _*)
      .agg(min(col(RowIdCol)).as("__carried_rid"))
    batch.join(broadcast(carried), names.toSeq, "left")
      .withColumn(RowIdCol, col("__carried_rid"))
      .drop("__carried_rid")
  }

  private def keyField(keyCol: String): StructField = {
    val f = schema.fields.find(_.name.equalsIgnoreCase(keyCol)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$keyCol' in $namespace.$name"))
    // Iceberg's equality-delete fields are primitives for a reason:
    // nested equality has no footer stats (attribution degrades to
    // touch-everything), no recorded null counts (the null-rejection
    // proof collapses to a scan), and struct equality semantics vary
    // by reader. Refuse loudly rather than half-support it.
    require(!isNestedType(f.dataType),
      s"equality-delete key '$keyCol' of $namespace.$name is nested " +
        "(struct/map/array) — key on a flat column (extract the leaf " +
        "into its own column if needed)")
    f
  }

  /** Merge-on-read row-level DELETE (the Iceberg v2 position-delete
    * tier, complement of the COW [[delete]]): instead of rewriting the
    * files that contain matches, write ONE small parquet of matched
    * `(file_path, row_index)` positions — each row's file found by its
    * replay index (`__scan_seq`) and recorded in the log's own path
    * text — and commit it as a layered
    * `mor_delete` snapshot. Data files are untouched — at 100 TB a
    * scattered-predicate delete costs one pushdown scan + a vector
    * write, not a file-set rewrite. Scans subtract the vector with a
    * broadcast anti-join; [[compact]] (any reset commit) materializes
    * outstanding vectors and retires them.
    *
    * One pass: positions come from the MOR-applied scan, so the vector
    * records only currently VISIBLE matches — rows an outstanding
    * position vector or equality delete already removed never enter it
    * — and `deleted-rows` is the vector's row count, exact by
    * construction. */
  def deleteMor(condition: Column): Snapshot = {
    val base = currentSnapshotId
    val ordered = catalog.liveEntriesOrdered(namespace, name)
    if (!ordered.exists(f => !f.deleteFile.contains(true)))
      return catalog.commit(namespace, name, Snaplog.OpMorDelete, Seq.empty,
        Map("deleted-rows" -> "0"))
    // ONE pass (round 18, guide §1.2): positions come from the MOR-
    // APPLIED assembly with scan metadata retained — outstanding
    // position vectors AND equality deletes are already subtracted, so
    // the vector records exactly the currently-VISIBLE matches,
    // re-deleting records nothing twice, and `recorded == deleted rows`
    // by construction. The former shape scanned the RAW files for
    // positions and then, with equality deletes outstanding, ran a
    // SECOND full MOR scan just to count for the summary — at 100 TB
    // that doubled every position-delete's data pass. (Positions of
    // rows an outstanding eq delete already removed used to re-record
    // harmlessly; they are simply no longer visible to record — every
    // snapshot that lists this vector also lists that eq delete, which
    // only reset commits retire, so those rows stay deleted either way.)
    import spark.implicits._
    val paths = ordered.map(_.path).zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("__mor_seq", "__mor_path")
    val matched = assembleOrdered(ordered, _ => true, retainMeta = true)
      .filter(condition)
      .join(broadcast(paths), col("__scan_seq") === col("__mor_seq"))
      .select(col("__mor_path").as("file_path"),
        col("__scan_pos").as("row_index"))
    val vecDir = catalog.dataDir(namespace, name)
      .resolve(s"delta-${java.util.UUID.randomUUID().toString.take(12)}")
    matched.coalesce(1).write.format(ManagedParquetFormat.Name)
      .mode("overwrite").save(vecDir.toString)
    val vecFiles = listParquet(vecDir.toString).map { p =>
      statFile(p, Map.empty).copy(deleteFile = Some(true))
    }
    val recorded = vecFiles.map(_.rowCount).sum
    if (recorded == 0) {
      // no matches: clean up the empty vector, commit an audit no-op
      graft.util.Fs.deleteTree(vecDir)
      return catalog.commit(namespace, name, Snaplog.OpMorDelete, Seq.empty,
        Map("deleted-rows" -> "0"), expectedSnapshotId = Some(base))
    }
    catalog.commit(namespace, name, Snaplog.OpMorDelete, vecFiles,
      Map("deleted-rows" -> recorded.toString,
        "delete-vectors" -> vecFiles.size.toString),
      expectedSnapshotId = Some(base))
  }

  // ---- maintenance ------------------------------------------------------

  /** PARTIAL compaction — Iceberg's `rewrite_data_files` with a file
    * selector: rewrite ONLY the selected live data files toward the
    * target size, carrying everything else BY PATH in one conditional
    * replace commit. At 100 TB this is the maintenance primitive —
    * rewriting the whole table ([[compact]]) to fix a streaming sink's
    * small-file tail is infeasible; rewriting last hour's 2 GB is not.
    *
    * Delete layering is preserved WITHOUT materializing the untouched
    * part: the selected files' content is read through full MOR
    * application (their equality/position deletes materialize into the
    * rewrite), while the carried listing keeps every un-selected data
    * file AND every delete entry in replay order — so deletes keep
    * applying to the carried files that precede them, and the
    * rewritten files land at the END of the listing where no delete
    * touches them (their rows are already post-delete). Vectors
    * pointing at rewritten (dropped) paths match nothing by
    * construction. Content is identical before and after — the
    * changelog treats the commit as a no-op, like [[compact]].
    *
    * Rewritten files lay out under the CURRENT partition spec, which
    * makes `rewriteDataFiles(preSpecFiles)` the incremental migration
    * path after [[updateSpec]]. Empty selection returns the current
    * snapshot without committing. */
  def rewriteDataFiles(
      select: DataFileEntry => Boolean,
      targetFileSizeBytes: Long = 512L * 1024 * 1024): Snapshot = {
    val base = currentSnapshotId
    val ordered = catalog.liveEntriesOrdered(namespace, name)
    val (sel, rest) = ordered.partition(f =>
      !f.deleteFile.contains(true) && select(f))
    if (sel.isEmpty)
      return catalog.currentSnapshot(namespace, name).getOrElse(
        throw new IllegalStateException(
          s"table $namespace.$name has no snapshots"))
    val selPaths = sel.map(_.path).toSet
    val totalBytes = sel.map(_.sizeBytes).sum
    val n = math.max(1L,
      (totalBytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
    replaceRewrite(ordered, f => selPaths(f.path), n,
      Map("rewritten-files" -> sel.size.toString,
        "carried-files" ->
          rest.count(!_.deleteFile.contains(true)).toString,
        "carried-delete-entries" ->
          rest.count(_.deleteFile.contains(true)).toString),
      carry = rest, base = base)
  }

  /** [[rewriteDataFiles]] selector: bin-pack the small-file tail. */
  def rewriteSmallFiles(smallerThanBytes: Long,
      targetFileSizeBytes: Long = 512L * 1024 * 1024): Snapshot =
    rewriteDataFiles(_.sizeBytes < smallerThanBytes, targetFileSizeBytes)

  /** [[rewriteDataFiles]] selector: migrate files written before the
    * current partition spec (no recorded value for some spec field) —
    * the incremental uniformity restorer after [[updateSpec]]. */
  def rewriteOldSpecFiles(
      targetFileSizeBytes: Long = 512L * 1024 * 1024): Snapshot = {
    val fields = PartitionTransforms.parseAll(meta.partitionColumns)
      .map(_.fieldName)
    rewriteDataFiles(
      f => !fields.forall(f.partitionValues.contains), targetFileSizeBytes)
  }

  /** Retire the DELETE tier without rewriting untouched data —
    * Iceberg's `rewrite_position_delete_files` + dangling-delete
    * removal taken to completion: every data file a delete could
    * possibly touch re-materializes through full MOR application,
    * every other live file carries BY PATH, and NO delete entry
    * survives the commit. Affected =
    *  - every path an outstanding position vector records (vectors are
    *    read once; distinct `file_path` is file-count-bounded);
    *  - for each equality delete, the data files PRECEDING it in
    *    replay order whose key-column [min,max] bounds OVERLAP the
    *    delete file's own recorded key bounds (compared in the
    *    bounds' collection domain — strings lexicographically,
    *    numerics as doubles; see [[EqDeletes.touchedDataPaths]]) — a
    *    provably key-disjoint file cannot hold a deleted tuple.
    *    Missing stats / undecidable types / NaN / evolution-rebound
    *    key columns = affected (conservative).
    * Content is identical before and after (the changelog treats the
    * replace as a no-op, like [[compact]]). At 100 TB this is the
    * maintenance move that keeps MOR read amplification bounded
    * without a full rewrite: last week's CDC deletes touch last
    * week's files, not the other 99 %.
    * No outstanding deletes = no-op (current snapshot, no commit). */
  def rewriteDeleteFiles(
      targetFileSizeBytes: Long = 512L * 1024 * 1024): Snapshot = {
    val base = currentSnapshotId
    val ordered = catalog.liveEntriesOrdered(namespace, name)
    val deletes = ordered.filter(_.deleteFile.contains(true))
    if (deletes.isEmpty)
      return catalog.currentSnapshot(namespace, name).getOrElse(
        throw new IllegalStateException(
          s"table $namespace.$name has no snapshots"))
    val statsUnsafe = graft.types.FieldIds.namesSet(
      meta.properties, graft.types.FieldIds.StatsUnsafeProp)
    // one shared definition of delete-touch attribution (also the DSv2
    // scan's metadata-aggregate gate) — see EqDeletes.touchedDataPaths
    val touched = EqDeletes.touchedDataPaths(spark, ordered, statsUnsafe,
      meta.schema)
    val dataFiles = ordered.filterNot(_.deleteFile.contains(true))
    val sel = dataFiles.filter(f => touched(f.path))
    val selPaths = sel.map(_.path).toSet
    val rest = dataFiles.filterNot(f => selPaths(f.path))
    val totalBytes = math.max(1L, sel.map(_.sizeBytes).sum)
    val n = math.max(1L,
      (totalBytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
    replaceRewrite(ordered, f => selPaths(f.path), n,
      Map("rewritten-files" -> sel.size.toString,
        "retired-delete-entries" -> deletes.size.toString,
        "carried-files" -> rest.size.toString),
      carry = rest, base = base)
  }


  /** ANALYZE: one distributed pass computing per-column NDV (theta
    * sketches, see [[TableStats]]) over the CURRENT net content — the
    * MOR-subtracted scan, so outstanding deletes never inflate
    * cardinality. Persists two artifacts:
    *
    *  - a puffin statistics file of `apache-datasketches-theta-v1`
    *    blobs (one per column, field-id addressed) next to the data —
    *    the Iceberg statistics-file shape, exported verbatim;
    *  - a JSON summary in table properties the SQL scan reports to
    *    Spark's planner with zero I/O (`columnStats()` → CBO filter
    *    selectivity and join reordering).
    *
    * Stats are ANALYZE-semantics: pinned to the analyzed snapshot id,
    * advisory afterwards (a stale NDV misorders a join at worst, never
    * mis-answers a query — correctness never consults this tier).
    * Defaults to every analyzable top-level column.
    *
    * `histogramColumns` additionally computes equi-height histograms
    * (two more bounded passes, [[TableStats.histograms]]) for CBO
    * range estimation over skewed distributions — native-only (no
    * Iceberg statistics blob type exists for histograms), carried in
    * the property summary. */
  def analyze(columns: Seq[String] = Seq.empty,
      histogramColumns: Seq[String] = Seq.empty,
      numBins: Int = 64): Map[String, TableStats.ColNdv] = {
    val m = meta
    val snap = catalog.currentSnapshot(namespace, name).getOrElse(
      throw new IllegalStateException(
        s"$namespace.$name: ANALYZE needs at least one snapshot"))
    val schema = m.schema
    val byName = schema.fields.map(f => f.name -> f).toMap
    val cols =
      if (columns.nonEmpty) {
        columns.foreach { c =>
          val f = byName.getOrElse(c, throw new IllegalArgumentException(
            s"$namespace.$name: ANALYZE column '$c' not in schema"))
          require(TableStats.analyzable(f.dataType),
            s"$namespace.$name: ANALYZE column '$c' has type " +
              s"${f.dataType} — no single-value binary form to sketch")
        }
        columns
      } else schema.fields.filter(f => TableStats.analyzable(f.dataType))
        .map(_.name).toSeq
    require(cols.nonEmpty,
      s"$namespace.$name: no analyzable columns (all nested?)")
    histogramColumns.foreach { c =>
      val f = byName.getOrElse(c, throw new IllegalArgumentException(
        s"$namespace.$name: histogram column '$c' not in schema"))
      require(TableStats.histogramType(f.dataType),
        s"$namespace.$name: histogram column '$c' has type ${f.dataType} — " +
          "no ordered double space for equi-height bins")
      require(cols.contains(c),
        s"$namespace.$name: histogram column '$c' must also be analyzed " +
          "(include it in `columns`, or leave `columns` empty)")
    }
    val content = scan()
    val collected = TableStats.collect(content, cols)
    val hists =
      if (histogramColumns.isEmpty) Map.empty[String, Seq[TableStats.Bin]]
      else TableStats.histograms(content, histogramColumns, numBins)
    // field ids from the registry (every managed table carries one);
    // the puffin blob addresses columns by id, the property summary by
    // name — both are needed, ids for interop, names for the scan
    val reg = m.properties.get(graft.types.FieldIds.RegistryProp)
      .map(graft.types.FieldIds.decode).getOrElse(Map.empty)
    val ids = cols.zipWithIndex.map { case (c, i) =>
      reg.getOrElse(c, i + 1)
    }
    // sequence model shared with the Iceberg exporter: a snapshot's
    // high sequence is the cumulative PUBLISHED file count at it (WAP
    // staged commits excluded on both sides)
    val seq = catalog.snapshots(namespace, name)
      .filterNot(graft.catalog.Snaplog.isWapStaged)
      .takeWhile(_.snapshotId != snap.snapshotId).map(_.files.size).sum +
      (if (graft.catalog.Snaplog.isWapStaged(snap)) 0 else snap.files.size)
    val statsDir = catalog.dataDir(namespace, name).resolve("stats")
    java.nio.file.Files.createDirectories(statsDir)
    val statsPath = statsDir.resolve(
      s"stats-${snap.snapshotId}-${java.util.UUID.randomUUID()}.puffin")
    graft.interop.Puffin.writeStats(statsPath,
      cols.indices.map(i => (ids(i), collected(i)._1, collected(i)._2.ndv)),
      snap.snapshotId, seq.toLong)
    val summary = cols.indices.map(i => cols(i) ->
      collected(i)._2.copy(hist = hists.get(cols(i)))).toMap
    catalog.updateProperties(namespace, name,
      set = Map(
        TableStats.SnapshotProp -> snap.snapshotId.toString,
        TableStats.PathProp -> statsPath.toString,
        TableStats.SummaryProp -> TableStats.encodeSummary(summary)),
      // a full pass sketches everything — any adopted-ancestor
      // provenance marker is now satisfied
      unset = Seq(TableStats.AdoptedAncestorProp))
    summary
  }

  /** INCREMENTAL ANALYZE: sketch only the rows appended since the last
    * analyze and UNION the theta sketches — at 100 TB the difference
    * between re-scanning the table and scanning the day's delta.
    * Sound exactly when the window holds pure data appends (theta
    * sketches union, never subtract): any delete/rewrite/expired
    * watermark in the window refuses with full-analyze guidance.
    * Old outstanding MOR state stays sound — an equality delete
    * applies only to files PRECEDING it in replay order and a position
    * vector references fixed files, so post-watermark appends are
    * untouched by pre-watermark deletes. Histograms drop (equi-height
    * boundaries are distribution-wide); avg/max lengths merge weighted
    * by the stored non-null counts. */
  def analyzeIncremental(): Map[String, TableStats.ColNdv] = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val m = meta
    val props = m.properties
    val watermark = props.get(TableStats.SnapshotProp).map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"$namespace.$name: no prior ANALYZE to increment — run analyze()"))
    val statsPath = props.get(TableStats.PathProp).map(JPaths.get(_))
      .filter(JFiles.isRegularFile(_))
      .getOrElse(throw new IllegalStateException(
        s"$namespace.$name: stats file missing — run analyze()"))
    val cur = catalog.currentSnapshot(namespace, name).getOrElse(
      throw new IllegalStateException(s"$namespace.$name: empty table"))
    // stats adopted from a foreign ANCESTOR statistics entry do not
    // cover rows appended between the foreign ANALYZE and the import —
    // treating the watermark as fully sketched would leave that gap
    // permanently unsketched (an immediate run would even no-op as
    // "up to date"). Only a full pass closes the gap.
    props.get(TableStats.AdoptedAncestorProp).foreach { src =>
      throw new IllegalStateException(
        s"$namespace.$name: stored statistics were adopted from foreign " +
          s"snapshot $src, an ANCESTOR of the imported content — the gap " +
          "rows were never sketched; run a full analyze()")
    }
    val stored = TableStats.fromProperties(props)
    require(stored.nonEmpty,
      s"$namespace.$name: stored stats summary empty — run analyze()")
    if (cur.snapshotId == watermark) return stored // up to date: no-op
    val published = catalog.snapshots(namespace, name)
      .filterNot(graft.catalog.Snaplog.isWapStaged)
    require(published.exists(_.snapshotId == watermark),
      s"$namespace.$name: analyzed snapshot $watermark expired from " +
        "history — run a full analyze()")
    val window = published.filter(s =>
      s.snapshotId > watermark && s.snapshotId <= cur.snapshotId)
    val pureAppends = window.forall(s =>
      Set(Snaplog.OpAppend, Snaplog.OpAddFiles)(s.operation) &&
        s.files.forall(!_.deleteFile.contains(true)))
    require(pureAppends,
      s"$namespace.$name: the window since snapshot $watermark carries " +
        "deletes or rewrites — a theta sketch cannot subtract; run a " +
        "full analyze()")
    // stored sketches by column through the field-id registry
    val reg = props.get(graft.types.FieldIds.RegistryProp)
      .map(graft.types.FieldIds.decode).getOrElse(Map.empty[String, Int])
    val idToCol = reg.filterNot(_._1.contains(".")).map(_.swap)
    val blobByCol: Map[String, Array[Byte]] =
      graft.interop.Puffin.readFooter(statsPath)
        .filter(b => b.tpe == graft.interop.Puffin.ThetaV1 &&
          b.fields.length == 1)
        .flatMap(b => idToCol.get(b.fields.head).map(c =>
          c -> graft.interop.Puffin.readBlobBytes(statsPath, b.offset, b.length)))
        .toMap
    val cols = stored.keys.toSeq.sorted.filter(blobByCol.contains)
    require(cols.nonEmpty,
      s"$namespace.$name: stored puffin carries no matching sketches — " +
        "run a full analyze()")
    val collected = TableStats.collect(scanIncremental(watermark), cols)
    val byCol = cols.zip(collected).toMap
    val merged = cols.map { c =>
      val union = TableStats.unionSketches(blobByCol(c), byCol(c)._1)
      val ndv = TableStats.estimate(union)
      (c, union, TableStats.mergeLens(stored(c), byCol(c)._2, ndv))
    }
    val ids = cols.map(c => reg.getOrElse(c, cols.indexOf(c) + 1))
    val seq = published.takeWhile(_.snapshotId != cur.snapshotId)
      .map(_.files.size).sum + cur.files.size
    val statsDir = catalog.dataDir(namespace, name).resolve("stats")
    JFiles.createDirectories(statsDir)
    val outPath = statsDir.resolve(
      s"stats-${cur.snapshotId}-${java.util.UUID.randomUUID()}.puffin")
    graft.interop.Puffin.writeStats(outPath,
      merged.indices.map(i => (ids(i), merged(i)._2, merged(i)._3.ndv)),
      cur.snapshotId, seq.toLong)
    val summary = merged.map(x => x._1 -> x._3).toMap
    catalog.updateProperties(namespace, name,
      set = Map(
        TableStats.SnapshotProp -> cur.snapshotId.toString,
        TableStats.PathProp -> outPath.toString,
        TableStats.SummaryProp -> TableStats.encodeSummary(summary)),
      unset = Seq.empty)
    summary
  }

  /** Compact the live file set: rewrite the current snapshot into
    * ceil(totalBytes / targetFileSizeBytes) files (≥1) and commit as a
    * `replace` snapshot — same data, new layout, history preserved.
    * The many-small-files problem is THE lakehouse maintenance task at
    * scale: compaction restores large sequential scans and shrinks
    * planning metadata. Default target mirrors the reference's 512 MB
    * `write.target-file-size-bytes` (`main-daft.py:106`).
    *
    * @param sortBy optional clustering columns: the rewrite range-
    *   partitions and sorts on them, so each output file covers a
    *   DISJOINT value range and the per-file [min,max] bounds in the
    *   log become maximally selective for stat-based skipping (the
    *   sort-order compaction every table format offers alongside
    *   plain bin-packing). Empty = plain round-robin bin-packing. */
  def compact(targetFileSizeBytes: Long = 512L * 1024 * 1024,
      sortBy: Seq[String] = Seq.empty): Snapshot = {
    val base = currentSnapshotId
    val ordered = catalog.liveEntriesOrdered(namespace, name)
    val files = ordered.filterNot(_.deleteFile.contains(true))
    val totalBytes = files.map(_.sizeBytes).sum
    val n = math.max(1L, (totalBytes + targetFileSizeBytes - 1) / targetFileSizeBytes).toInt
    replaceRewrite(ordered, _ => true, n,
      Map("compacted-files" -> files.size.toString,
        "compacted-bytes" -> totalBytes.toString) ++
        (if (sortBy.isEmpty) Map.empty
         else Map("sort-order" -> sortBy.mkString(","))),
      carry = Seq.empty, base = base, sortBy = sortBy)
  }

  /** One REPLACE commit rewriting the content of the entries `keep`
    * selects (everything else carries by entry) — shared by
    * [[compact]], [[rewriteDataFiles]] and [[rewriteDeleteFiles]]. On
    * a ROW-LINEAGE table the rewritten files MATERIALIZE
    * `_row_id`/`_last_updated_sequence_number` (reserved v3 field ids,
    * entries marked `lineageInFile`), so surviving rows keep their
    * identity across the rewrite — the spec's carry mechanism; plain
    * tables rewrite exactly as before. */
  private def replaceRewrite(ordered: Seq[DataFileEntry],
      keep: DataFileEntry => Boolean, n: Int,
      summary: Map[String, String], carry: Seq[DataFileEntry],
      base: Long, sortBy: Seq[String] = Seq.empty): Snapshot = {
    val lineageMode =
      meta.properties.get(Snaplog.RowLineageProp).contains("true")
    val content =
      if (lineageMode) lineageFrame(ordered, keep)
      else assembleOrdered(ordered, f => !f.deleteFile.contains(true) && keep(f))
    val laid =
      if (sortBy.isEmpty) content.repartition(n)
      else content.repartitionByRange(n, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    val entries = stageDataFiles(Seq(laid), withLineageCols = lineageMode)
    catalog.commit(namespace, name, Snaplog.OpReplace, carry ++ entries,
      summary, expectedSnapshotId = Some(base))
  }

  /** PARTITION EVOLUTION (Iceberg `update_spec`): replace the partition
    * spec metadata-only — zero data movement at any table size. New
    * writes (appends, COW rewrites, compaction) lay out and record
    * partition values under the new spec; existing files keep theirs.
    * Reads stay EXACT on mixed tables: every metadata prune path keeps
    * a file that lacks a current-spec value (conservative), transform-
    * predicate consumption and metadata aggregates require full
    * coverage before claiming exactness, and `scan(partitionFilter)`
    * re-applies identity filters row-level over uncovered files.
    * Layout-attributing operations (dynamic partition overwrite,
    * Iceberg metadata export of affected snapshots) refuse mixed
    * coverage loudly; `compact()` rewrites everything under the
    * current spec and restores uniformity. Spec legality re-runs the
    * create-time validation (source columns exist, transform source
    * types usable, derived names collide with nothing). */
  def updateSpec(newPartitionColumns: Seq[String]): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    val m = meta
    PartitionTransforms.validate(m.schema, newPartitionColumns)
    if (m.partitionColumns == newPartitionColumns) m
    else {
      // A re-parameterized transform (bucket(4,id) -> bucket(8,id),
      // truncate width change) derives the SAME field name, so files
      // written under the old parameters would pass every coverage
      // check and have their old-parameter values consumed as
      // current-spec values — mayMatch would prune wrongly (silent
      // wrong results for WHERE id = X), SpjKeys would group by stale
      // bucket indexes, and the Iceberg export's coverage guard would
      // pass while external readers mis-prune. Refuse whenever ANY
      // retained file (live or time-travelable) records a value under
      // a reused derived name whose producing transform cannot be
      // proven identical.
      def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      val oldBySpec = PartitionTransforms.parseAll(m.partitionColumns)
        .map(pf => lower(pf.fieldName) -> pf.spec).toMap
      val newFields = PartitionTransforms.parseAll(newPartitionColumns)
        .filterNot(_.isInstanceOf[IdentityField])
      val suspect = newFields.filter(pf =>
        !oldBySpec.get(lower(pf.fieldName)).contains(pf.spec))
      if (suspect.nonEmpty) {
        val recorded = catalog.snapshots(namespace, name)
          .iterator.flatMap(_.files)
          .filterNot(_.deleteFile.contains(true))
          .flatMap(_.partitionValues.keysIterator.map(lower)).toSet
        val clash = suspect.filter(pf => recorded(lower(pf.fieldName)))
        require(clash.isEmpty,
          s"partition spec evolution to (${newPartitionColumns.mkString(", ")}) " +
            s"reuses derived field name(s) ${clash.map(_.fieldName).mkString(", ")} " +
            "already recorded by retained files under different transform " +
            "parameters — their stored values would be consumed as " +
            "current-spec values and silently mis-prune; evolve the field " +
            "away, compact(), expireSnapshots() so no retained file records " +
            "the name, then re-evolve")
      }
      catalog.updatePartitionSpec(namespace, name, newPartitionColumns)
    }
  }

  /** Additive schema evolution: add a nullable column. Existing data
    * files stay untouched — scans fill the column with null (parquet
    * read-schema reconciliation), new writes carry it. */
  def addColumn(colName: String, dataType: DataType): TableMetadata =
    addFields(Seq((Seq(colName), dataType, None)))

  /** [[addColumn]] with a DEFAULT — Iceberg v3's initial/write-default
    * semantics, metadata-only at any table size. `defaultSql` is a
    * constant-foldable SQL expression (validated and folded HERE, at
    * evolution time — non-constant defaults refuse loudly); the folded
    * literal lands in the stored schema under Spark's own
    * `EXISTS_DEFAULT` key (rows that PREDATE the column — parquet's
    * readers fill missing columns from it, so old files answer the
    * default instead of null in every plan shape) and the original
    * text under `CURRENT_DEFAULT` (rows written WITHOUT the column
    * from here on: SQL INSERTs resolve it in the analyzer, API batches
    * in [[graft.types.SchemaInfer.normalize]]'s missing-column fill).
    * EXISTS_DEFAULT is immutable after the add — [[setColumnDefault]]
    * edits only the write-side default, so files already interpreted
    * under one existence default can never silently re-read under
    * another. Iceberg v2 export REFUSES defaults-bearing tables
    * (`initial-default` is v3; a v2 reader would null-fill where graft
    * serves values). */
  def addColumn(colName: String, dataType: DataType,
      defaultSql: String): TableMetadata =
    addFields(Seq((Seq(colName), dataType, Some(defaultSql))))

  /** Batch form of [[addColumn]]: validates EVERY addition (against the
    * current schema and against each other) BEFORE committing, then
    * commits the evolved schema ONCE — a multi-column ALTER can never
    * land a partial evolution and then throw. New columns take ids
    * above the high-water mark, so a name that was previously DROPPED
    * re-adds under a FRESH id — old files hold no field with it, and
    * the old data can never resurrect. */
  def addColumns(cols: Seq[(String, DataType)]): TableMetadata =
    addFields(cols.map { case (n, dt) => (Seq(n), dt, None) })

  /** [[addColumns]] with an optional DEFAULT per column. */
  def addColumnsDefaulted(
      cols: Seq[(String, DataType, Option[String])]): TableMetadata =
    addFields(cols.map { case (n, dt, d) => (Seq(n), dt, d) })

  /** `ALTER COLUMN … SET/DROP DEFAULT` — edits ONLY the write-side
    * default (`CURRENT_DEFAULT`): future rows written without the
    * column take the new default (SQL INSERTs via the analyzer, API
    * batches via normalize's fill). The EXISTENCE default is immutable
    * after the add by design — files already interpreted under one
    * existence default must never silently re-read under another — so
    * a SET DEFAULT on a column added WITHOUT one leaves old files
    * null-filling, exactly Iceberg v3's initial-default vs
    * write-default split. Validation (constant-foldable, type-coerced)
    * matches the add path's. */
  def setColumnDefault(colName: String,
      defaultSql: Option[String]): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    import graft.types.ColumnDefaults
    val m = meta
    val f = m.schema.fields.find(_.name.equalsIgnoreCase(colName)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$colName' in $namespace.$name"))
    val nf = ColumnDefaults.withCurrentDefault(f, defaultSql)
    catalog.updateSchema(namespace, name,
      StructType(m.schema.fields.map(x => if (x.name == f.name) nf else x)))
  }

  /** Additive NESTED evolution — Iceberg's `ADD COLUMN parent.child`:
    * append a nullable field at the END of an existing struct column
    * (struct-of-struct chains descend; list/map interiors refuse —
    * their element shape is not name-evolvable). Metadata-only at any
    * table size: old files simply lack the leaf and every plan shape
    * (full read, nested-pruned read, MOR subtraction, changelog,
    * time travel) null-fills it by NAME. Name resolution is safe
    * precisely because graft never renames or drops INNER fields —
    * the current schema contains every inner name any MANAGED file
    * ever wrote, so a fresh inner name is provably absent from all of
    * them. FOREIGN files (add_files / Iceberg import) carry shapes
    * another system wrote: each is footer-probed, and one already
    * holding bytes at the path refuses the evolution (its values —
    * possibly a source-side DROPPED field's — would resurrect under
    * the new name); compact() rewrites them managed and unblocks.
    *
    * Stat-key hygiene (struct-leaf file stats key by DOT PATH):
    * a CURRENT flat column literally named like the new path refuses
    * (one SQL name, two bindings — ambiguous forever); a FREED flat
    * name matching the path poisons its stats instead — old files'
    * recorded bounds describe the dropped flat column, so the dotted
    * key AND the root column enter [[graft.types.FieldIds.StatsUnsafeProp]]
    * (prune eligibility filters by ROOT reference — see
    * `GraftSqlCatalog.prunable`). Writers keep writing: batches must
    * carry the evolved struct shape (the Iceberg writer contract;
    * [[graft.types.SchemaInfer.normalize]] casts exact-shape batches
    * only). */
  def addStructField(dottedPath: String, dataType: DataType): TableMetadata =
    addStructFieldDefaulted(dottedPath, dataType, None)

  /** [[addStructField]] with an optional WRITE-side default for the new
    * leaf: batches that omit it (subset-struct appends, normalize's
    * fill) land the default instead of null. There is NO inner
    * EXISTENCE default by design: Spark's parquet readers fill
    * `EXISTS_DEFAULT` for missing TOP-LEVEL columns only (verified
    * empirically in ColumnDefaultsSpec — a nested missing leaf reads
    * null in every plan shape regardless of the metadata), so claiming
    * one would silently serve null where the schema promises a value.
    * Rows in files that predate the leaf read NULL, exactly as before. */
  def addStructFieldDefaulted(dottedPath: String, dataType: DataType,
      writeDefaultSql: Option[String]): TableMetadata =
    addFields(Seq((structPath("addStructField", dottedPath, "addColumn"),
      dataType, writeDefaultSql)))

  /** ADD of a field at each path (root first, new leaf last), applied
    * in order as ONE schema change: every gate runs before the first
    * metadata write, so a batch lands whole or not at all. One segment
    * is a top-level column ([[addColumn]]'s rules), more a struct-chain
    * leaf ([[addStructField]]'s). New ids allocate above one high-water
    * mark — top-level columns, then their inner fields, then struct
    * leaves; the properties and the schema are each written once. */
  private[graft] def addFields(
      adds: Seq[(Seq[String], DataType, Option[String])]): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    import graft.types.FieldIds
    require(adds.nonEmpty, "addColumns of zero columns")
    val m = meta
    def low(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val freed = FieldIds.namesSet(m.properties, FieldIds.FreedNamesProp)
    val (tops, inner) = adds.partition(_._1.length == 1)
    val evolved = addedSchema(m, adds)
    // struct leaves: footer-probe the history for bytes at each path (no
    // data pages; all-history like the rename gate — time travel reads
    // old snapshots with current-schema name resolution too)
    if (inner.nonEmpty) {
      val history = catalog.snapshots(namespace, name).flatMap(_.files)
        .filterNot(_.deleteFile.contains(true)).map(_.path).distinct
      val dd = catalog.dataDir(namespace, name).toString
      val prefix = if (dd.endsWith("/")) dd else dd + "/"
      val foreign = history.filterNot(_.startsWith(prefix))
      def holding(files: Seq[String], parts: Seq[String]): Int =
        graft.util.Par.map(files)(p =>
          FieldIds.fileContainsPath(spark, p, parts)).count(identity)
      inner.foreach { case (parts, _, _) =>
        val path = parts.mkString(".")
        val n = holding(foreign, parts)
        require(n == 0,
          s"cannot add '$path' to $namespace.$name: " +
            s"$n foreign file(s) (add_files/import) already " +
            "hold a field at that path — their bytes would resurrect " +
            "under the new name (nested children resolve by name); " +
            "compact() first")
        // A freed DOTTED name (an inner field dropped or renamed away)
        // is the resurrection edge: while inner resolution is by NAME,
        // managed files still holding bytes at the path would serve them
        // under the re-added field. By-id tables are shielded (the
        // re-add takes a FRESH id below; old bytes never match it) —
        // otherwise probe EVERY history file and refuse on a hit.
        if (freed(low(path)) && !innerIdsActive(m)) {
          val k = holding(history, parts)
          require(k == 0,
            s"cannot re-add freed inner field '$path' to " +
              s"$namespace.$name: $k file(s) still hold bytes " +
              "at that path and inner resolution is by NAME — the dropped " +
              "values would resurrect (time travel included); compact() " +
              "drops the field physically, expireSnapshots() retires the " +
              "pre-drop history, then retry")
        }
      }
    }
    // a field taking a FREED name is a rebinding: old files' stats keyed
    // by that name describe the previously-bound field, so every stats
    // consumer must stop trusting them — forever (history entries cannot
    // be rewritten). A new STRUCT's inner dot paths are future stat keys
    // too. Poison the hit keys, the path AND its root (prune eligibility
    // filters by root reference).
    val poisoned = adds.flatMap { case (parts, dt, _) =>
      val hits = (Seq(parts.last) +: FieldIds.structPathSeqs(
          StructType(Seq(StructField(parts.last, dt)))))
        .map(p => low((parts.init ++ p).mkString("."))).filter(freed)
      if (hits.isEmpty) Seq.empty
      else hits ++ Seq(low(parts.mkString(".")), low(parts.head))
    }.distinct
    val unsafeProps: Map[String, String] =
      if (poisoned.isEmpty) Map.empty
      else Map(FieldIds.StatsUnsafeProp ->
        FieldIds.addNames(m.properties, FieldIds.StatsUnsafeProp, poisoned))
    def encodable(c: String) = !c.contains(",") && !c.contains(":")
    m.properties.get(FieldIds.RegistryProp).map(FieldIds.decode) match {
      case Some(reg) if tops.forall(a => encodable(a._1.head)) =>
        var next = lastFieldId(m, reg)
        def allocate(keys: Seq[String]) = keys.map { k => next += 1; k -> next }
        val topIds = allocate(tops.map(_._1.head))
        // dotted ids, so files stamp inner ids from birth: a
        // new STRUCT column's inner fields (same encodability rules as
        // registryFor), then each struct leaf — a by-id table keeps the
        // new leaf distinct from any retired binding of the same name
        def dotless(parts: Seq[String]) = parts.forall(c =>
          encodable(c) && !c.contains("."))
        val structInner =
          if (evolved.fieldNames.exists(_.contains("."))) Seq.empty
          else FieldIds.structPathSeqs(
            StructType(evolved.fields.drop(m.schema.length))).filter(dotless)
        val dotted = (structInner ++ inner.map(_._1).filter(dotless))
          .map(_.mkString(".")).distinct
        val reg2 = reg ++ topIds ++ allocate(dotted)
        val (intProps, hw) = interiorUpdates(m, evolved, next)
        catalog.updateProperties(namespace, name,
          Map(FieldIds.RegistryProp -> FieldIds.encode(reg2),
            FieldIds.LastIdProp -> hw.toString) ++ intProps ++ unsafeProps,
          Seq.empty)
        catalog.updateSchema(namespace, name, stampIds(m, evolved, reg2))
      case _ =>
        // exotic names break the registry encoding: keep additive
        // evolution, forfeit renameability (refused later with guidance)
        if (unsafeProps.nonEmpty)
          catalog.updateProperties(namespace, name, unsafeProps, Seq.empty)
        catalog.updateSchema(namespace, name, evolved)
    }
  }

  /** `m`'s schema with `adds` applied in order — the pure half of
    * [[addFields]], also run statically by the SQL catalog's ALTER
    * validation: each add's default folded, its depth's name gate, and
    * the structural patch. Throws on the first violation. */
  private[graft] def addedSchema(m: TableMetadata,
      adds: Seq[(Seq[String], DataType, Option[String])]): StructType = {
    import graft.types.{ColumnDefaults, FieldIds, SchemaInfer}
    val freed = FieldIds.namesSet(m.properties, FieldIds.FreedNamesProp)
    adds.foldLeft(m.schema) { case (s, (parts, dt, dflt)) =>
      val leaf = parts.last
      val path = parts.mkString(".")
      if (parts.length == 1)
        // a NESTED column may not take a FREED name: Spark's nested
        // schema pruning rebuilds the pruned read schema WITHOUT field-id
        // metadata, so a pruned read of the new column falls back to
        // NAME matching and would serve the previously-bound column's
        // bytes out of old files — silent resurrection (full reads,
        // which keep the id, return null; the two plan shapes would
        // disagree). Flat re-adds stay legal: a flat request never loses
        // its id metadata, so the fresh id shields old files (stats are
        // poisoned, values never resurrect).
        require(!isNestedType(dt) ||
            !freed(leaf.toLowerCase(java.util.Locale.ROOT)),
          s"$namespace.$name: adding a nested (struct/map/array) column " +
            "under a name freed by rename/drop would resurrect old files' " +
            "data under nested schema pruning (pruned reads match nested " +
            "roots by NAME) — pick a fresh name")
      else
        require(!s.fieldNames.exists(_.equalsIgnoreCase(path)),
          s"$namespace.$name has a top-level column literally named " +
            s"'$path' — its stat keys and SQL name would collide with " +
            "the new leaf's forever; pick another name")
      // defaults fold to literals NOW (type-coerced, non-constant
      // expressions refuse). A column keeps the write-side text under
      // CURRENT_DEFAULT and the folded existence literal under
      // EXISTS_DEFAULT — the key parquet's readers fill missing columns
      // from, which makes the add metadata-only AND non-null. A struct
      // leaf keeps ONLY the write-side key (see addStructFieldDefaulted)
      val field = dflt match {
        case None => StructField(leaf, dt, nullable = true)
        case Some(d) if parts.length == 1 => ColumnDefaults.foldedField(leaf, dt, d)
        case Some(d) =>
          ColumnDefaults.foldedField(leaf, dt, d) // validation only
          ColumnDefaults.withCurrentDefault(
            StructField(leaf, dt, nullable = true), Some(d))
      }
      SchemaInfer.addField(s, parts, field)
    }
  }

  /** `evolved` stamped in the table's current shape: inner-flipped
    * tables re-attach every id, flat-flipped tables top-level only
    * (attachAll there would flip inner resolution without the nested
    * file gate — nulling the nested content of files written without
    * inner ids), and id-free schemas stay bare (name-matched until a
    * rename/drop flips them). */
  private def stampIds(m: TableMetadata, evolved: StructType,
      reg: Map[String, Int]): StructType =
    if (innerIdsActive(m)) graft.types.FieldIds.attachAll(evolved, reg)
    else if (graft.types.FieldIds.hasIds(m.schema))
      graft.types.FieldIds.attach(evolved, reg)
    else evolved

  /** LIST/MAP INTERIOR id-map updates for an evolved schema (round 14):
    * new interior paths allocate above `floor` (and above the map's own
    * high-water), retired paths drop. Returns (property updates — empty
    * when nothing changes, new LastIdProp high-water). Pre-r14 tables
    * backfill the whole map on their first evolution here; interior ids
    * are write/export-side only, so the backfill is always safe (reads
    * never consult them — see [[graft.types.FieldIds.InteriorProp]]). */
  private def interiorUpdates(m: TableMetadata, evolved: StructType,
      floor: Int): (Map[String, String], Int) = {
    import graft.types.FieldIds
    val cur = m.properties.get(FieldIds.InteriorProp).map(FieldIds.decode)
      .getOrElse(Map.empty[String, Int])
    val (upd, hw) = FieldIds.interiorEvolved(evolved, cur,
      floor.max(cur.values.maxOption.getOrElse(0)))
    val props =
      if (upd == cur || upd.isEmpty) Map.empty[String, String]
      else Map(FieldIds.InteriorProp -> FieldIds.encode(upd))
    (props, hw)
  }

  /** Registry extended with ids for every encodable struct-chain path
    * it lacks, above the high-water mark (deterministic DFS order).
    * Pure — callers persist via encode + LastIdProp. Tables created
    * before round 13 (top-level-only registries) backfill through this
    * on their first inner evolution; the subsequent compact() stamps
    * the new ids into every file and clears the eligibility gate. */
  private def withInnerIds(m: TableMetadata,
      reg: Map[String, Int]): Map[String, Int] = {
    val missing =
      if (m.schema.fieldNames.exists(_.contains("."))) Seq.empty
      else graft.types.FieldIds.structPathSeqs(m.schema)
        .filter(parts => !parts.exists(c =>
          c.contains(",") || c.contains(":") || c.contains(".")))
        .map(_.mkString("."))
        .filterNot(reg.contains)
    if (missing.isEmpty) reg
    else {
      var next = lastFieldId(m, reg)
      reg ++ missing.map { k => next += 1; k -> next }
    }
  }

  /** Has this table's stored schema flipped INNER resolution to by-id
    * (an inner rename happened, or a re-add under a freed inner name)?
    * Distinct from the flat flip: [[graft.types.FieldIds.attach]] stamps
    * top-level ids only, so flat evolutions on tables with pre-r13
    * files never silently change how nested content resolves. */
  private def innerIdsActive(m: TableMetadata): Boolean =
    graft.types.FieldIds.collectIds(m.schema).keys.exists(_.contains('.'))

  /** LIST/MAP INTERIOR field RENAME (round 15) — the name-mapping
    * evolution the interior-id stamping (round 14) was laid down for:
    * renaming a struct member INSIDE a list or map
    * (`arr.element.a` → `arr.element.x`, `m.value.k` → …) is
    * metadata-only at any table size. The interior registry re-keys
    * (same ids), the stored schema renames the member, and the table
    * flips to INTERIOR-BY-ID reads ([[graft.types.FieldIds
    * .InteriorByIdProp]]), so files written under the old member name
    * keep serving values in every plan shape, pruned and unpruned,
    * table-API and SQL. Round 16: the flip costs NOTHING at scan time
    * on sessions with the graft extensions — nested schema pruning
    * stays fully on, with the pruned schema's interior ids restored
    * post-pruning ([[graft.sql.InteriorIdRestoreRule]]); extension-less
    * sessions fall back to full-subtree requests on a pruning-disabled
    * clone (see [[readSession]]).
    *
    * Eligibility mirrors the other id evolutions, one level further
    * down: every live-history data file must be managed and stamp
    * field ids on every struct member INCLUDING inside list/map
    * interiors ([[graft.types.FieldIds.fileCarriesInteriorIds]]) —
    * managed writes stamp interiors from birth on r14+ tables with an
    * interior map; older tables compact() once after the registry
    * backfills. */
  def renameInteriorField(path: String, newLeaf: String): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    import graft.types.{FieldIds, SchemaInfer}
    val m = meta
    val tokens = path.split('.').toSeq
    val interiorTokens = Set("element", "key", "value")
    require(tokens.exists(interiorTokens),
      s"renameInteriorField needs a path crossing a list/map interior " +
        s"(… element/key/value …), got '$path' — use renameStructField " +
        "for struct chains and renameColumn for top-level columns")
    require(!interiorTokens(tokens.last),
      s"cannot rename '$path': element/key/value are fixed name-mapping " +
        "tokens, not renamable fields")
    SchemaInfer.interiorType(m.schema, tokens).getOrElse(
      throw new IllegalArgumentException(
        s"no interior field '$path' in $namespace.$name"))
    val parent = SchemaInfer.interiorType(m.schema, tokens.init)
      .collect { case st: StructType => st }
      .getOrElse(throw new IllegalArgumentException(
        s"'${tokens.init.mkString(".")}' is not a struct"))
    require(!parent.fieldNames.exists(_.equalsIgnoreCase(newLeaf)),
      s"field '$newLeaf' already exists under '${tokens.init.mkString(".")}'")
    require(newLeaf.nonEmpty && !newLeaf.contains(",") &&
      !newLeaf.contains(":") && !newLeaf.contains("."),
      s"illegal field name '$newLeaf'")
    val interior = m.properties.get(FieldIds.InteriorProp)
      .map(FieldIds.decode).getOrElse(Map.empty[String, Int])
    val oldKey = tokens.mkString(".")
    val id = interior.getOrElse(oldKey,
      throw new UnsupportedOperationException(
        s"cannot rename '$path' of $namespace.$name: the field has no " +
          "interior id (table predates interior-id stamping, round 14) — " +
          "recreate or re-ingest the table to allocate interior ids"))
    require(id > 0, s"invalid interior id $id for '$path'")
    // the flat registry flips too: by-id resolution of the interior
    // subtree rides on the whole chain being id-matched
    val reg = withInnerIds(m, fieldRegistry(m, "rename (interior)"))
    requireIdBearingFiles("rename (interior)", nested = true)
    requireInteriorIdFiles()
    val prefix = oldKey + "."
    val newKey = (tokens.init :+ newLeaf).mkString(".")
    val interior2 = interior.map {
      case (k, v) if k == oldKey => newKey -> v
      case (k, v) if k.startsWith(prefix) =>
        (newKey + "." + k.stripPrefix(prefix)) -> v
      case kv => kv
    }
    val renamed = SchemaInfer.editInteriorField(m.schema, tokens,
      f => Some(f.copy(name = newLeaf)))
    // schema first, properties second — the flat rename's crash
    // ordering (an id-bearing schema alone never misresolves)
    catalog.updateSchema(namespace, name, FieldIds.attachAll(renamed, reg))
    val freed = (interior.keys.filter(k =>
      k == oldKey || k.startsWith(prefix)).toSeq :+ oldKey).distinct
    catalog.updateProperties(namespace, name,
      Map(FieldIds.InteriorProp -> FieldIds.encode(interior2),
        FieldIds.RegistryProp -> FieldIds.encode(reg),
        FieldIds.LastIdProp ->
          lastFieldId(m, reg).max(interior2.values.max).toString,
        FieldIds.InteriorByIdProp -> "true",
        FieldIds.FreedNamesProp ->
          FieldIds.addNames(m.properties, FieldIds.FreedNamesProp, freed)),
      Seq.empty)
  }

  /** Interior counterpart of [[requireIdBearingFiles]]: every
    * live-history data file must stamp ids on struct members inside
    * its list/map interiors — the proof interior-by-id reads resolve
    * every file. Parallel footer probes, no data pages. */
  private def requireInteriorIdFiles(): Unit = {
    val paths = catalog.snapshots(namespace, name).flatMap(_.files)
      .filterNot(_.deleteFile.contains(true)).map(_.path).distinct
    val bad = graft.util.Par.map(paths)(p =>
      graft.types.FieldIds.fileCarriesInteriorIds(spark, p)).count(!_)
    require(bad == 0,
      s"cannot rename an interior field of $namespace.$name: $bad " +
        "file(s) carry no field ids inside list/map interiors (written " +
        "before interior stamping) — compact() rewrites the live set " +
        "interior-stamped and expireSnapshots() retires old history")
  }

  /** AUTO SCHEMA EVOLUTION ON WRITE (Delta's `mergeSchema`, Iceberg's
    * accept-any-schema merge): diff `incoming` against the stored
    * schema and apply exactly the additive evolutions this table
    * already supports — new top-level columns (nested types included),
    * new struct-leaf fields at any struct-chain depth, and the three
    * legal widenings, flat and struct-leaf. Everything else keeps the
    * strict write contract: narrower/castable batch types just cast in
    * normalize, incompatible ones fail there loudly, and a shape
    * change INSIDE a list/map element refuses here (no evolution can
    * express it — compose a new column instead). All safety gates of
    * the underlying ops still fire (freed-name nested adds, foreign
    * files at the leaf path, bucket-source widenings), so a merge can
    * refuse — loud beats silent drift. Identical schemas commit
    * nothing. The LLM-pipeline shape this serves: a months-long ingest
    * whose upstream keeps sprouting metadata columns appends every
    * batch through one call, no coordinated DDL.
    *
    * All new top-level columns and struct leaves commit as ONE schema
    * change (a refused add leaves none behind); widenings follow.
    *
    * Concurrency: the diff is computed from a schema snapshot and the
    * sub-evolutions lock individually, so TWO writers merging the same
    * drift can race — the loser's add throws "already exists" even
    * though the table now matches what it wanted. That benign race
    * retries (re-diffing against the fresh schema, which converges);
    * a genuinely conflicting evolution still surfaces on the retry. */
  def evolveToMatch(incoming: StructType): Unit = {
    var attempts = 0
    while (true) {
      try { evolveOnce(incoming); return }
      catch {
        case e: IllegalArgumentException
            if attempts < 3 && e.getMessage != null &&
              e.getMessage.contains("already exists") =>
          attempts += 1
      }
    }
  }

  private def evolveOnce(incoming: StructType): Unit = {
    import graft.types.SchemaInfer
    val cur = schema
    val adds = Seq.newBuilder[(Seq[String], DataType, Option[String])]
    val widens = Seq.newBuilder[(Seq[String], DataType)]
    incoming.fields.filterNot(f =>
        cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .foreach(f => adds += ((Seq(f.name), f.dataType, None)))
    def walk(path: Seq[String], stored: DataType, in: DataType): Unit =
      (stored, in) match {
        case (s, i) if s == i => ()
        case (IntegerType, LongType) | (FloatType, DoubleType) =>
          widens += path -> in
        case (d1: DecimalType, d2: DecimalType)
            if d2.precision > d1.precision && d1.scale == d2.scale =>
          widens += path -> in
        case (s: StructType, i: StructType) =>
          i.fields.foreach { f =>
            s.fields.find(_.name.equalsIgnoreCase(f.name)) match {
              case Some(sf) => walk(path :+ sf.name, sf.dataType, f.dataType)
              case None => adds += ((path :+ f.name, f.dataType, None))
            }
          }
        case (a: ArrayType, b: ArrayType) =>
          require(SchemaInfer.relaxNulls(a) == SchemaInfer.relaxNulls(b),
            s"cannot auto-evolve '${path.mkString(".")}': list element " +
              s"shapes differ (${a.catalogString} vs ${b.catalogString}) " +
              "and element types are not evolvable — add a new column")
        case (m1: MapType, m2: MapType) =>
          require(SchemaInfer.relaxNulls(m1) == SchemaInfer.relaxNulls(m2),
            s"cannot auto-evolve '${path.mkString(".")}': map shapes " +
              s"differ (${m1.catalogString} vs ${m2.catalogString}) " +
              "and key/value types are not evolvable — add a new column")
        case _ => () // equal-up-to-nullability, narrower, or castable:
                     // normalize's cast handles (or loudly refuses)
      }
    incoming.fields.foreach { inF =>
      cur.fields.find(_.name.equalsIgnoreCase(inF.name)).foreach { stF =>
        walk(Seq(stF.name), stF.dataType, inF.dataType)
      }
    }
    val addList = adds.result()
    if (addList.nonEmpty) addFields(addList)
    widens.result().foreach { case (path, to) => widenField(path, to) }
  }

  /** [[append]] with [[evolveToMatch]] applied first — the one-call
    * drifting-schema ingest path. */
  def appendEvolve(df: DataFrame): Snapshot = {
    evolveToMatch(df.schema)
    append(df)
  }

  /** Column RENAME via parquet field-id indirection (the Iceberg
    * evolution model): metadata-only — the stored schema changes the
    * NAME but keeps the column's field id, the table flips to
    * read-by-id, and every scan (current or time travel) resolves the
    * column BY ID, so files written under the old name keep serving
    * values. Zero data movement at any table size.
    *
    * Eligibility, checked loudly BEFORE anything mutates: every file in
    * the table's history must be managed (written by this engine —
    * foreign add_files/import files carry absent or otherwise-numbered
    * ids) and must physically carry field ids in its footer (files
    * staged by SQL INSERT before this table's first managed write may
    * predate stamping). `compact()` rewrites everything into id-bearing
    * managed files and makes any table eligible. Partition columns
    * refuse — their name is baked into per-file partition tuples and
    * layout directories, so renaming them is a spec rewrite, not a
    * schema edit. */
  def renameColumn(from: String, to: String): TableMetadata =
    renameField(Seq(from), to)

  /** INNER struct-field RENAME (round 13) — Iceberg's nested rename,
    * metadata-only at any table size, by parquet field-id indirection
    * one level down. The stored schema flips to carry ids on EVERY
    * struct-chain field ([[graft.types.FieldIds.attachAll]]); Spark's
    * reader then resolves inner fields strictly by id in every plan
    * shape (full read, nested-pruned read, MOR subtraction, time
    * travel — Spark 4.1's pruning preserves inner id metadata,
    * verified in FieldEvolutionSpec), so files written under the OLD
    * inner name keep serving the renamed field's values.
    *
    * Eligibility is the price of the flip: EVERY live-history data
    * file must carry ids on every struct leaf — one id-less inner
    * field in one file would silently null that file's leaves under an
    * id-bearing request (strict-by-id goes per file). Managed files
    * stamp inner ids from birth once the registry carries dotted
    * entries (fresh r13+ tables always; older tables backfill the
    * registry HERE, metadata-only, then compact() once). Foreign files
    * refuse like every id evolution. Renaming a struct CONTAINER
    * re-keys its whole subtree; the old dotted names are FREED and
    * their stats poisoned on reuse, exactly the flat contract. */
  def renameStructField(dottedPath: String, newLeaf: String): TableMetadata =
    renameField(structPath("renameStructField", dottedPath, "renameColumn"),
      newLeaf)

  /** Column DROP — metadata-only removal from the schema; data files
    * are untouched (scans simply stop requesting the column). Flips the
    * table to read-by-id and RETIRES the dropped id behind the
    * high-water mark, so re-adding the same name later takes a fresh id
    * and old values stay unreachable instead of resurrecting — the
    * field-id-reuse hazard Iceberg's evolution rules exist for. Same
    * eligibility gates as [[renameColumn]]. */
  def dropColumn(colName: String): TableMetadata = dropField(Seq(colName))

  /** INNER struct-field DROP (round 13) — metadata-only removal from
    * the stored schema; data files untouched (a removed field is never
    * requested again), and NO id flip or file gate: dropping cannot
    * misresolve anything. The dotted name (and, for a container, its
    * whole subtree) is FREED and the ids retired behind the high-water
    * mark; the GUARDED operation is re-adding a freed inner name —
    * [[addStructField]] refuses it while inner resolution is by NAME
    * (old bytes would resurrect) and assigns a FRESH id once the table
    * has flipped to inner-by-id (old bytes then stay unreachable,
    * the Iceberg id-reuse rule one level down). */
  def dropStructField(dottedPath: String): TableMetadata =
    dropField(structPath("dropStructField", dottedPath, "dropColumn"))

  /** TYPE WIDENING — Iceberg's safe schema promotions (`int` →
    * `bigint`, `float` → `double`, `decimal(p,s)` → `decimal(p',s)`
    * with p' > p), metadata-only at any table size:
    * the stored schema's type changes and nothing else moves. Old
    * files keep their narrower physical values — Spark's vectorized
    * parquet reader widens them at read time (value-preserving IEEE /
    * integral promotion), new writes land the wide type, and the
    * Iceberg metadata export stays spec-valid (Iceberg permits exactly
    * these promotions). Stat bounds compare numerically, so [min,max]
    * pruning and the delete tier's bounds arithmetic are unaffected;
    * an outstanding equality delete keyed on the column still
    * subtracts (the scan's anti-join coerces the narrow key file).
    *
    * One refusal: a column that is the SOURCE of a `bucket` partition
    * field. The bucket transform hashes the value AS ITS TYPE
    * (xxhash64 of an int and a long differ for equal values), so
    * widening a bucket source would silently invalidate every
    * retained file's recorded bucket index — mis-pruning, not an
    * error. Identity and truncate sources are value-stable (external
    * text / floor arithmetic unchanged) and pass — as do `mbucket`
    * sources: the Iceberg spec hashes ints WIDENED TO LONG and
    * decimals by unscaled value precisely so `bucket[n]` survives
    * int→bigint and decimal-precision promotion with indexes intact. */
  def widenColumn(colName: String, to: DataType): TableMetadata =
    widenField(Seq(colName), to)

  /** [[widenColumn]] for a struct LEAF (`parent.child[...]`): the same
    * Iceberg promotions (int→bigint, float→double, decimal precision),
    * metadata-only — parquet's column readers are per-LEAF, so the
    * read-time value-preserving promotion that widens a flat column
    * widens a nested one identically. Inner fields are never partition
    * or equality-delete sources (both refuse nested), and struct-leaf
    * stat bounds compare numerically, so no bucket-source refusal
    * applies below the top level. */
  def widenStructField(dottedPath: String, to: DataType): TableMetadata =
    widenField(structPath("widenStructField", dottedPath, "widenColumn"), to)

  /** `parent.child[...]` split for the struct-field ops, which refuse a
    * one-segment path — top-level columns go through their own ops. */
  private def structPath(op: String, dottedPath: String,
      flatOp: String): Seq[String] = {
    val parts = dottedPath.split('.').toSeq
    require(parts.length >= 2,
      s"$op needs parent.child[...], got '$dottedPath' — " +
        s"use $flatOp for top-level columns")
    parts
  }

  /** The field at `parts` (root first, each step case-insensitive,
    * struct chains only) and the struct holding it. */
  private def fieldAt(m: TableMetadata,
      parts: Seq[String]): (StructType, StructField) =
    graft.types.SchemaInfer.innerType(m.schema, parts.init)
      .collect { case st: StructType => st }
      .flatMap(st => st.fields.find(_.name.equalsIgnoreCase(parts.last))
        .map(st -> _))
      .getOrElse(throw new IllegalArgumentException(
        s"no ${if (parts.length == 1) "column" else "struct field"} " +
          s"'${parts.mkString(".")}' in $namespace.$name"))

  /** RENAME of the field at `parts` (root first): one segment is a
    * top-level column ([[renameColumn]]'s gates), more is a struct-chain
    * field ([[renameStructField]]'s). Both depths re-key the id
    * registry (a container's subtree moves with it), free the old
    * names, poison stats on a freed new name, and write the schema
    * before the registry. */
  private[graft] def renameField(parts: Seq[String],
      newLeaf: String): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    import graft.types.{FieldIds, SchemaInfer}
    val m = meta
    val top = parts.length == 1
    val what = if (top) "column" else "struct field"
    val (parent, f) = fieldAt(m, parts)
    if (top) {
      require(!isNestedType(f.dataType),
        s"cannot rename nested (struct/map/array) column '${f.name}' of " +
          s"$namespace.$name: nested schema pruning drops field-id " +
          "metadata from the pruned read schema, so pruned reads of a " +
          "renamed nested root silently miss old files (name fallback) " +
          "— add a fresh nested column and backfill instead")
      require(!PartitionTransforms.parseAll(m.partitionColumns)
          .exists(_.source.equalsIgnoreCase(f.name)),
        s"cannot rename partition column '${f.name}' — partition tuples " +
          "and directory layout are keyed by it (a partition-spec " +
          "rewrite, not a schema edit)")
    }
    require(!parent.fieldNames.exists(_.equalsIgnoreCase(newLeaf)),
      s"$what '$newLeaf' already exists" +
        (if (top) "" else s" under '${parts.init.mkString(".")}'"))
    // a dotted top-level name is legal; a dotted inner leaf would alias
    // a deeper path
    require(newLeaf.nonEmpty && !newLeaf.contains(",") &&
      !newLeaf.contains(":") && (top || !newLeaf.contains(".")),
      s"illegal $what name '$newLeaf'")
    val flatReg = fieldRegistry(m, "rename")
    val reg = if (top) flatReg else withInnerIds(m, flatReg)
    // backfill + PERSIST dotted registry ids first (metadata-only, and
    // always safe — more stamped ids never change name-resolution):
    // if the file gate below refuses, the user's compact() must stamp
    // these very ids, or the retry could never succeed
    if (reg.size > flatReg.size)
      catalog.updateProperties(namespace, name,
        Map(FieldIds.RegistryProp -> FieldIds.encode(reg),
          FieldIds.LastIdProp -> lastFieldId(m, reg).toString),
        Seq.empty)
    val oldKey = if (top) f.name else parts.mkString(".")
    if (!reg.contains(oldKey)) throw new UnsupportedOperationException(
      s"cannot rename '$oldKey' of $namespace.$name: the $what has no " +
        "field id (the table holds a name the id registry cannot " +
        "encode) — recreate the table to make it renameable")
    requireIdBearingFiles(if (top) "rename" else "rename (inner)",
      nested = !top)
    val newKey = (parts.init :+ newLeaf).mkString(".")
    val moved = reg.keys.filter(k =>
      k == oldKey || (!top && k.startsWith(oldKey + "."))).toSeq
    val reg2 = reg -- moved ++
      moved.map(k => (newKey + k.stripPrefix(oldKey)) -> reg(k))
    val renamed = SchemaInfer.editInnerField(m.schema, parts,
      f => Some(f.copy(name = newLeaf)))
    // SCHEMA first, registry second: the id-bearing schema alone is
    // enough for a concurrent writer to stamp correct ids (attach is a
    // no-op for registry names absent from the schema), so a writer or
    // crash between the two metadata writes never strands a file that
    // read-by-id cannot resolve; fieldRegistry treats an id-bearing
    // schema as authoritative, healing a stale registry on next use
    catalog.updateSchema(namespace, name,
      if (top) FieldIds.attach(renamed, reg2)
      else FieldIds.attachAll(renamed, reg2))
    // the new name may be a FREED one: old files' name-keyed stats
    // describe the previously-bound field — poison it and its root
    val lowNew = newKey.toLowerCase(java.util.Locale.ROOT)
    val reboundProps: Map[String, String] =
      if (!FieldIds.namesSet(m.properties, FieldIds.FreedNamesProp)(lowNew))
        Map.empty
      else Map(FieldIds.StatsUnsafeProp ->
        FieldIds.addNames(m.properties, FieldIds.StatsUnsafeProp,
          Seq(lowNew, (parts.init :+ newLeaf).head)))
    catalog.updateProperties(namespace, name,
      Map(FieldIds.RegistryProp -> FieldIds.encode(reg2),
        FieldIds.LastIdProp -> lastFieldId(m, reg2).toString,
        // the old names are freed: a later field reusing one would
        // inherit poisoned name-keyed stats
        FieldIds.FreedNamesProp ->
          FieldIds.addNames(m.properties, FieldIds.FreedNamesProp, moved))
        ++ reboundProps,
      Seq.empty)
  }

  /** DROP of the field at `parts` (root first): one segment is a
    * top-level column ([[dropColumn]]'s gates), more is a struct-chain
    * field ([[dropStructField]]'s — no file gate). Both depths retire
    * the field's ids (a container's subtree included) behind the
    * high-water mark, free its names, and write the schema before the
    * registry. */
  private[graft] def dropField(parts: Seq[String]): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    import graft.types.{FieldIds, SchemaInfer}
    val m = meta
    val top = parts.length == 1
    val (_, f) = fieldAt(m, parts)
    if (top) {
      require(!PartitionTransforms.parseAll(m.partitionColumns)
          .exists(_.source.equalsIgnoreCase(f.name)),
        s"cannot drop partition column '${f.name}'")
      require(m.schema.fields.length > 1, "cannot drop the only column")
    }
    val flatReg = fieldRegistry(m, "drop")
    val reg = if (top) flatReg else withInnerIds(m, flatReg)
    if (top) requireIdBearingFiles("drop")
    // a dropped STRUCT retires its dotted subtree entries too — orphaned
    // dotted ids under a re-added name would rebind old inner ids to
    // new content
    val oldKey = if (top) f.name else parts.mkString(".")
    val freed = reg.keys.filter(k =>
      k == oldKey || k.startsWith(oldKey + ".")).toSeq
    val reg2 = reg -- freed
    val evolved = SchemaInfer.editInnerField(m.schema, parts, _ => None)
    // top-level drops stamp top-level ids; inner drops keep the
    // table's exact stamping shape
    val stored =
      if (top) FieldIds.attach(evolved, reg2) else stampIds(m, evolved, reg2)
    // schema first, registry second — see renameField's ordering note
    catalog.updateSchema(namespace, name, stored)
    catalog.updateProperties(namespace, name,
      Map(FieldIds.RegistryProp -> FieldIds.encode(reg2),
        FieldIds.LastIdProp -> lastFieldId(m, reg).toString,
        // the dropped names are freed: re-adding one must not inherit
        // old files' name-keyed stats
        FieldIds.FreedNamesProp ->
          FieldIds.addNames(m.properties, FieldIds.FreedNamesProp,
            (oldKey +: freed).distinct)),
      Seq.empty)
  }

  /** Type WIDENING of the field at `parts` (root first): one segment is
    * a top-level column (with [[widenColumn]]'s bucket-source refusal),
    * more is a struct leaf. Metadata-only at both depths. */
  private[graft] def widenField(parts: Seq[String],
      to: DataType): TableMetadata =
      catalog.withEvolutionLock(namespace, name) {
    val m = meta
    val (_, f) = fieldAt(m, parts)
    requireWidening(f.dataType, to)
    if (parts.length == 1)
      require(!PartitionTransforms.parseAll(m.partitionColumns).exists {
          case BucketField(_, src) => src.equalsIgnoreCase(f.name)
          case _ => false
        },
        s"cannot widen bucket-partition source '${f.name}': the bucket " +
          "transform hashes the value as its type, so retained files' " +
          "recorded indexes would silently mis-prune — rewrite the spec " +
          "or compact first")
    catalog.updateSchema(namespace, name, graft.types.SchemaInfer
      .editInnerField(m.schema, parts, f => Some(f.copy(dataType = to))))
  }

  /** Shared gate for the id-indirection evolutions on nested-TYPED
    * targets. Spark's parquet reader resolves each requested top-level
    * field independently — BY ID when the StructField carries
    * `parquet.field.id` metadata, by name otherwise — so renaming or
    * dropping a FLAT column is well-defined even when nested columns
    * sit beside it (nested roots keep their names and keep resolving,
    * by id on full reads and by name on pruned ones). What is NOT safe
    * is renaming a nested column ITSELF: Spark's nested schema pruning
    * (`spark.sql.optimizer.nestedSchemaPruning.enabled`, on by
    * default) rebuilds the pruned read schema WITHOUT field-id
    * metadata, so a pruned read (`select($"renamed.leaf")`) falls back
    * to name matching, misses the file's old root name, and silently
    * returns null while the unpruned plan serves values — two plan
    * shapes, two answers. Dropping a nested column is safe (a removed
    * column never resolves); re-adding a nested column under a freed
    * name is gated in [[addColumns]] (the same pruning fallback would
    * resurrect the old bytes). Verified against Spark 4.1's
    * ParquetReadSupport matching on managed files. */
  private def isNestedType(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.StructType |
         _: org.apache.spark.sql.types.MapType |
         _: org.apache.spark.sql.types.ArrayType => true
    case _ => false
  }

  /** Iceberg's legal type promotions, shared by the flat and nested
    * widen paths. Precision may grow, scale may not change (a scale
    * change rewrites values, not just their range). */
  private def requireWidening(from: DataType, to: DataType): Unit = {
    val ok = (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.precision > d1.precision && d1.scale == d2.scale
      case _ => false
    }
    require(ok,
      s"cannot widen ${from.catalogString} to ${to.catalogString}: " +
        "supported promotions are int -> bigint, float -> double, and " +
        "decimal(p,s) -> decimal(p',s) with p' > p")
  }

  /** The field-id high-water mark: the recorded LastIdProp or the
    * registry's largest id, whichever is higher. The property parses
    * strictly — a corrupt value fails loudly instead of falling back to
    * a lower mark that would re-issue retired ids. */
  private def lastFieldId(m: TableMetadata, reg: Map[String, Int]): Int = {
    import graft.types.FieldIds.LastIdProp
    val recorded = m.properties.get(LastIdProp).fold(0)(v =>
      v.toIntOption.getOrElse(throw new IllegalStateException(
        s"$namespace.$name: corrupt $LastIdProp '$v'")))
    recorded.max(reg.values.maxOption.getOrElse(0))
  }

  /** The name→id map evolutions resolve through. An id-bearing stored
    * schema is AUTHORITATIVE (its stamps are what readers match by and
    * what attach preserves), so a registry property stranded stale by a
    * crash between the two metadata writes heals here instead of
    * corrupting the next evolution. */
  private def fieldRegistry(m: TableMetadata, op: String): Map[String, Int] = {
    import graft.types.FieldIds
    val s = m.schema
    val prop = m.properties.get(FieldIds.RegistryProp)
      .map(FieldIds.decode).getOrElse(Map.empty[String, Int])
    if (FieldIds.hasIds(s))
      // schema stamps (nested included) win per key; dotted entries the
      // schema never flipped (flat-only flip) survive from the property
      prop ++ FieldIds.collectIds(s)
    else if (prop.nonEmpty) prop
    else throw new UnsupportedOperationException(
      s"cannot $op a column of $namespace.$name: no field-id registry " +
        "(table predates field ids or has column names the registry " +
        "cannot encode)")
  }

  /** Every file in every log snapshot must be managed AND carry field
    * ids in its footer — the proof that id-matching reads (including
    * time travel) resolve every column correctly. Metadata walk + one
    * footer read per distinct file (no data pages), probed in PARALLEL
    * so a large retained history costs one round-trip latency, not one
    * per file. */
  private def requireIdBearingFiles(op: String,
      nested: Boolean = false): Unit = {
    val dd = catalog.dataDir(namespace, name).toString
    val prefix = if (dd.endsWith("/")) dd else dd + "/"
    val paths = catalog.snapshots(namespace, name).flatMap(_.files)
      .filterNot(_.deleteFile.contains(true)).map(_.path).distinct
    val foreign = paths.filterNot(_.startsWith(prefix))
    require(foreign.isEmpty,
      s"cannot $op a column of $namespace.$name: ${foreign.size} file(s) " +
        "were registered from outside the managed data dir " +
        "(add_files/import) and their field ids are absent or numbered " +
        "by another system — compact() and expire the foreign history " +
        "first")
    val idless = graft.util.Par.map(paths)(p =>
      graft.types.FieldIds.fileCarriesIds(spark, p, nested)).count(!_)
    require(idless == 0,
      s"cannot $op a column of $namespace.$name: $idless file(s) " +
        (if (nested) "carry no parquet field ids on every struct leaf "
         else "carry no parquet field ids ") +
        "(written before id stamping) — compact() rewrites the live set " +
        "id-bearing and expireSnapshots() retires old history, then retry")
  }

  private def writeCommit(
      dfs: Seq[DataFrame], op: String,
      extraSummary: Map[String, String] = Map.empty,
      carryFiles: Seq[DataFileEntry] = Seq.empty,
      expected: Option[Long] = None,
      parentIdOverride: Option[Long] = None): Snapshot =
    catalog.commit(namespace, name, op, carryFiles ++ stageDataFiles(dfs),
      extraSummary, expectedSnapshotId = expected,
      parentIdOverride = parentIdOverride)

  /** The write job of a managed commit WITHOUT the commit itself:
    * normalize to the table schema, cluster/sort per spec and
    * properties, write parquet under a unique staging dir, footer-stat
    * the outputs. Shared by [[writeCommit]] and [[mergeDelta]] (which
    * commits data files together with a delete entry).
    * `withLineageCols` materializes the row-lineage columns and marks
    * the returned entries `lineageInFile`. `defaultDistribution` is the
    * `write.distribution-mode` a table without the property gets. */
  private def stageDataFiles(dfs: Seq[DataFrame],
      withLineageCols: Boolean = false,
      carriedRowId: Boolean = false,
      defaultDistribution: String = "none"): Seq[DataFileEntry] = {
    val m = meta
    // stamp registry field ids into every managed write (files carry ids
    // from birth, so a later rename/drop finds id-bearing files); reads
    // stay name-matched until an evolution flips the stored schema.
    // LIST/MAP INTERIOR ids (round 14) stamp too when the table carries
    // an interior map — write-side and export-side only, never read-side
    // (see FieldIds.InteriorProp).
    val chainStamped = m.properties.get(graft.types.FieldIds.RegistryProp)
      .map(r => graft.types.FieldIds.attachAll(m.schema,
        graft.types.FieldIds.decode(r))) // dotted entries stamp INNER ids
      .getOrElse(m.schema)
    val target0 = m.properties.get(graft.types.FieldIds.InteriorProp)
      .map(i => graft.types.FieldIds.attachInterior(chainStamped,
        graft.types.FieldIds.decode(i)))
      .getOrElse(chainStamped)
    // a row-lineage REWRITE materializes the lineage columns into the
    // new files under the v3 spec's reserved field ids — the carry
    // mechanism that keeps row identity stable across compaction
    val target = {
      def rmd(id: Long) = new MetadataBuilder()
        .putLong(graft.types.FieldIds.MetaKey, id).build()
      if (withLineageCols)
        StructType(target0.fields ++ Seq(
          StructField(graft.types.FieldIds.RowIdCol, LongType,
            nullable = false, rmd(graft.types.FieldIds.RowIdFieldId)),
          StructField(graft.types.FieldIds.LastUpdatedCol, LongType,
            nullable = false, rmd(graft.types.FieldIds.LastUpdatedFieldId))))
      // MERGE-update carry ([[carryMergeRowIds]]): only `_row_id`, and
      // NULLABLE — null rows are inserts served by the commit-time
      // assignment; `_last_updated_sequence_number` is deliberately NOT
      // materialized so every row reads the file's new data sequence
      // (the v3 bump) through the lineage read's coalesce
      else if (carriedRowId)
        StructType(target0.fields :+
          StructField(graft.types.FieldIds.RowIdCol, LongType,
            nullable = true, rmd(graft.types.FieldIds.RowIdFieldId)))
      else target0
    }
    // Field-id stamping + INT64-micros timestamps (not Spark's legacy
    // INT96 default: INT96 carries no footer statistics — timestamp
    // bounds could never be recorded for pruning or metadata MIN/MAX —
    // and the Iceberg spec forbids it in v2 data files). Scoped to this
    // write job by ManagedParquetFormat (below): a foreign same-session
    // `df.write.parquet` sees the user's own settings.
    val normalized = dfs.map(SchemaInfer.normalize(_, target))
      .reduce(_.unionByName(_))
    // the staging dir must be UNIQUE per write job, not per snapshot id:
    // two concurrent writers read the same current snapshot, and a
    // shared id-derived dir would let one job's overwrite clobber the
    // other's staged files (and its footer-stat pass see the other's
    // in-flight temporaries) — the id is only a human-readable prefix
    val nextId = catalog.currentSnapshot(namespace, name).map(_.snapshotId + 1).getOrElse(1L)
    val commitDir = catalog.dataDir(namespace, name).resolve(
      s"snap-$nextId-${java.util.UUID.randomUUID().toString.take(8)}")
    // layout by the TRANSFORMED partition value (identity = the value
    // itself): the `__p_<field>` mirror column directories the write,
    // and the log records each file's transformed tuple — the source
    // column itself stays in the data for non-identity transforms
    // (hidden partitioning: queries filter the source, metadata prunes
    // the transform)
    val partFields = PartitionTransforms.parseAll(m.partitionColumns)
    // `write.sort-order=c1,c2`: cluster every managed write so files
    // carry tight, (mostly) disjoint [min,max] bounds on the sort
    // columns — stat-based file skipping then prunes appends the way
    // compact(sortBy) prunes rewrites, at the cost of one range
    // shuffle per write (the property is the opt-in).
    val sortCols = m.properties.get("write.sort-order")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    sortCols.foreach(c => require(
      normalized.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"write.sort-order column '$c' not in schema " +
        s"(${normalized.schema.fieldNames.mkString(", ")})"))
    // `write.distribution-mode` (Iceberg's write layout property) for
    // PARTITIONED tables: `hash` shuffles each partition tuple into one
    // task (one file per partition value per commit — at 1000 input
    // tasks × 100 partitions the difference between 100 files and
    // 100,000), `range` range-partitions by (partition, sort key) for
    // globally disjoint bounds across files, `none` keeps the caller's
    // partitioning — existing layouts and file-count contracts stand.
    // Without the property the mode is `defaultDistribution`: `none`
    // for appends, overwrites and rewrites, `hash` for [[mergeDelta]],
    // whose batch is delta-sized (one small shuffle buys one file per
    // partition value instead of one per task and value on every
    // trigger). Transform-partitioned writes ALWAYS cluster at least by
    // the layout expressions: a days×bucket spec crossed with N input
    // tasks would otherwise fan out to N × |dirs| small files (and as
    // many log entries) per commit.
    val distMode = m.properties
      .getOrElse("write.distribution-mode", defaultDistribution)
      .toLowerCase(java.util.Locale.ROOT)
    require(Set("none", "hash", "range")(distMode),
      s"write.distribution-mode '$distMode' — expected none|hash|range")
    val layoutExprs = partFields.map(pf =>
      PartitionTransforms.layoutExpr(pf, normalized.schema))
    // EXPLICIT partition count on the clustering shuffle (round 17,
    // guide §2.2/§6): an expression-only repartition is fair game for
    // AQE partition coalescing, whose BYTE-sized target is the wrong
    // cost model for a fan-out write — a days×bucket commit coalesced
    // to 2 tasks opens/sorts/closes ~120 tiny writers per task
    // near-serially (measured: 2 of 32 cores busy, INSERT 3.6 s warm at
    // sf0.1) while per-task bytes stay trivial. The explicit count pins
    // the write's task parallelism to `spark.sql.shuffle.partitions` —
    // the same scale-configurable knob every other shuffle uses — and
    // hash placement keeps one file per partition tuple per commit
    // regardless of task count, so the layout contract is unchanged.
    val writeTasks = normalized.sparkSession.sessionState.conf.numShufflePartitions
    val clustered =
      if (partFields.isEmpty) normalized
      else distMode match {
        case "hash" => normalized.repartition(writeTasks, layoutExprs: _*)
        case "range" =>
          normalized.repartitionByRange(writeTasks,
            (layoutExprs ++ sortCols.map(col)): _*)
        case _ =>
          if (partFields.forall(_.isInstanceOf[IdentityField])) normalized
          else normalized.repartition(writeTasks, layoutExprs: _*)
      }
    // sort application: a hash or range distribution (or a transform
    // layout) already owns the clustering, so the sort applies within
    // those partitions only; identity tables under the default mode
    // keep the original whole-write range shuffle on the sort key
    val laidOut =
      if (sortCols.isEmpty) clustered
      else if (partFields.isEmpty || (distMode == "none" &&
          partFields.forall(_.isInstanceOf[IdentityField]))) {
        val n = math.max(1, clustered.rdd.getNumPartitions)
        clustered.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      } else clustered.sortWithinPartitions(sortCols.map(col): _*)
    val withLayout = partFields.foldLeft(laidOut)((d, pf) =>
      d.withColumn(layoutCol(pf.fieldName),
        PartitionTransforms.layoutExpr(pf, normalized.schema)))
    val codec = m.properties.getOrElse("write.compression", "zstd")
    var writer = withLayout.write.format(ManagedParquetFormat.Name)
      .mode("overwrite").option("compression", codec)
    m.properties.get("write.max-records-per-file")
      .foreach(v => writer = writer.option("maxRecordsPerFile", v))
    // `write.bloom-filter-columns=c1,c2`: parquet bloom filters on the
    // named columns (Iceberg's write.parquet.bloom-filter-enabled /
    // Delta's dataSkippingStatsColumns analogue). [min,max] bounds
    // cannot prune POINT lookups on high-cardinality keys whose values
    // interleave across files (every file's range covers every key);
    // a bloom filter answers "definitely absent" per ROW GROUP, so
    // `WHERE key = x` skips row groups inside the files metadata
    // pruning must keep — the reader applies it to pushed equality/IN
    // predicates automatically. Costs ~1 MB per column per row group
    // at the default NDV; the property is the opt-in.
    m.properties.get("write.bloom-filter-columns")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
      .foreach { c =>
        require(normalized.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"write.bloom-filter-columns column '$c' not in schema " +
            s"(${normalized.schema.fieldNames.mkString(", ")})")
        writer = writer.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
    if (partFields.nonEmpty)
      writer = writer.partitionBy(partFields.map(pf => layoutCol(pf.fieldName)): _*)
    writer.save(commitDir.toString)
    val statted = FileStats.statAll(spark, listParquet(commitDir.toString),
      p => partitionValuesFromPath(p, partFields.map(_.fieldName)))
    // Spark's writer can emit ZERO-ROW part files (empty task 0 of a
    // sparse batch, an empty range of a sort-order shuffle) — never
    // register them: each would be a permanent listing/stat tax on
    // every later plan, and a 100 TB table takes millions of commits
    val (kept, empty) = statted.partition(_.rowCount > 0)
    empty.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
    if (withLineageCols) kept.map(_.copy(lineageInFile = Some(true)))
    else kept
  }

  private def listParquet(dir: String): Seq[String] = FileStats.listParquet(dir)

  private def partitionValuesFromPath(path: String, parts: Seq[String]): Map[String, String] =
    FileStats.partitionValuesFromPath(path, parts)

  /** Footer-only stat: row count + size, no data read. */
  private def statFile(path: String, pv: Map[String, String]): DataFileEntry =
    FileStats.stat(spark, path, pv)
}

/** Footer-only parquet file statistics, shared by every write path
  * that registers files in the snapshot log (LakehouseTable commits,
  * the DSv2 SQL INSERT staging commit). */
object FileStats {

  /** Mirrored layout-column name a partitioned write directories by —
    * shared with the SQL COW relayout so every partitioned file in the
    * warehouse uses one naming scheme. */
  def layoutCol(c: String): String = s"__p_$c"

  /** Parse `__p_<col>=<val>` directory segments back to partition
    * values. Spark Hive-ESCAPES special characters in directory names
    * (':' → '%3A', …); the log stores the UNESCAPED external value so
    * metadata pruning and dynamic partition overwrite compare against
    * the same text a query literal carries. */
  def partitionValuesFromPath(path: String, parts: Seq[String]): Map[String, String] = {
    val segs = path.split('/')
    parts.flatMap { c =>
      val prefix = s"${layoutCol(c)}="
      segs.find(_.startsWith(prefix)).map(s => c ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(s.stripPrefix(prefix)))
    }.toMap
  }

  def listParquet(dir: String): Seq[String] =
    graft.util.Fs.walkList(Paths.get(dir))
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(_.toString).sorted

  /** URI-form path string (`file:///…`, as `_metadata.file_path` /
    * `input_file_name()` / external Iceberg metadata produce) → the
    * plain filesystem path the snapshot log stores. Plain paths pass
    * through unchanged. One shared definition — scan subtraction,
    * row-level COW and the Iceberg importer must all agree on it. */
  def normalizePath(s: String): String =
    if (s.contains(":/")) Paths.get(new java.net.URI(s)).toString else s

  /** Footer-stat a whole file list IN PARALLEL (deterministic order):
    * one footer read per file is driver-side metadata I/O, and a commit
    * of hundreds of files (a days×bucket layout, a large compaction)
    * must cost one round-trip latency, not one per file — the same
    * treatment requireIdBearingFiles gives its probe. */
  def statAll(spark: SparkSession, paths: Seq[String],
      pv: String => Map[String, String]): Seq[DataFileEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    if (paths.size <= 4) paths.map(p => stat(spark, p, pv(p), Some(conf)))
    else graft.util.Par.map(paths)(p => stat(spark, p, pv(p), Some(conf)))
  }

  /** Row count + size + per-column bounds from the parquet footer —
    * no data pages read. */
  def stat(spark: SparkSession, path: String, pv: Map[String, String],
      hadoopConf: Option[org.apache.hadoop.conf.Configuration] = None): DataFileEntry = {
    val conf = hadoopConf.getOrElse(spark.sessionState.newHadoopConf())
    val in = HadoopInputFile.fromPath(new HadoopPath(path), conf)
    val r = ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      // Iceberg-manifest-style column bounds from the footer: min/max
      // per column merged across row groups. Columns whose stats are
      // missing in ANY block get no bound (absence = "cannot prune" —
      // always safe).
      //
      // Keys are top-level primitives AND struct-LEAF dot paths
      // ("props.x" — every ancestor an UNANNOTATED parquet group, the
      // physical form of a struct): a pushed `props.x > 5` prunes
      // files by the leaf's bounds exactly like a flat column, which
      // is what Iceberg's per-leaf metrics buy at 100 TB. List/map
      // leaves are excluded (their LIST/MAP ancestors are annotated;
      // an element bound is no row predicate bound). A dot path that
      // COLLIDES with a literal dotted flat name ("props.x" the
      // column) is ambiguous — neither records. STRUCT-LEAF key count
      // caps at MaxStatKeys in schema order (wide structs must not
      // turn the log into a stats dump; absence only costs pruning) —
      // TOP-LEVEL columns are exempt from the cap: a wide flat table
      // must never silently lose the pruning and metadata-aggregate
      // coverage it always had.
      val sch = r.getFooter.getFileMetaData.getSchema
      val recordKeys: Set[String] = {
        def structPath(parts: Array[String]): Boolean = {
          var t: org.apache.parquet.schema.Type = sch
          var i = 0
          while (i < parts.length - 1) {
            val g = t.asGroupType()
            if (!g.containsField(parts(i))) return false
            val child = g.getType(parts(i))
            if (child.isPrimitive || child.getLogicalTypeAnnotation != null)
              return false
            t = child; i += 1
          }
          true
        }
        val paths = sch.getColumns.asScala.map(_.getPath).toSeq
        val names = paths.map(_.mkString("."))
        val ambiguous = names.groupBy(identity)
          .collect { case (n, g) if g.size > 1 => n }.toSet
        val eligible = paths
          .filter(p => structPath(p) && !ambiguous(p.mkString(".")))
        val (top, leaves) = eligible.partition(_.length == 1)
        (top.map(_.mkString(".")) ++
          leaves.map(_.mkString(".")).take(MaxStatKeys)).toSet
      }
      val mins = scala.collection.mutable.Map[String, Any]()
      val maxs = scala.collection.mutable.Map[String, Any]()
      val unsafe = scala.collection.mutable.Set[String]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      val nullsUnsafe = scala.collection.mutable.Set[String]()
      r.getFooter.getBlocks.asScala.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (recordKeys(name)) {
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) unsafe += name
            else statValues(st).foreach { case (mn, mx) =>
              mins(name) = mins.get(name).map(combine(_, mn, min = true)).getOrElse(mn)
              maxs(name) = maxs.get(name).map(combine(_, mx, min = false)).getOrElse(mx)
            }
            // null counts are exact only when EVERY block sets the stat —
            // unlike [min,max] this is independent of hasNonNullValue (an
            // all-null block has no min/max but a perfectly good count)
            if (st == null || !st.isNumNullsSet || st.getNumNulls < 0)
              nullsUnsafe += name
            else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
          }
        }
      }
      val stats = (mins.keySet -- unsafe).map { c =>
        c -> graft.catalog.ColBounds(mins(c).toString, maxs(c).toString)
      }.toMap
      val nullStats = (nulls.keySet -- nullsUnsafe).map(c => c -> nulls(c)).toMap
      DataFileEntry(path, rows, Files.size(Paths.get(path)), pv,
        if (stats.isEmpty) None else Some(stats),
        nullCounts = if (nullStats.isEmpty) None else Some(nullStats))
    } finally r.close()
  }

  /** Stat-key budget per file entry — Iceberg's metrics-truncation
    * analogue. Deterministic (schema order), absence never breaks
    * correctness (a missing stat just doesn't prune). */
  private val MaxStatKeys = 96

  /** Compare two strings in the order their recorded bounds were
    * CHOSEN in: parquet picks UTF8 min/max by UNSIGNED BYTE order,
    * which diverges from java.lang.String's UTF-16 code-unit order on
    * supplementary characters (4-byte UTF-8 sorts above all of the
    * BMP; their surrogate code units sort below U+E000..U+FFFF). A
    * String.compareTo against byte-order bounds could judge a
    * CONTAINED value out of bounds — false pruning / false delete
    * disjointness. Every string-bounds consumer compares through
    * this. */
  def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** (min, max) as comparable JVM values for the stat types we prune
    * on: integral, floating, and UTF-8 binary. Others → no bound. */
  private def statValues(
      st: org.apache.parquet.column.statistics.Statistics[_]): Option[(Any, Any)] =
    st match {
      case s: org.apache.parquet.column.statistics.LongStatistics =>
        Some((s.getMin: Long, s.getMax: Long))
      case s: org.apache.parquet.column.statistics.IntStatistics =>
        Some((s.getMin.toLong, s.getMax.toLong))
      case s: org.apache.parquet.column.statistics.DoubleStatistics =>
        Some((s.getMin: Double, s.getMax: Double))
      case s: org.apache.parquet.column.statistics.FloatStatistics =>
        Some((s.getMin.toDouble, s.getMax.toDouble))
      case s: org.apache.parquet.column.statistics.BinaryStatistics
          if s.`type`().getLogicalTypeAnnotation ==
            org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
        Some((s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8))
      case _ => None
    }

  private def combine(a: Any, b: Any, min: Boolean): Any = (a, b) match {
    case (x: Long, y: Long) => if ((x < y) == min) x else y
    case (x: Double, y: Double) => if ((x < y) == min) x else y
    // byte order, matching how parquet chose each block's extremes —
    // a UTF-16 merge could record a non-extreme as the bound
    case (x: String, y: String) => if ((utf8Compare(x, y) < 0) == min) x else y
    case _ => a
  }
}

object LakehouseTable {
  /** One live keyed-changelog cache per table (see [[scanChangesKeyed]]):
    * CacheManager pins Dataset caches strongly, so the previous read's
    * entry is evicted when a new one is created. */
  private[table] val changelogCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Changelog metadata columns ([[LakehouseTable.scanChanges]]) —
    * Delta CDF's names, the de-facto convention CDC consumers parse. */
  val ChangeTypeCol = "_change_type"
  val ChangeSnapshotCol = "_commit_snapshot_id"
  val ChangeTimestampCol = "_commit_timestamp"
  val ChangeInsert = "insert"
  val ChangeDelete = "delete"

  def load(catalog: Catalog, spark: SparkSession, ns: String, name: String): LakehouseTable = {
    catalog.loadTable(ns, name) // fail fast if absent
    new LakehouseTable(catalog, spark, ns, name)
  }

  /** Create-table + facade in one step (S20). */
  def create(
      catalog: Catalog, spark: SparkSession, ns: String, name: String,
      schema: StructType, partitionColumns: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): LakehouseTable = {
    catalog.createTable(ns, name, schema, partitionColumns, properties)
    new LakehouseTable(catalog, spark, ns, name)
  }
}
