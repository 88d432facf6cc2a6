package graft.sql

import java.util.Collections

import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.{Catalog, DataFileEntry, JdbcCatalog, Snaplog}
import graft.table.{FilePrune, FileStats, LakehouseTable, ManagedParquetFormat, PruneScope}

/** Snaplog-backed DSv2 table. Scanning delegates to Spark's vectorized
  * parquet DSv2, but the FILE LIST is pruned first from log metadata —
  * identity-partition values and per-file column [min,max] bounds — so
  * files that cannot match the pushed predicates are never handed to
  * Spark at all (Iceberg-manifest-style planning; at 100 TB the
  * difference between planning over a partition and planning over the
  * table). Tables with outstanding deletes plan a V1 relation serving
  * the visible rows (see [[MorRelation]]).
  *
  * Writes (current snapshot): `INSERT INTO` appends, `INSERT
  * OVERWRITE` replaces, `DELETE` takes the MOR tier, `UPDATE`/`MERGE`
  * rewrite file-granular copy-on-write, `TRUNCATE` commits
  * metadata-only — every one through the snapshot log's conditional
  * commit, so SQL writers get the same atomicity and optimistic
  * concurrency as the native API. Writes to a time-travel relation
  * are rejected. */
private[sql] final class GraftSqlTable(
    tableName: String,
    tableSchema: StructType,
    partitionCols: Seq[String],
    // live entries in replay order (data and delete files interleaved):
    // the sequencing equality deletes key off
    entries: Seq[DataFileEntry],
    backing: Catalog,
    ns: String,
    tbl: String,
    writable: Boolean,
    tableProps: Map[String, String] = Map.empty,
    loadedSnapshotId: Long = 0L) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  // read-side handles for the analyzer routing rules (EqDeleteRoute)
  private[sql] def backingCatalog: Catalog = backing
  private[sql] def backingNamespace: String = ns
  private[sql] def backingTable: String = tbl
  private[sql] def isWritable: Boolean = writable
  private[sql] def props: Map[String, String] = tableProps
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  /** DESCRIBE/SHOW surfaces: the real partition spec (identity / days /
    * bucket transforms) and catalog-stored table properties, not the
    * interface defaults (empty). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    import graft.table._
    PartitionTransforms.parseAll(partitionCols).map {
      case IdentityField(c) => Expressions.identity(c)
      case DaysField(c) => Expressions.days(c)
      case HoursField(c) => Expressions.hours(c)
      case MonthsField(c) => Expressions.months(c)
      case YearsField(c) => Expressions.years(c)
      case BucketField(n, c) => Expressions.bucket(n, c)
      // DESCRIBE/CTAS surface reports the PARSEABLE two-arg form (the
      // createTable transform parser accepts name "mbucket" + int arg);
      // the SPJ-resolvable name-encoded unary family (mbucket_<n>)
      // lives only in the SCAN's partitioning report (SpjKeys)
      case MBucketField(n, c) => Expressions.apply("mbucket",
        Expressions.literal(n), Expressions.column(c))
      case TruncateField(w, c) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(c))
    }.toArray
  }
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    tableProps.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** `UPDATE` / `MERGE INTO` (and DELETEs whose predicate has no exact
    * source-filter translation) run as FILE-GRANULAR group-based
    * copy-on-write: files whose log metadata (identity-partition values,
    * column bounds) proves no row can match the condition are carried
    * forward by path; only possibly-affected files are scanned and
    * rewritten, and the replacement lands as ONE conditional overwrite
    * commit — see [[GraftRowLevelOperation]]. Works on partitioned
    * tables (staged rows relayout by partition before registering) and
    * on tables with outstanding MOR vectors (the subtraction
    * materializes for affected files; the reset commit retires the
    * vectors). Spark's OptimizeMetadataOnlyDeleteFromTable rule still
    * prefers the cheaper SupportsDelete path for translatable DELETE
    * predicates. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    // NO eligibility checks here: the analyzer builds this for EVERY
    // DELETE/UPDATE/MERGE, including DELETEs the optimizer later
    // converts to the metadata-only SupportsDelete path. Guards live in
    // the operation's scan builder, which only plans when the
    // group-based rewrite is actually used.
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = new GraftRowLevelOperation(
        info.command, tableName, tableSchema, partitionCols, entries,
        backing, ns, tbl, writable, loadedSnapshotId, tableProps)
    }
  }

  /** `TRUNCATE TABLE` is METADATA-ONLY: one conditional overwrite
    * commit with an empty file list — no data file is touched, no row
    * is scanned, and every previous snapshot stays time-travelable.
    * (The inherited SupportsDelete default would instead MOR-delete
    * every row: a full scan producing a table-sized position vector.) */
  override def truncateTable(): Boolean = {
    if (!writable)
      throw new UnsupportedOperationException(
        s"$tableName: a time-travel relation is read-only")
    val expected = backing.currentSnapshot(ns, tbl).map(_.snapshotId).getOrElse(0L)
    backing.commit(ns, tbl, Snaplog.OpOverwrite, Seq.empty,
      Map("engine" -> "sql-truncate"), expectedSnapshotId = Some(expected))
    true
  }

  /** `DELETE FROM <t> WHERE <cond>` maps onto the MERGE-ON-READ delete
    * tier: one pushdown scan finds matched `(file, position)` pairs,
    * one KB-scale vector commits conditionally (race → clean failure),
    * data files stay untouched, and subsequent reads — SQL or native —
    * subtract the vector; compaction materializes it later. The cheap
    * path for scattered-predicate deletes, which is exactly what SQL
    * DELETE statements tend to be. Conditions Spark cannot express as
    * source filters are declined (Spark reports rewrite-unsupported
    * rather than deleting the wrong rows). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    writable && filters.forall(FilterToColumn.translatable)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    // unconditional `DELETE FROM t` (no residual predicate) is the
    // TRUNCATE shape: metadata-only empty-overwrite commit, not a
    // full scan building a position vector over every row
    if (filters.forall(f =>
        f.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])) {
      truncateTable(); return
    }
    val spark = SparkSession.active
    // opt-in equality tier ('write.delete.mode'='equality'): a keyed
    // DELETE — single `k = v` / `k IN (…)`, or a CONJUNCTION of
    // equalities over distinct columns (`k1 = v1 AND k2 = v2`, the
    // composite-key CDC shape) — commits ONE key-valued delete file
    // with NO data scan. Anything else (ranges, disjunctions, nulls)
    // falls back to the position-vector path below.
    if (tableProps.get("write.delete.mode").contains("equality")) {
      import org.apache.spark.sql.sources.{EqualTo => SEq, In => SIn}
      val keyed: Option[(String, Seq[Any])] = filters match {
        case Array(SEq(a, v)) if v != null => Some(a -> Seq(v))
        case Array(SIn(a, vs)) if vs.nonEmpty && !vs.contains(null) =>
          Some(a -> vs.toSeq)
        case _ => None
      }
      keyed.foreach { case (key, values) =>
        LakehouseTable.load(backing, spark, ns, tbl).deleteEq(key, values)
        return
      }
      // composite: every filter an equality on a distinct column →
      // one key TUPLE (the filters array is a conjunction)
      val eqs = filters.collect { case SEq(a, v) if v != null => a -> v }
      if (eqs.length == filters.length && eqs.length > 1 &&
          eqs.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct.length == eqs.length) {
        val keyRow = spark.range(1).select(eqs.map { case (c, v) =>
          org.apache.spark.sql.functions.lit(v).as(c) }: _*)
        LakehouseTable.load(backing, spark, ns, tbl)
          .deleteEq(eqs.map(_._1), keyRow)
        return
      }
    }
    val cond = filters.map(FilterToColumn.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    LakehouseTable.load(backing, spark, ns, tbl).deleteMor(cond)
    ()
  }
  /** MICRO_BATCH_READ (streaming tail, [[GraftMicroBatchStream]]) is
    * advertised for every writable current-snapshot relation
    * (time-travel relations are frozen). Outstanding deletes — both
    * EQUALITY key files and MOR position vectors — stream with skip
    * semantics: admission closes batches at delete boundaries, so a
    * crossed delete only touches rows already emitted (see
    * [[GraftMicroBatchStream]]); the one hard refusal left is a virgin
    * stream whose initial content itself carries deletes
    * (checkpoint-folded state), raised descriptively at plan time. */
  override def capabilities(): java.util.Set[TableCapability] = {
    val caps =
      if (!writable) java.util.EnumSet.of(TableCapability.BATCH_READ)
      else if (partitionCols.isEmpty)
        java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
          TableCapability.TRUNCATE)
      else java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)
    if (writable) caps.add(TableCapability.MICRO_BATCH_READ)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(tableName, tableSchema, partitionCols, entries, options,
      streamCtx = if (writable) Some((backing, ns, tbl)) else None,
      statsUnsafe = graft.types.FieldIds.namesSet(tableProps,
        graft.types.FieldIds.StatsUnsafeProp),
      ndvStats = graft.table.TableStats.fromProperties(tableProps),
      interiorById = tableProps
        .get(graft.types.FieldIds.InteriorByIdProp).contains("true"))
  /** `INSERT INTO` appends; `INSERT OVERWRITE` (truncate-then-append in
    * Spark's plan) lands as ONE conditional overwrite commit — the
    * previous file set is replaced atomically, never a visible empty
    * table in between.
    *
    * Unpartitioned tables take the pure-DSv2 path: executors write
    * parquet through Spark's own ParquetWrite, the driver footer-stats
    * and registers the staged files. IDENTITY-PARTITIONED tables take
    * the V1 write bridge (`V1_BATCH_WRITE` → InsertableRelation): the
    * query's DataFrame routes through the SAME `writeCommit` the native
    * API uses, whose `partitionBy` layout writes each file single-valued
    * and records its partition tuple in the log — one distributed write,
    * pruning preserved. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (!writable)
      throw new UnsupportedOperationException(
        s"$tableName: a time-travel relation is read-only")
    new WriteBuilder with SupportsTruncate {
      private var replaceAll = false
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): Write =
        if (partitionCols.isEmpty)
          new GraftAppendWrite(tableName, tableSchema, backing, ns, tbl, info,
            replaceAll)
        else new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation(): org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  overwrite: Boolean): Unit = {
                val t0 = LakehouseTable.load(backing, SparkSession.active, ns, tbl)
                if (replaceAll || overwrite)
                  t0.overwrite(data, Map("engine" -> "sql-insert-overwrite"))
                else t0.append(data)
                ()
              }
            }
          override def description(): String = s"GraftV1PartitionedWrite[$tableName]"
        }
    }
  }
}

/** Append-only DSv2 write behind the snapshot-log commit protocol:
  * executors write parquet into a staging dir under the table's data
  * dir through Spark's own ParquetWrite (full codegen'd row writers +
  * job commit protocol); the driver-side `BatchWrite.commit` then
  * footer-stats the staged files and registers them with ONE
  * conditional catalog commit. A concurrent committer surfaces as
  * CommitConflictException (fail the INSERT, nothing registered) —
  * never a silently-interleaved log. */
private[sql] final class GraftAppendWrite(
    tableName: String,
    tableSchema: StructType,
    backing: Catalog,
    ns: String,
    tbl: String,
    info: LogicalWriteInfo,
    replaceAll: Boolean = false) extends Write {
  override def toBatch: BatchWrite = {
    val spark = SparkSession.active
    val stage = backing.dataDir(ns, tbl).resolve(
      s"snap-sql-${java.util.UUID.randomUUID().toString.take(12)}")
    val expected = backing.currentSnapshot(ns, tbl).map(_.snapshotId).getOrElse(0L)
    // stamp the field-id registry into the staged parquet (ids are
    // schema metadata only — row layout unchanged), so SQL-inserted
    // files are as rename-eligible as native writes
    import graft.types.FieldIds
    val writeSchema = backing.loadTable(ns, tbl).properties
      .get(FieldIds.RegistryProp).map(FieldIds.decode)
      .map(FieldIds.attach(tableSchema, _)).getOrElse(tableSchema)
    // field-id stamping + INT64-micros timestamps, scoped to this write
    // job's conf — a foreign same-session write never inherits them
    val delegate = ManagedParquetFormat.batchWrite(stage, writeSchema, info)
    new GraftBatchWrite(delegate, backing, ns, tbl, stage, expected, spark,
      if (replaceAll) Snaplog.OpOverwrite else Snaplog.OpAppend,
      Map("engine" -> (if (replaceAll) "sql-insert-overwrite" else "sql-insert")))
  }
  override def description(): String = s"GraftAppendWrite[$tableName]"
}

/** Group-based replacement rows arrive as `[__row_operation, data…]`
  * (every row a WRITE in copy-on-write mode — deletions are simply
  * absent); strip the marker ordinal before the delegated parquet
  * writers, which were prepared for the data schema alone. */
private[sql] final class OperationStrippingWriterFactory(
    delegate: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] = {
    val inner = delegate.createWriter(partitionId, taskId)
    val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
      dataSchema, (1 to dataSchema.length).toIndexedSeq)
    new org.apache.spark.sql.connector.write.DataWriter[org.apache.spark.sql.catalyst.InternalRow] {
      override def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = {
        proj.project(row)
        inner.write(proj)
      }
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
  }
}

private[sql] final class GraftBatchWrite(
    delegate: BatchWrite,
    backing: Catalog,
    ns: String,
    tbl: String,
    stage: java.nio.file.Path,
    expected: Long,
    spark: SparkSession,
    operation: String,
    summary: Map[String, String],
    stripRowOperationColumn: Boolean = false,
    dataSchema: StructType = null,
    carryFiles: () => Seq[DataFileEntry] = () => Seq.empty,
    partitionCols: Seq[String] = Seq.empty,
    codec: String = "zstd",
    cleanup: () => Unit = () => ()) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo) = {
    val f = delegate.createBatchWriterFactory(info)
    if (stripRowOperationColumn) new OperationStrippingWriterFactory(f, dataSchema)
    else f
  }
  override def useCommitCoordinator: Boolean = delegate.useCommitCoordinator
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    delegate.commit(messages) // parquet job commit: staged files final
    val staged = FileStats.listParquet(stage.toString)
    val statted =
      if (partitionCols.isEmpty) FileStats.statAll(spark, staged, _ => Map.empty)
      else relayout(staged)
    // same contract as LakehouseTable.stageDataFiles: Spark's writer
    // can emit zero-row part files (empty task of a sparse INSERT's
    // plan, an empty relayout partition) — never register them
    val (files, emptyParts) = statted.partition(_.rowCount > 0)
    emptyParts.foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f.path)))
    val carry = carryFiles()
    val extra =
      if (!stripRowOperationColumn) summary
      else summary ++ Map(
        "rewritten-files" -> files.size.toString,
        // data files only — an eq-delete entry re-listed to preserve
        // carried layering is bookkeeping, not a carried group
        "carried-files" ->
          carry.count(f => !f.deleteFile.contains(true)).toString)
    backing.commit(ns, tbl, operation, carry ++ files, extra,
      expectedSnapshotId = Some(expected))
    cleanup()
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    delegate.abort(messages)
    GraftBatchWrite.rmTree(stage)
    GraftBatchWrite.rmTree(layoutDir)
    cleanup()
  }

  private def layoutDir: java.nio.file.Path =
    stage.resolveSibling(stage.getFileName.toString + "-layout")

  /** Identity-partitioned COW rewrite: the DSv2 staged write carries no
    * partition layout (ReplaceData has no V1 write fallback), so the
    * replacement rows take ONE more distributed pass — repartition by
    * the partition columns and rewrite `partitionBy`'d — making every
    * registered file single-valued with its partition tuple in the log:
    * the invariant metadata pruning, partition-exact aggregates and
    * dynamic partition overwrite all rely on. Costs one read+write of
    * the REPLACEMENT rows only (affected files, not the table). */
  private def relayout(staged: Seq[String]): Seq[DataFileEntry] = {
    if (staged.isEmpty) return Seq.empty
    val reader = spark.read
    val df = (if (dataSchema != null) reader.schema(dataSchema) else reader)
      .parquet(staged: _*)
    // layout by the TRANSFORMED partition value (identity = the value
    // itself), same scheme as LakehouseTable.writeCommit
    val partFields = graft.table.PartitionTransforms.parseAll(partitionCols)
    val layoutExprs = partFields.map(pf =>
      graft.table.PartitionTransforms.layoutExpr(pf, df.schema))
    // explicit task count like LakehouseTable.stageDataFiles (round 17):
    // expression-only repartitions are AQE-coalesced by BYTES, which
    // serializes a many-partition fan-out write onto a couple of tasks
    val relayoutTasks = spark.sessionState.conf.numShufflePartitions
    val withLayout = partFields.zip(layoutExprs).foldLeft(
      df.repartition(relayoutTasks, layoutExprs: _*))(
      (d, pe) => d.withColumn(FileStats.layoutCol(pe._1.fieldName), pe._2))
    // the relayout is a managed write like any other — field ids +
    // micros timestamps in force for ITS job too
    withLayout.write.format(ManagedParquetFormat.Name)
      .mode("overwrite").option("compression", codec)
      .partitionBy(partFields.map(pf => FileStats.layoutCol(pf.fieldName)): _*)
      .save(layoutDir.toString)
    GraftBatchWrite.rmTree(stage) // staged files are intermediate once laid out
    FileStats.statAll(spark, FileStats.listParquet(layoutDir.toString),
      p => FileStats.partitionValuesFromPath(p, partFields.map(_.fieldName)))
  }
}

private[sql] object GraftBatchWrite {
  def rmTree(p: java.nio.file.Path): Unit = graft.util.Fs.deleteTree(p)
}

/** Group-based row-level operation (UPDATE / MERGE / rewrite-DELETE)
  * with FILE-GRANULAR copy-on-write: under group semantics a data file
  * is a replacement group, and a file whose log metadata PROVES no row
  * can match the statement's condition is an untouched group — it is
  * carried forward into the commit by path, never scanned and never
  * rewritten (the same shape the native `LakehouseTable.delete`
  * commits). At 100 TB this is what makes `UPDATE … WHERE id = 1` a
  * few-file rewrite instead of a table rewrite.
  *
  * How the split is learned: Spark's
  * GroupBasedRowLevelOperationScanPlanning rule pushes the statement's
  * condition (for MERGE, the target-side conjuncts of the join
  * condition it proves safe) into the operation's scan builder as
  * GROUP filters — the documented contract being that the scan may
  * skip entire groups no row of which can match, but must return ALL
  * rows of every group it reads (no residual Filter is planned above,
  * so the pushed predicates must NEVER row-filter — which is also why
  * they are NOT forwarded to the parquet reader). Each scan builder
  * registers its pushed group filters; a scan plans
  * `affected = {f : mayMatch(f, every pushed filter)}` and the commit
  * carries `live − ∪ affected` — files conservatively PROVEN rowless
  * under the condition. A stats bug can cost an extra file rewrite but
  * never a wrong row, because `mayMatch` only returns false on proof.
  * With nothing pushed (join/subquery conditions Spark declines to
  * push) every file is scanned and nothing is carried — round-6's
  * always-correct whole-table rewrite.
  *
  * The replacement rows land as ONE conditional OVERWRITE commit
  * (carried files + staged rewrites); a racing committer fails the
  * statement cleanly via CommitConflictException with nothing
  * registered. Identity-partitioned tables relayout the staged rows by
  * partition before registering (see GraftBatchWrite.relayout), so the
  * partition-metadata invariants survive SQL DML. Tables with
  * outstanding merge-on-read deletes materialize the subtraction for
  * affected files at scan time (equality deletes per replay segment,
  * then position vectors) — deleted rows never resurrect. The reset
  * commit retires position vectors (their touched files always
  * rewrite); equality deletes re-list behind the carried data files
  * they still apply to, preserving keyed-CDC layering without
  * rewriting untouched files (see [[carriedFiles]]). */
private[sql] final class GraftRowLevelOperation(
    cmd: RowLevelOperation.Command,
    tableName: String,
    tableSchema: StructType,
    partitionCols: Seq[String],
    entries: Seq[DataFileEntry],
    backing: Catalog,
    ns: String,
    tbl: String,
    writable: Boolean,
    loadedSnapshotId: Long,
    tableProps: Map[String, String] = Map.empty) extends RowLevelOperation {

  import org.apache.spark.sql.catalyst.expressions.Expression

  private val (deleteFiles, files) = entries.partition(_.deleteFile.contains(true))

  override def command(): RowLevelOperation.Command = cmd

  // handles for the EqDeleteRoute analyzer rule, which recognizes this
  // operation inside Spark's (private) RowLevelOperationTable wrapper
  private[sql] def backingCatalog: Catalog = backing
  private[sql] def backingNamespace: String = ns
  private[sql] def backingTable: String = tbl
  private[sql] def isWritable: Boolean = writable
  private[sql] def props: Map[String, String] = tableProps

  // ---- file-granular group split -----------------------------------------

  /** Pushed GROUP filters per scan builder — builders register at
    * creation (empty) so an unpushed branch defaults to
    * scan-everything, and the commit's carry computation sees EVERY
    * branch of the rewritten plan. */
  private val scanFilters =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, Seq[Expression]]()

  /** The table's pruning scope. Its stats-unsafe names (rebound by an
    * evolution: drop+re-add / rename onto a freed name) stop group
    * filters from pruning — old files' name-keyed bounds describe a
    * different column, and a wrongly-carried file is a silently-lost
    * UPDATE. */
  private val scope = PruneScope(partitionCols, graft.types.FieldIds.namesSet(
    tableProps, graft.types.FieldIds.StatsUnsafeProp))

  /** Data files this branch's group filters cannot prove rowless —
    * plus, under outstanding MOR vectors, every vector-touched file:
    * the COW commit is a RESET that retires vectors, so a touched file
    * must be rewritten (carrying it would resurrect its deleted rows). */
  private def affectedFiles(filters: Seq[Expression]): Seq[DataFileEntry] = {
    val base = files.filter(FilePrune.keep(filters, scope))
    if (deleteFiles.isEmpty) base
    else {
      val keep = base.map(_.path).toSet
      val touched = vectorTouched
      base ++ files.filter(f => !keep(f.path) && touched(f))
    }
  }

  /** Runtime-pruned file sets, keyed by scan builder — set when Spark's
    * RowLevelOperationRuntimeGroupFiltering hands a scan the EXACT
    * partition values of matched rows (see GraftCowScan.filter); an
    * entry overrides the builder's static split for carry accounting. */
  private val runtimePlanned =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, Seq[String]]()

  /** Live entries NO branch of the rewrite plans — data files
    * conservatively proven to hold no row matching the statement's
    * condition (and untouched by any position vector). Committed by
    * path, unrewritten. Computed at commit time, when every branch has
    * registered (and any runtime group filters have run — scans
    * execute before the write commits).
    *
    * With outstanding EQUALITY deletes the carry preserves the replay
    * interleaving: carried data files keep their ORIGINAL order
    * relative to the eq-delete entries, and each eq-delete entry is
    * re-listed iff at least one carried data file still precedes it —
    * so the overwrite commit (a window reset whose entries replay in
    * list order) applies exactly the old subtractions to exactly the
    * old files, while the rewritten files appended AFTER the deletes
    * (already materialized post-delete) are untouched by them. This is
    * Iceberg's sequence-number layering expressed in log position —
    * a keyed-CDC table takes an UPDATE without rewriting or compacting
    * the files the statement never touched. Position vectors never
    * carry: every vector-touched file is forced into the rewrite set,
    * so the vectors retire with the reset. */
  private def carriedFiles(): Seq[DataFileEntry] = {
    import scala.jdk.CollectionConverters._
    val planned = scanFilters.asScala.toSeq.flatMap { case (builder, filters) =>
      Option(runtimePlanned.get(builder))
        .getOrElse(affectedFiles(filters).map(_.path))
    }.toSet
    var dataSeen = false
    entries.flatMap { e =>
      if (graft.table.EqDeletes.isEq(e)) {
        if (dataSeen) Some(e) else None // subtracts nothing: retire
      } else if (e.deleteFile.contains(true)) None // position vectors retire
      else if (planned.contains(e.path)) None // rewritten downstream
      else { dataSeen = true; Some(e) }
    }
  }

  /** Is a data file referenced by an outstanding POSITION vector? One
    * cached read of the vectors' paths ([[graft.table.EqDeletes.vectorPaths]]).
    * Equality-delete files carry key values, not paths — an eq-covered
    * file need not rewrite because [[carriedFiles]] preserves its
    * delete layering. */
  private def vectorTouched: DataFileEntry => Boolean = {
    val paths = graft.table.EqDeletes.vectorPaths(SparkSession.active,
      deleteFiles.filter(graft.table.EqDeletes.isPos))
    f => paths(FileStats.normalizePath(f.path))
  }

  /** MOR-outstanding tables: the rewrite must see POST-delete rows
    * (both tiers — a deleted key surfacing in the COW scan could be
    * "matched" and resurrected as an update), and neither subtraction
    * can ride a DSv2 batch scan — so each branch's affected files have
    * their surviving rows materialized to a temp dir the scan then
    * reads — the table's visible-rows read over the affected files
    * ([[graft.table.EqDeletes.visible]]). One extra pass over AFFECTED
    * rows only: the price of DML before compaction. Cached per
    * distinct file set (branches of one statement share it). */
  private var morCache: Map[Seq[String], Seq[String]] = Map.empty
  private var morTemp: List[java.nio.file.Path] = Nil

  private def materializedSurvivors(affected: Seq[DataFileEntry]): Seq[String] = synchronized {
    val paths = affected.map(_.path)
    morCache.get(paths) match {
      case Some(staged) => staged
      case None =>
        val staged = if (paths.isEmpty) Seq.empty[String] else {
          val tmp = backing.dataDir(ns, tbl).resolve(
            s"mor-cow-${java.util.UUID.randomUUID().toString.take(12)}")
          val pathSet = paths.toSet
          graft.table.EqDeletes.visible(SparkSession.active, tableSchema, entries,
              f => pathSet(f.path), withMeta = false)
            .write.mode("overwrite").parquet(tmp.toString)
          morTemp ::= tmp
          FileStats.listParquet(tmp.toString)
        }
        morCache += paths -> staged
        staged
    }
  }

  /** Commit-/abort-time hook: drop the MOR materialization temp dirs. */
  private def releaseTemp(): Unit = synchronized {
    morTemp.foreach(GraftBatchWrite.rmTree)
    morTemp = Nil
    morCache = Map.empty
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // eligibility surfaces HERE — only when the group-based rewrite is
    // actually planned (a DELETE the optimizer routes to the
    // metadata-only path never gets this far)
    if (!writable)
      throw new UnsupportedOperationException(
        s"$tableName: a time-travel relation is read-only")
    new ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters {
      private var myFilters: Seq[Expression] = Seq.empty
      scanFilters.put(this, myFilters)
      override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
        // these are GROUP filters (GroupBasedRowLevelOperationScanPlanning):
        // usable to skip whole files, NEVER to drop rows — the planner
        // re-adds no Filter above this scan. The returned residual is
        // ignored by that rule; returning everything is the safe shape
        // should an ordinary pushdown path ever reach this builder.
        myFilters = filters
        scanFilters.put(this, filters)
        filters
      }
      override def pushedFilters
          : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
        Array.empty
      override def build(): Scan = new GraftCowScan(this, myFilters, options)
    }
  }

  /** Row-level scan over this branch's affected files. The pushed group
    * filters are deliberately NOT forwarded to the parquet reader:
    * group semantics require every row of a planned file to surface
    * (row-group or record skipping would silently drop keep-rows).
    * File pruning from log metadata is the entire optimization.
    *
    * On partitioned tables the scan also advertises the partition
    * SOURCE columns for RUNTIME group filtering: Spark's
    * RowLevelOperationRuntimeGroupFiltering computes the EXACT distinct
    * source values of condition-matching rows (for MERGE, via the
    * actual join — the case static pruning can never see) and calls
    * `filter` before planning input partitions. Identity values prune
    * by text equality; transform sources (days(ts), bucket, truncate)
    * re-run the writer's transform on each value, so dropped files
    * provably hold no matching row and join-shaped DML is
    * file-granular under hidden partitioning too. Spark only installs
    * the filter when group semantics allow it (e.g. never for MERGE
    * with NOT MATCHED BY SOURCE actions). The value set is the
    * join's matched-side distinct keys — partition-count-bounded for
    * identity, source-batch-bounded for transforms; data columns
    * outside the partition spec are NOT advertised. */
  private final class GraftCowScan(
      builderKey: AnyRef,
      branchFilters: Seq[Expression],
      options: CaseInsensitiveStringMap) extends Scan
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.Predicate

    @volatile private var runtimeKept: Option[Seq[DataFileEntry]] = None

    override def readSchema(): StructType = tableSchema

    override def filterAttributes(): Array[NamedReference] =
      // every partition SOURCE column: identity values compare as text
      // against the stored segment; transform sources run the same
      // transform the writer used (PartitionTransforms.mayMatch), so a
      // join-shaped MERGE on a days(ts) table prunes to the matched
      // days. The runtime value set is the DISTINCT source values of
      // condition-matching rows — for identity partitioning that is
      // partition-count-bounded; for a transform source it is bounded
      // by the MERGE/UPDATE source batch's distinct keys (the join's
      // small side), which is the set Spark has already collected to
      // build the IN predicate before calling filter().
      graft.table.PartitionTransforms.parseAll(partitionCols)
        .map(pf => Expressions.column(pf.source)).distinct.toArray

    override def filter(predicates: Array[Predicate]): Unit = {
      val statically = affectedFiles(branchFilters)
      val touched = vectorTouched
      val kept = statically.filter(f =>
        touched(f) || predicates.forall(p => runtimeAllows(f, p)))
      runtimeKept = Some(kept)
      runtimePlanned.put(builderKey, kept.map(_.path))
      ()
    }

    /** Conservative may-match of one runtime predicate against a
      * file's recorded partition values — the shared evaluator
      * ([[RuntimePrune]], also the batch read scan's DPP kernel):
      * identity fields by exact external-text round-trip, transform
      * fields by re-running the writer's transform; anything
      * unrecognized keeps the file. */
    private def runtimeAllows(f: DataFileEntry, p: Predicate): Boolean =
      RuntimePrune.allows(f, p, partitionCols)

    override def toBatch: org.apache.spark.sql.connector.read.Batch = {
      val affected = runtimeKept.getOrElse(affectedFiles(branchFilters))
      val paths =
        if (deleteFiles.isEmpty) affected.map(_.path)
        else materializedSurvivors(affected)
      ParquetTable(tableName, SparkSession.active, options,
        paths, Some(tableSchema), classOf[ParquetFileFormat])
        .newScanBuilder(options).build().toBatch
    }
    override def description(): String = s"GraftCowScan[$cmd $tableName]"
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          val spark = SparkSession.active
          val stage = backing.dataDir(ns, tbl).resolve(
            s"snap-sql-${java.util.UUID.randomUUID().toString.take(12)}")
          // expected = the snapshot the SCANNED file list was frozen at
          // (loadTable time), NOT the current snapshot here: a commit
          // landing between analysis and execution must fail this
          // statement (its rows are absent from the rewrite's scan) —
          // reading current here would silently overwrite it
          val expected = loadedSnapshotId
          // rewritten files must carry field ids like every managed
          // write (ids are schema metadata only — row layout unchanged):
          // on an evolved read-by-id table an id-less rewrite would make
          // the table unreadable, and even pre-evolution it would block
          // a later rename until compaction
          import graft.types.FieldIds
          val reg = backing.loadTable(ns, tbl).properties
            .get(FieldIds.RegistryProp).map(FieldIds.decode)
          def stamp(s: StructType): StructType =
            reg.map(FieldIds.attach(s, _)).getOrElse(s)
          // field-id stamping + INT64-micros timestamps, scoped to this
          // write job's conf
          val delegate = ManagedParquetFormat.batchWrite(stage, stamp(info.schema()), info)
          val codec = backing.loadTable(ns, tbl).properties
            .getOrElse("write.compression", "zstd")
          new GraftBatchWrite(delegate, backing, ns, tbl, stage, expected, spark,
            Snaplog.OpOverwrite,
            Map("engine" -> s"sql-${cmd.toString.toLowerCase(java.util.Locale.ROOT)}"),
            // stamped: relayout re-reads the stage with this schema and
            // re-writes — the final files must carry ids too
            stripRowOperationColumn = true, dataSchema = stamp(tableSchema),
            carryFiles = () => carriedFiles(),
            partitionCols = partitionCols, codec = codec,
            cleanup = () => releaseTemp())
        }
        override def description(): String = s"GraftRowLevelWrite[$cmd $tableName]"
      }
    }

  override def description(): String = s"GraftRowLevelOperation[$cmd $tableName]"
}

/** Source-filter → Column translation for the SQL DELETE path. Only
  * shapes with exact Column equivalents translate; anything else makes
  * `canDeleteWhere` decline, so Spark fails the statement instead of
  * this code deleting rows a half-understood predicate did not mean. */
private[sql] object FilterToColumn {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def translatable(f: Filter): Boolean = f match {
    case _: EqualTo | _: EqualNullSafe | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
         _: StringStartsWith | _: StringEndsWith | _: StringContains |
         _: AlwaysTrue | _: AlwaysFalse => true
    case And(l, r) => translatable(l) && translatable(r)
    case Or(l, r) => translatable(l) && translatable(r)
    case Not(c) => translatable(c)
    case _ => false
  }

  def toColumn(f: Filter): Column = f match {
    case EqualTo(a, v) => col(a) === lit(v)
    case EqualNullSafe(a, v) => col(a) <=> lit(v)
    case GreaterThan(a, v) => col(a) > lit(v)
    case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case LessThan(a, v) => col(a) < lit(v)
    case LessThanOrEqual(a, v) => col(a) <= lit(v)
    case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case IsNull(a) => col(a).isNull
    case IsNotNull(a) => col(a).isNotNull
    case And(l, r) => toColumn(l) && toColumn(r)
    case Or(l, r) => toColumn(l) || toColumn(r)
    case Not(c) => !toColumn(c)
    case StringStartsWith(a, v) => col(a).startsWith(v)
    case StringEndsWith(a, v) => col(a).endsWith(v)
    case StringContains(a, v) => col(a).contains(v)
    case _: AlwaysTrue => lit(true)
    case _: AlwaysFalse => lit(false)
    case other => throw new IllegalArgumentException(s"untranslatable filter $other")
  }
}

/** V1 relation serving the visible rows of a table with outstanding
  * deletes ([[graft.table.EqDeletes.visible]], the same read
  * `LakehouseTable.scan` assembles) over the data files metadata
  * pruning `kept`, surfaced through the SQL catalog so a table with
  * outstanding deletes stays queryable by name instead of demanding a
  * compaction first. The residual predicates are re-applied above the
  * read; Catalyst pushes them through the subtraction joins down to the
  * parquet scans as data filters (row-group skipping), and Spark's own
  * copy still re-filters above this relation. */
private[sql] final class MorRelation(
    ctx: SQLContext,
    tableSchema: StructType,
    requiredSchema: StructType,
    ordered: Seq[DataFileEntry],
    kept: Set[String],
    dataSizeBytes: Long,
    residual: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty)
    extends BaseRelation with TableScan {
  override def sqlContext: SQLContext = ctx
  override def schema: StructType = requiredSchema
  /** Log-recorded data size, NOT Spark's pessimistic default
    * (effectively infinite) — without this a small MOR-state dimension
    * could never plan on the broadcast side of a join. Slight
    * over-estimate (vector-deleted rows still counted): safe direction
    * for a broadcast decision. */
  override def sizeInBytes: Long = dataSizeBytes
  override def buildScan(): org.apache.spark.rdd.RDD[Row] =
    residual.foldLeft(graft.table.EqDeletes.visible(ctx.sparkSession, tableSchema,
        ordered, f => kept(f.path), withMeta = false)) { (d, e) =>
      d.filter(org.apache.spark.sql.GraftStreamingShim.asColumn(e))
    }.select(requiredSchema.fieldNames.toIndexedSeq.map(col): _*).rdd
}

/** ScanBuilder that (1) prunes the file list from log metadata using
  * the pushed predicates, then (2) hands the survivors to a fresh
  * ParquetScanBuilder, forwarding the same predicates so parquet
  * footer / row-group skipping still applies downstream. Every filter
  * is also kept as a residual (returned from `pushFilters`), so
  * metadata pruning is purely an optimization — row-level evaluation
  * still happens and a stats bug cannot change results. Implements the
  * same catalyst-filter pushdown interface FileScanBuilder does, so
  * the planner treats it exactly like a file-source builder. */
private[sql] final class GraftScanBuilder(
    tableName: String,
    tableSchema: StructType,
    partitionCols: Seq[String],
    entries: Seq[DataFileEntry],
    options: CaseInsensitiveStringMap,
    streamCtx: Option[(Catalog, String, String)] = None,
    statsUnsafe: Set[String] = Set.empty,
    ndvStats: Map[String, graft.table.TableStats.ColNdv] = Map.empty,
    interiorById: Boolean = false)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}

  private val (deleteFiles, files) = entries.partition(_.deleteFile.contains(true))
  private var exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq.empty
  private var required: StructType = tableSchema
  private var pushedAgg: Option[Aggregation] = None

  /** Non-identity transform fields of the partition spec — what
    * transform-exact consumption (hidden partitioning: the pushed
    * predicate names the source column, the file records the
    * transformed value) is judged against. Empty for identity-only
    * tables. */
  private lazy val transformFields: Seq[graft.table.PartField] =
    graft.table.PartitionTransforms.parseAll(partitionCols)
      .filterNot(_.isInstanceOf[graft.table.IdentityField])

  private val scope = PruneScope(partitionCols, statsUnsafe)

  // memoized: the full prune pass is O(files x filters) driver work
  // consulted several times per plan (pushFilters gate, metadata
  // aggregates, build's branch guard and body); exprs are final after
  // pushFilters, which invalidates the memo on (re-)push
  private var keptFilesMemo: Seq[DataFileEntry] = null
  private def keptFiles: Seq[DataFileEntry] = {
    if (keptFilesMemo == null) keptFilesMemo = files.filter(FilePrune.keep(exprs, scope))
    keptFilesMemo
  }

  /** Data files possibly AFFECTED by an outstanding delete entry —
    * position vectors by their recorded file_path sets, equality
    * deletes by key-bounds overlap against files preceding them in
    * replay order (EqDeletes.touchedDataPaths, the rewriteDeleteFiles
    * selection shared verbatim). Every file NOT here keeps exact
    * logged row counts and bounds even while deletes are outstanding,
    * which is what lets exact-filter consumption and metadata
    * aggregates survive a delete-bearing table when the query's file
    * set provably dodges every delete. Computed once per scan build;
    * the vector read is driver-side and vector-sized. */
  private lazy val touchedByDeletes: Set[String] =
    graft.table.EqDeletes.touchedDataPaths(SparkSession.active, entries,
      statsUnsafe, tableSchema)

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    exprs = filters
    keptFilesMemo = null
    // PARTITION-EXACT predicates (equality/IN/IsNotNull/integral-range
    // over identity-partition columns recorded for every file) are
    // fully consumed: identity partitioning makes file pruning select
    // exactly the matching rows, so no residual evaluation is needed —
    // which also unlocks aggregate pushdown under partition filters.
    // Everything else stays residual: stat-based pruning for those is
    // conservative, so row-level evaluation must still happen.
    // TRANSFORM-EXACT predicates (unit-aligned range bounds over a
    // hidden-partition transform, see PartitionTransforms.rangeExact)
    // are equally consumable: the pruned file set holds exactly the
    // matching rows — the day-window shape every events dashboard
    // filters by.
    // Outstanding MOR deletes normally force every filter residual
    // (file pruning alone cannot account for deleted rows) — EXCEPT
    // when no file the filters keep can be touched by any outstanding
    // delete (touchedByDeletes): subtraction is then a provable no-op
    // over the kept set, so exact consumption still holds. This is
    // what lets a partition-window COUNT on a delete-bearing CDC table
    // stay metadata-answered when the deletes hit other partitions.
    if (deleteFiles.nonEmpty &&
        keptFiles.exists(f => touchedByDeletes(f.path))) filters
    else filters.filterNot(e =>
      FilePrune.partitionExact(e, partitionCols.toSet, files) ||
        graft.table.PartitionTransforms.rangeExact(e, transformFields, files))
  }

  // file pruning is reported by the delegated ParquetScan's own
  // pushed-filter metadata; nothing extra to surface here
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  /** Interior-by-id tables ([[graft.types.FieldIds.InteriorByIdProp]]):
    * Spark's nested schema pruning hands this builder a requested
    * schema WITHOUT interior field-id metadata, and honoring it as-is
    * would silently null renamed interior leaves of old files. Round
    * 16: the ids are RE-ATTACHED onto the pruned shape (path-keyed
    * from the interior-stamped table schema — a no-op for pruned-away
    * members), so the delegated ParquetScan's read schema keeps the
    * PRUNED shape and resolves the requested members BY ID against old
    * and new files alike — an interior rename no longer costs nested
    * pruning (r15 widened interior-bearing roots to full subtrees
    * here). Struct-only chains never needed this (Spark preserves
    * their id metadata through pruning). */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      if (!interiorById) requiredSchema
      else graft.types.FieldIds.attachInterior(requiredSchema,
        graft.types.FieldIds.collectInteriorIds(tableSchema))

  // ---- metadata-only aggregates ------------------------------------------
  // COUNT(*)/MIN/MAX are already IN the snapshot log (row counts and
  // column bounds per file), so the whole query answers from metadata
  // without opening a single data file — the Iceberg manifest-aggregate
  // optimization, and at 100 TB the difference between a free answer
  // and a full table scan. Filters are allowed ONLY when every pushed
  // predicate is PARTITION-EXACT (equality/IN/IsNotNull over identity-
  // partition columns recorded for every file): identity partitioning
  // means a file holds exactly the rows of its partition value, so the
  // pruned file set answers the aggregate exactly, not approximately.
  // Anything else — data-column filters, grouping, unsupported
  // functions, columns lacking bounds in ANY file — declines the
  // pushdown and Spark plans the ordinary scan.

  /** Types whose recorded bounds can answer MIN/MAX EXACTLY: integral,
    * plus date/timestamp — parquet stores them as INT32 epoch days /
    * INT64 epoch micros, value-ordered and totally ordered, so the
    * footer bound IS the exact extreme (`MIN(ts)` on an events table is
    * the query the log answers free; the internal micros are
    * timezone-independent — session timezone only affects DISPLAY of
    * the returned instant, for NTZ the micros are the wall clock
    * itself). Floats are excluded (parquet stat behavior with NaN is
    * undefined, and Spark orders NaN above every value — a poisoned
    * bound would silently return the wrong extreme); strings are
    * excluded because parquet orders UTF-8 bytes while
    * java.lang.String compares UTF-16 chars, and the two disagree on
    * supplementary characters. Both still participate in conservative
    * FILE PRUNING, where a wrong bound only costs an extra file read. */
  private def statType(c: String): Option[org.apache.spark.sql.types.DataType] =
    tableSchema.fields.find(_.name == c).map(_.dataType).filter {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }

  /** Column a MIN/MAX can answer from metadata: single-name reference,
    * stat-exact-typed (statType gate — applies even when the pruned
    * file set is EMPTY, so a float/string MIN under an all-pruning
    * filter declines instead of emitting a mistyped NULL field), with
    * bounds recorded in every answering file (vacuous when none), and
    * NOT a name rebound by evolution — old files' stats under a rebound
    * name describe the previously-bound column's data. A file with NO
    * bound still qualifies when its recorded null count equals its row
    * count: an all-null file has no min/max to record, and contributes
    * nothing to a null-skipping MIN/MAX — the sparse-column shape. */
  private def boundedColIn(e: org.apache.spark.sql.connector.expressions.Expression,
      answering: Seq[DataFileEntry]): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames()(0)
        if (statType(c).isDefined &&
          !statsUnsafe(c.toLowerCase(java.util.Locale.ROOT)) &&
          answering.forall(f => f.columnStats.exists(_.contains(c)) ||
            f.nullCounts.exists(_.get(c).contains(f.rowCount)))) Some(c) else None
      case _ => None
    }

  /** Column a null-sensitive COUNT(col) can answer from metadata:
    * single-name reference with an exact per-file null count recorded
    * in every answering file (footer `null_value_counts`, carried in
    * the log), and not a name rebound by evolution. The answer is
    * Σ(rowCount − nullCount) — exact, because a recorded null count
    * required every row group to set the stat. */
  private def nullCountedColIn(e: org.apache.spark.sql.connector.expressions.Expression,
      answering: Seq[DataFileEntry]): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        val c = nr.fieldNames()(0)
        if (!statsUnsafe(c.toLowerCase(java.util.Locale.ROOT)) &&
          answering.forall(_.nullCounts.exists(_.contains(c)))) Some(c) else None
      case _ => None
    }

  private def canAnswerFromMetadata(agg: Aggregation): Boolean =
      exprs.forall(e =>
        FilePrune.partitionExact(e, partitionCols.toSet, files) ||
          graft.table.PartitionTransforms.rangeExact(e, transformFields, files)) &&
      agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty && {
        // under partition-exact / transform-exact filters the kept
        // files hold exactly the matching rows
        val answering = keptFiles
        // logged row counts and bounds ignore MOR-deleted rows — but a
        // file NO outstanding delete can touch (touchedByDeletes) keeps
        // them exact, so the claim narrows to provably-untouched
        // answering sets instead of declining for ANY outstanding
        // delete: the filtered COUNT over last month's partitions stays
        // free while this week's CDC deletes are pending elsewhere
        (deleteFiles.isEmpty ||
          answering.forall(f => !touchedByDeletes(f.path))) &&
        agg.aggregateExpressions.forall {
          case _: CountStar => true
          case c: Count if !c.isDistinct =>
            nullCountedColIn(c.column, answering).isDefined
          case m: Min => boundedColIn(m.column, answering).isDefined
          case m: Max => boundedColIn(m.column, answering).isDefined
          case _ => false
        }
      }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canAnswerFromMetadata(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    canAnswerFromMetadata(agg) && { pushedAgg = Some(agg); true }

  /** Stored bound string → the column type's CATALYST-INTERNAL value
    * (what an InternalRow carries): dates are epoch-day ints,
    * timestamps epoch micros longs — exactly the integers the footer
    * stats recorded, so no conversion beyond parsing. */
  private def parse(c: String, s: String): Any = statType(c).get match {
    case org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType => s.toLong.toInt
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => s.toLong
    case other => throw new IllegalStateException(s"unexpected stat type $other")
  }

  private def metadataAggScan(agg: Aggregation): Scan = {
    import org.apache.spark.sql.types._
    val answering = keptFiles
    val (values, fields) = agg.aggregateExpressions.zipWithIndex.map {
      case (_: CountStar, i) =>
        (answering.map(_.rowCount).sum: Any,
          StructField(s"count_$i", LongType, nullable = false))
      case (c: Count, i) =>
        val col = nullCountedColIn(c.column, answering).getOrElse(
          throw new IllegalStateException(s"unanswerable COUNT ${c.column}"))
        val v = answering.map(f => f.rowCount - f.nullCounts.get(col)).sum
        (v: Any, StructField(s"count_$i", LongType, nullable = false))
      case (m: Min, i) =>
        val c = boundedColIn(m.column, answering).getOrElse(
          throw new IllegalStateException(s"unanswerable MIN ${m.column}"))
        // all-null files carry no bound and contribute nothing; if
        // EVERY file is all-null the exact answer is NULL
        val v = answering.flatMap(_.columnStats.flatMap(_.get(c)))
          .map(b => parse(c, b.min))
          .reduceOption((x, y) => if (lt(y, x)) y else x).orNull
        (v: Any, StructField(s"min_$i", statType(c).get, nullable = true))
      case (m: Max, i) =>
        val c = boundedColIn(m.column, answering).getOrElse(
          throw new IllegalStateException(s"unanswerable MAX ${m.column}"))
        val v = answering.flatMap(_.columnStats.flatMap(_.get(c)))
          .map(b => parse(c, b.max))
          .reduceOption((x, y) => if (lt(x, y)) y else x).orNull
        (v: Any, StructField(s"max_$i", statType(c).get, nullable = true))
      case (other, _) =>
        throw new IllegalStateException(s"unanswerable aggregate $other")
    }.unzip
    val schema = StructType(fields.toIndexedSeq)
    val row = org.apache.spark.sql.catalyst.InternalRow.fromSeq(values.toIndexedSeq)
    new MetadataAggScan(schema, row)
  }

  /** Typed less-than: all values of one column share a type, and long
    * comparison must not round-trip through double (2^53 precision). */
  private def lt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Int, y: Int) => x < y
    case (x: Long, y: Long) => x < y
    case _ => false
  }

  override def build(): Scan = pushedAgg match {
    case Some(agg) => metadataAggScan(agg)
    // Outstanding deletes whose touch set the pruned files provably
    // DODGE (touchedByDeletes): subtraction is a no-op over this
    // scan's rows, so the regular DSv2 branch below plans instead of
    // the V1 MOR wrap — restoring SPJ reports, ordering, runtime file
    // pruning and the codegen parquet path for the delete-dodging
    // reads a partition-windowed query runs while CDC deletes are
    // pending elsewhere. Touched sets take the MOR branch.
    case None if deleteFiles.nonEmpty &&
        keptFiles.exists(f => touchedByDeletes(f.path)) =>
      // Merge-on-read: metadata file pruning still applies, then a V1
      // relation serves the visible rows of the kept files (see
      // MorRelation, EqDeletes.visible).
      val kept = keptFiles
      val keptPaths = kept.map(_.path).toSet
      val requiredSchema = required
      val dataSize = kept.map(_.sizeBytes).sum
      // residual predicates, re-applied INSIDE the relation (unresolved
      // by name) so they reach the inner parquet scans as data filters
      // — row-group/footer skipping for MOR reads, which the V1 wrap
      // would otherwise lose (Spark's own copy still re-filters above;
      // exact either way, this is purely pushdown). Subquery-bearing or
      // non-deterministic predicates never push.
      val residual = exprs.filter(e => e.deterministic && !e.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
        .map(_.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(a.name)
        })
      new V1Scan {
        override def readSchema(): StructType = requiredSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new MorRelation(context, tableSchema, requiredSchema, entries, keptPaths,
            dataSize, residual).asInstanceOf[T]
        // a current-snapshot relation still answers readStream (the
        // micro-batch stream plans from the log, not from this scan;
        // deletes cross at batch boundaries with skip semantics)
        override def toMicroBatchStream(checkpointLocation: String)
            : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          streamCtx match {
            case Some((b, n, t)) => new GraftMicroBatchStream(tableSchema, b, n, t, options)
            case None => super.toMicroBatchStream(checkpointLocation)
          }
        override def description(): String =
          s"GraftMorScan[${kept.size} files, ${deleteFiles.size} delete files]"
      }
    case None =>
      val kept = keptFiles
      val pt = ParquetTable(tableName, SparkSession.active, options,
        kept.map(_.path), Some(tableSchema), classOf[ParquetFileFormat])
      val psb = pt.newScanBuilder(options)
      psb.pruneColumns(required)
      // forward through the standard file-source path: sets parquet's
      // data-filter pushdown (footer/row-group skip) internally
      psb.pushFilters(exprs)
      val scan = psb.build()
      // current-snapshot relations also answer readStream: the same
      // ParquetScan (batch path unchanged, subclass identity) with
      // toMicroBatchStream bound to the snapshot log
      (scan, streamCtx) match {
        case (ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
            Some((backing, ns, tbl))) =>
          new GraftStreamableParquetScan(ps, tableSchema, backing, ns, tbl,
            options, SpjKeys.build(tableSchema, partitionCols, kept),
            partitionCols, kept, statsUnsafe, ndvStats,
            unprunedStats = kept.size == files.size)
        case _ => scan
      }
  }
}

/** One-row driver-side scan carrying a metadata-computed aggregate. */
private[sql] final class MetadataAggScan(
    schema: StructType,
    row: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] = Array(row)
  override def description(): String = s"GraftMetadataAgg${schema.fieldNames.mkString("[", ",", "]")}"
}

/** Spark DataSource-v2 `TableCatalog` over a graft [[Catalog]] — the
  * native SQL front door the reference gets from DuckDB's
  * `iceberg_scan` (`query_iceberg_duckdb.py:21-29`), expressed the
  * Spark-first way: register the catalog once and every snaplog table
  * is queryable by name with the full ANSI surface, no temp views.
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftSqlCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/wh")
  * // optionally: spark.sql.catalog.graft.url = jdbc:derby:... (SQL catalog)
  * spark.sql("SELECT ... FROM graft.lake.orders WHERE ...")
  * spark.sql("SELECT ... FROM graft.lake.orders VERSION AS OF 2")      // time travel
  * spark.sql("SELECT ... FROM graft.lake.orders TIMESTAMP AS OF '...'")
  * }}}
  *
  * Each `loadTable` resolves the snapshot's file list from log metadata
  * (no directory listing) and hands Spark its OWN vectorized DSv2
  * parquet table over exactly those files — so predicate pushdown,
  * column pruning, row-group skipping and whole-stage codegen all apply
  * unchanged, and the planner sees an ordinary parquet relation.
  * `VERSION AS OF <snapshot-id | 'ref-name'>` and `TIMESTAMP AS OF`
  * map onto the snapshot log's time travel. Tables with outstanding
  * merge-on-read deletes plan the same subtraction the native scan
  * uses (metadata-only aggregates decline for them — logged row counts
  * ignore vector-deleted rows).
  *
  * Writes: `INSERT INTO` (append) and `INSERT OVERWRITE` (atomic
  * replace) go through the snapshot log's conditional commit — see
  * [[GraftAppendWrite]]. DDL: `CREATE TABLE` (identity partitioning
  * only) / CTAS / `DROP TABLE` map onto the backing catalog's
  * metadata commits. Iceberg-style metadata relations are queryable
  * as `<table>.snapshots` / `.files` / `.refs` (driver-computed,
  * planned as local scans — the snapshot log IS metadata-sized).
  * `ALTER TABLE … RENAME TO` renames metadata-only
  * (directory move + log path rewrite). What would bypass commit
  * semantics (destructive column evolution) fails loudly; those
  * refusals are documented with API guidance.
  */
class GraftSqlCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // DEFAULT clauses in CREATE/ALTER are accepted (Spark gates them on
  // this declaration) and honored: existence defaults fill rows that
  // predate the column, write defaults fill rows written without it
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  private var catName: String = _
  private var backing: Catalog = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at a graft warehouse"))
    backing = Option(options.get("url")) match {
      case Some(url) => new JdbcCatalog(url, wh)
      case None => new Snaplog(wh)
    }
  }

  override def name(): String = catName

  // ---- namespaces ---------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    backing.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (backing.namespaceExists(namespace.mkString("."))) Array.empty
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && backing.namespaceExists(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace.toSeq)

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1, "graft namespaces are single-level")
    backing.createNamespace(namespace(0))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      s"$catName is a read-only catalog: alter namespaces via the graft API")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      s"$catName is a read-only catalog: drop namespaces via the graft API")

  // ---- tables -------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace.toSeq)
    backing.listTables(namespace(0)).map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.length == 1 &&
      backing.tableExists(ident.namespace()(0), ident.name)

  override def loadTable(ident: Identifier): Table =
    if (tableExists(ident)) load(ident, None)
    else metaTable(ident).getOrElse(throw new NoSuchTableException(ident))

  /** `CREATE TABLE` / CTAS: a metadata-only commit against the backing
    * catalog — identity partitioning only (what the log records and
    * prunes on; bucket/days/… transforms have no layout here). CTAS
    * then appends through the same conditional-commit write path, and
    * Spark drops the half-created table if that write fails. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    require(ident.namespace().length == 1, "graft namespaces are single-level")
    val ns = ident.namespace()(0)
    if (!backing.namespaceExists(ns))
      throw new NoSuchNamespaceException(ident.namespace().toSeq)
    if (backing.tableExists(ns, ident.name))
      throw new TableAlreadyExistsException(
        (catName +: ident.namespace().toSeq :+ ident.name))
    val partCols = partitions.toSeq.map { tr =>
      def ref: String = {
        require(tr.references().length == 1,
          s"$catName: transform $tr must reference exactly one column")
        tr.references()(0).fieldNames().mkString(".")
      }
      def intArg: Int = tr.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }.getOrElse(throw new UnsupportedOperationException(
        s"$catName: transform without its numeric argument: $tr"))
      tr.name match {
        case "identity" => ref
        case "days" => s"days($ref)"
        case "hours" => s"hours($ref)"
        case "months" => s"months($ref)"
        case "years" => s"years($ref)"
        case "bucket" => s"bucket($intArg,$ref)"
        case "mbucket" => s"mbucket($intArg,$ref)"
        case "truncate" => s"truncate($intArg,$ref)"
        case _ =>
          throw new UnsupportedOperationException(
            s"$catName supports identity, years/months/days/hours(col), " +
              s"bucket(n, col), mbucket(n, col) and truncate(w, col) " +
              s"partitioning; got $tr")
      }
    }
    val props = {
      val it = properties.entrySet().iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      // "provider"/"owner" are Spark-reserved bookkeeping; graft.* is
      // ENGINE bookkeeping (field-id registry) a user-supplied value
      // would corrupt — a fresh table always derives its own
      b.result().view.filterKeys(k => k != "provider" && k != "owner" &&
        !k.startsWith("graft.")).toMap
    }
    backing.createTable(ns, ident.name, schema, partCols, props,
      ifNotExists = false)
    load(ident, None)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      backing.dropTable(ident.namespace()(0), ident.name); true
    }

  /** `VERSION AS OF <id | 'ref-name'>` — snapshot-id or named-ref
    * (tag/branch) time travel, the release-pinning workflow from SQL:
    * `SELECT … FROM graft.lake.t VERSION AS OF 'v1-tag'`. A WAP branch
    * name reads the BRANCH's content (fork-base main + staged appends,
    * lineage-exact) — the audit step of write-audit-publish, run as an
    * ordinary SQL query before `CALL system.fast_forward` publishes. */
  override def loadTable(ident: Identifier, version: String): Table = {
    requireExists(ident)
    val (ns, t) = (ident.namespace()(0), ident.name)
    // refs resolve FIRST: a user-named tag/branch that happens to be
    // numeric must not be shadowed by raw snapshot-id parsing
    val ref = backing.refs(ns, t).get(version)
    val stagedBranch = ref.exists(r => r.refType == "branch" &&
      backing.snapshots(ns, t).find(_.snapshotId == r.snapshotId)
        .exists(Snaplog.isWapStaged))
    if (stagedBranch) {
      val meta = backing.loadTable(ns, t)
      // ordered: base lineage then staged appends (staged rows are
      // never touched by base equality deletes)
      val (base, staged) = backing.branchLineage(ns, t, version)
      val ordered = base
        .map(b => backing.liveEntriesOrdered(ns, t, Some(b)))
        .getOrElse(Seq.empty) ++ staged.flatMap(_.files)
      return new GraftSqlTable(s"$catName.$ns.$t", meta.schema,
        meta.partitionColumns, ordered, backing, ns, t,
        writable = false, tableProps = meta.properties,
        loadedSnapshotId = ref.get.snapshotId)
    }
    val id = ref.map(_.snapshotId)
      .orElse(scala.util.Try(version.toLong).toOption)
      .getOrElse(throw new IllegalArgumentException(
        s"$catName version '$version' is neither a ref (tag/branch) " +
          s"nor a snapshot id of $ns.$t"))
    load(ident, Some(id))
  }

  /** `TIMESTAMP AS OF <t>` — `timestamp` arrives in MICROseconds; the
    * latest snapshot committed at-or-before it is read. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    requireExists(ident)
    val ms = timestamp / 1000L
    val snap = backing.snapshots(ident.namespace()(0), ident.name)
      .filter(_.timestampMs <= ms).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot of ${ident.namespace.mkString(".")}.${ident.name} at or before timestamp $ms ms"))
    load(ident, Some(snap.snapshotId))
  }

  private def requireExists(ident: Identifier): Unit =
    if (!tableExists(ident)) throw new NoSuchTableException(ident)

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    requireExists(ident)
    val (ns, t) = (ident.namespace()(0), ident.name)
    val meta = backing.loadTable(ns, t)
    // Read the snapshot id BEFORE the file lists, and resolve the lists
    // with asOf=None so both backends keep their O(checkpointInterval)
    // backward-scan fast path (an explicit asOf pays the full-history
    // replay — fine for time travel, not for every current-snapshot
    // plan). Ordering is what makes writes safe: a commit landing after
    // the id read can only make the files NEWER than the id, and a
    // write planned from this relation carries the id as its
    // expectedSnapshotId — the conditional commit then fails the
    // statement (conservative direction) instead of losing the race's
    // rows. One replay serves both lists.
    val snapId = asOf.orElse(backing.currentSnapshot(ns, t).map(_.snapshotId))
    val ordered =
      if (snapId.isEmpty) Seq.empty[DataFileEntry]
      else backing.liveEntriesOrdered(ns, t, asOf)
    // a renamed/dropped-column table stores an id-bearing schema: the
    // session must resolve parquet columns BY ID for its scans
    if (graft.types.FieldIds.hasIds(meta.schema))
      SparkSession.active.conf.set(graft.types.FieldIds.ReadConf, "true")
    // an interior-renamed table additionally attaches its LIST/MAP
    // interior ids so scans resolve interior struct members by id (the
    // scan builder re-attaches them onto pruned requested schemas —
    // see GraftScanBuilder.pruneColumns; nested pruning is kept)
    val servedSchema =
      if (!meta.properties.get(graft.types.FieldIds.InteriorByIdProp)
          .contains("true")) meta.schema
      else graft.types.FieldIds.attachInterior(meta.schema,
        meta.properties.get(graft.types.FieldIds.InteriorProp)
          .map(graft.types.FieldIds.decode).getOrElse(Map.empty))
    new GraftSqlTable(s"$catName.$ns.$t", servedSchema, meta.partitionColumns,
      ordered, backing, ns, t, writable = asOf.isEmpty,
      tableProps = meta.properties, loadedSnapshotId = snapId.getOrElse(0L))
  }

  /** `ALTER TABLE … ADD COLUMN` for the one evolution that is always
    * safe — a top-level NULLABLE column appended at the end (existing
    * parquet fills it with null via read-schema reconciliation, new
    * writes carry it). Every other change (drop/rename/retype/reorder,
    * nested fields, NOT NULL) refuses: those need rewrite or carry
    * correctness traps, and stay in the graft API. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireExists(ident)
    // validate EVERY change before applying ANY: a mixed statement must
    // fail whole, not commit a partial evolution and then throw
    val adds = Seq.newBuilder[TableChange.AddColumn]
    val renames = Seq.newBuilder[TableChange.RenameColumn]
    val drops = Seq.newBuilder[TableChange.DeleteColumn]
    val widens = Seq.newBuilder[TableChange.UpdateColumnType]
    val setDefaults = Seq.newBuilder[TableChange.UpdateColumnDefaultValue]
    val setProps = Map.newBuilder[String, String]
    val unsetProps = Seq.newBuilder[String]
    changes.foreach {
      // nullable, appended-at-end columns; `ADD COLUMN parent.child` is
      // the struct-chain inner append (LakehouseTable.addStructField),
      // which takes no DEFAULT (inner fields fill by name-resolution
      // null only; an inner existence default has no reader support)
      case add: TableChange.AddColumn
          if add.isNullable && add.position() == null &&
            (add.fieldNames().length == 1 || add.defaultValue() == null) =>
        adds += add
      // inner add WITH a DEFAULT refuses explicitly: SQL DEFAULT
      // promises existence + write semantics, but Spark's parquet
      // readers fill EXISTS_DEFAULT for TOP-LEVEL missing columns only
      // (empirically pinned in ColumnDefaultsSpec) — an inner existence
      // default would silently read null. The WRITE-side half alone is
      // available via LakehouseTable.addStructFieldDefaulted.
      case add: TableChange.AddColumn
          if add.fieldNames().length > 1 && add.defaultValue() != null =>
        throw new UnsupportedOperationException(
          s"ADD COLUMN ${add.fieldNames().mkString(".")} DEFAULT: inner " +
            "fields cannot take an EXISTENCE default (parquet readers " +
            "fill missing columns at the top level only — old rows would " +
            "read null, not the default); use " +
            "addStructFieldDefaulted(...) for the write-side default")
      // `ALTER COLUMN c SET/DROP DEFAULT` — write-side default only
      // (empty string = DROP, Spark's convention)
      case ud: TableChange.UpdateColumnDefaultValue
          if ud.fieldNames().length == 1 => setDefaults += ud
      case rn: TableChange.RenameColumn => renames += rn
      case dc: TableChange.DeleteColumn => drops += dc
      // `ALTER COLUMN c TYPE bigint`, or `parent.child` for a struct leaf
      case ut: TableChange.UpdateColumnType => widens += ut
      case sp: TableChange.SetProperty =>
        // Spark-reserved bookkeeping keys are not table properties a
        // log reader should see (mirrors createTable's filter); the
        // engine's own graft.* bookkeeping (field-id registry) refuses
        // loudly — overwriting it would remap ids and corrupt reads
        if (sp.property.startsWith("graft."))
          throw new UnsupportedOperationException(
            s"'${sp.property}' is engine bookkeeping — not settable from SQL")
        if (sp.property != "provider" && sp.property != "owner")
          setProps += sp.property -> sp.value
      case rp: TableChange.RemoveProperty =>
        if (rp.property.startsWith("graft."))
          throw new UnsupportedOperationException(
            s"'${rp.property}' is engine bookkeeping — not unsettable from SQL")
        unsetProps += rp.property
      case other => throw new UnsupportedOperationException(
        s"$catName supports ALTER TABLE ADD COLUMN (nullable, appended; " +
          s"top-level or struct-chain parent.child), RENAME/DROP COLUMN " +
          s"(top-level or struct-chain, field-id tables), ALTER COLUMN " +
          s"TYPE (int->bigint, float->double widening, top-level or " +
          s"struct leaf), and SET/UNSET TBLPROPERTIES; " +
          s"$other needs the graft API")
    }
    val (ns, t) = (ident.namespace()(0), ident.name)
    // AddColumn DEFAULT clauses carry the original SQL text (falling
    // back to the analyzer's folded literal when only an expression
    // was supplied); graft re-folds and re-validates at evolution time
    def defaultSqlOf(add: TableChange.AddColumn): Option[String] =
      Option(add.defaultValue()).map { dv =>
        Option(dv.getSql).getOrElse {
          val l = dv.getValue
          org.apache.spark.sql.catalyst.expressions.Literal(
            l.value, l.dataType).sql
        }
      }
    val addList = adds.result()
    val widenList = widens.result()
    val setDefaultList = setDefaults.result()
    val renameList = renames.result()
    // honor IF EXISTS: a missing drop target with the flag is a no-op
    val curFields = backing.loadTable(ns, t).schema.fieldNames
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val dropList = drops.result().filterNot(dc => dc.ifExists() &&
      !curFields(dc.fieldNames()(0).toLowerCase(java.util.Locale.ROOT)))
    val tbl = LakehouseTable.load(backing, SparkSession.active, ns, t)
    val fieldAdds = addList.map(a =>
      (a.fieldNames().toSeq, a.dataType(), defaultSqlOf(a)))
    // STATIC validation of every change BEFORE applying any: a mixed
    // statement must fail whole, not commit a partial evolution and
    // then throw (the per-op gates still run inside each op)
    locally {
      val meta0 = backing.loadTable(ns, t)
      val partLower = meta0.partitionColumns
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
      var names = meta0.schema.fieldNames.map(lower).toSet ++
        addList.map(a => lower(a.fieldNames()(0)))
      renameList.filter(_.fieldNames().length == 1).foreach { rn =>
        val from = lower(rn.fieldNames()(0)); val to = lower(rn.newName())
        require(names(from), s"no column '${rn.fieldNames()(0)}' in $ns.$t")
        require(!partLower(from), s"cannot rename partition column '${rn.fieldNames()(0)}'")
        require(!names(to), s"column '${rn.newName()}' already exists")
        names = names - from + to
      }
      dropList.filter(_.fieldNames().length == 1).foreach { dc =>
        val c = lower(dc.fieldNames()(0))
        require(names(c), s"no column '${dc.fieldNames()(0)}' in $ns.$t")
        require(!partLower(c), s"cannot drop partition column '${dc.fieldNames()(0)}'")
        names = names - c
      }
      require(names.nonEmpty, "cannot drop every column")
      // inner rename/drop (round 13): the chain must resolve through
      // structs NOW (the per-op gates re-check under the lock)
      (renameList.filter(_.fieldNames().length > 1).map(_.fieldNames().toSeq)
        ++ dropList.filter(_.fieldNames().length > 1).map(_.fieldNames().toSeq))
        .foreach { parts =>
          require(graft.types.SchemaInfer.innerType(
              meta0.schema, parts).isDefined,
            s"no struct field '${parts.mkString(".")}' in $ns.$t")
        }
      // replay the adds' pure half (structural patch, name gates,
      // DEFAULT folding) and resolve struct-leaf widen paths against
      // its result; the file probes still run inside addFields
      val sch = tbl.addedSchema(meta0, fieldAdds)
      widenList.filter(_.fieldNames().length > 1).foreach { w =>
        require(graft.types.SchemaInfer.innerType(
            sch, w.fieldNames().toSeq).isDefined,
          s"no struct leaf '${w.fieldNames().mkString(".")}' in $ns.$t")
      }
      setDefaultList.foreach { ud =>
        val c = lower(ud.fieldNames()(0))
        val f = meta0.schema.fields.find(x => lower(x.name) == c).getOrElse(
          throw new IllegalArgumentException(
            s"no column '${ud.fieldNames()(0)}' in $ns.$t"))
        Option(ud.newDefaultValue()).filter(_.nonEmpty).foreach(sql =>
          graft.types.ColumnDefaults.foldedField(f.name, f.dataType, sql))
      }
    }
    // ONE schema commit for the whole statement's additions, top-level
    // and struct-chain alike
    if (fieldAdds.nonEmpty) tbl.addFields(fieldAdds)
    setDefaultList.foreach { ud =>
      // Spark encodes DROP DEFAULT as the empty string
      val sql = Option(ud.newDefaultValue()).filter(_.nonEmpty)
      tbl.setColumnDefault(ud.fieldNames()(0), sql)
    }
    // RENAME/DROP are metadata-only via field-id indirection and
    // widening is metadata-only too — the table-side path ops re-run
    // every eligibility gate of the path's depth before mutating
    renameList.foreach(rn => tbl.renameField(rn.fieldNames().toSeq, rn.newName()))
    dropList.foreach(dc => tbl.dropField(dc.fieldNames().toSeq))
    widenList.foreach(ut => tbl.widenField(ut.fieldNames().toSeq, ut.newDataType()))
    val (set, unset) = (setProps.result(), unsetProps.result())
    if (set.nonEmpty || unset.nonEmpty)
      backing.updateProperties(ns, t, set, unset)
    loadTable(ident)
  }

  /** `ALTER TABLE … RENAME TO …` — metadata-only on the backing
    * catalog (directory move + log path rewrite, zero data movement);
    * cross-namespace moves and tables with vector history refuse there
    * with guidance. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    requireExists(oldIdent)
    require(newIdent.namespace().sameElements(oldIdent.namespace()),
      s"$catName: RENAME keeps the namespace " +
        s"(got ${newIdent.namespace().mkString(".")})")
    if (tableExists(newIdent)) // the TableCatalog contract's exception type
      throw new TableAlreadyExistsException(
        (catName +: newIdent.namespace().toSeq :+ newIdent.name))
    backing.renameTable(oldIdent.namespace()(0), oldIdent.name, newIdent.name)
    ()
  }

  // ---- procedures ---------------------------------------------------------

  /** `CALL <cat>.system.compact('ns','t','')` etc — maintenance through
    * SQL, bound to the same transactional ops the native API runs. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new UnsupportedOperationException(
        s"$catName procedures live in the 'system' namespace: " +
          s"CALL $catName.system.<name>(…)")
    GraftProcedures.load(catName, ident.name, backing)
  }

  // ---- FunctionCatalog (storage-partitioned joins) ------------------------
  // Spark resolves a scan's reported `bucket(n, col)` partitioning by
  // loading the function from the TABLE'S OWN catalog
  // (V2ExpressionUtils.loadV2FunctionOpt) and compares the two join
  // sides by BoundFunction.canonicalName — serving one canonical
  // `bucket` here is what lets two graft tables' bucket partitionings
  // match (the Iceberg `system.bucket` pattern).

  // truncate serves as a width-per-name unary family (truncate_<w>) —
  // resolvable by loadFunction but not enumerable here
  private val spjFunctionNames = Seq("bucket", "days", "hours", "months", "years")
  private val TruncateFnRe = """truncate_(\d+)""".r
  private val MBucketFnRe = """mbucket_(\d+)""".r

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      spjFunctionNames.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name.toLowerCase(java.util.Locale.ROOT) match {
      case "bucket" => GraftBucketUnbound
      case MBucketFnRe(n) => new GraftMBucketUnbound(n.toInt)
      case TruncateFnRe(w) => new GraftTruncateUnbound(w.toInt)
      case t @ ("days" | "hours" | "months" | "years") => new GraftTimeUnbound(t)
      case _ => throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident)
    }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- metadata relations -------------------------------------------------

  /** `cat.ns.t.snapshots` / `.files` / `.partitions` / `.refs` /
    * `.history` / `.stats`: the multipart name arrives as
    * Identifier(ns=[ns, t], name=kind). Driver-computed rows — the
    * snapshot log is metadata-sized by construction. */
  private def metaTable(ident: Identifier): Option[Table] = {
    if (ident.namespace().length != 2) return None
    val ns = ident.namespace()(0)
    val t = ident.namespace()(1)
    val kind = ident.name.toLowerCase(java.util.Locale.ROOT)
    if (!backing.namespaceExists(ns) || !backing.tableExists(ns, t)) return None
    def str(x: String) = UTF8String.fromString(x)
    def row(vs: Any*) = new GenericInternalRow(vs.toArray)
    kind match {
      case "snapshots" => Some(new GraftMetaTable(
        s"$catName.$ns.$t.snapshots",
        StructType(Seq(
          StructField("snapshot_id", LongType, nullable = false),
          StructField("parent_id", LongType, nullable = true),
          StructField("timestamp_ms", LongType, nullable = false),
          StructField("operation", StringType, nullable = false),
          StructField("committed_files", IntegerType, nullable = false),
          StructField("committed_records", LongType, nullable = false),
          StructField("summary", StringType, nullable = false))),
        () => backing.snapshots(ns, t).map { sn =>
          row(sn.snapshotId, sn.parentId.map(Long.box).orNull, sn.timestampMs,
            str(sn.operation), sn.files.size, sn.files.map(_.rowCount).sum,
            str(sn.summary.toSeq.sorted.map { case (k, v) => s"$k=$v" }
              .mkString(",")))
        }.toArray))
      case "files" => Some(new GraftMetaTable(
        s"$catName.$ns.$t.files",
        StructType(Seq(
          StructField("path", StringType, nullable = false),
          StructField("content", StringType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false),
          StructField("partition", StringType, nullable = false))),
        () => {
          def fr(f: DataFileEntry, content: String) =
            row(str(f.path), str(content), f.rowCount, f.sizeBytes,
              str(f.partitionValues.toSeq.sorted
                .map { case (k, v) => s"$k=$v" }.mkString(",")))
          (backing.liveFiles(ns, t).map(fr(_, "data")) ++
            backing.liveDeleteFiles(ns, t).map(f => fr(f,
              if (f.equalityKey.isDefined) "equality-deletes"
              else "position-deletes"))).toArray
        }))
      case "partitions" => Some(new GraftMetaTable(
        s"$catName.$ns.$t.partitions",
        StructType(Seq(
          StructField("partition", StringType, nullable = false),
          StructField("file_count", LongType, nullable = false),
          StructField("row_count", LongType, nullable = false),
          StructField("size_bytes", LongType, nullable = false))),
        () => backing.liveFiles(ns, t)
          .groupBy(_.partitionValues.toSeq.sorted
            .map { case (k, v) => s"$k=$v" }.mkString(","))
          .toSeq.sortBy(_._1)
          .map { case (p, fs) =>
            row(str(p), fs.size.toLong, fs.map(_.rowCount).sum,
              fs.map(_.sizeBytes).sum)
          }.toArray))
      case "refs" => Some(new GraftMetaTable(
        s"$catName.$ns.$t.refs",
        StructType(Seq(
          StructField("name", StringType, nullable = false),
          StructField("type", StringType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false))),
        () => backing.refs(ns, t).toSeq.sortBy(_._1).map { case (n, r) =>
          row(str(n), str(r.refType), r.snapshotId)
        }.toArray))
      case "history" => Some(new GraftMetaTable(
        s"$catName.$ns.$t.history",
        StructType(Seq(
          StructField("made_current_at_ms", LongType, nullable = false),
          StructField("snapshot_id", LongType, nullable = false),
          StructField("parent_id", LongType, nullable = true),
          StructField("is_current_ancestor", BooleanType, nullable = false))),
        () => {
          // snaplog history is linear (rollback is a NEW commit), so
          // every published snapshot is a current ancestor; WAP-staged
          // branch commits are not main history
          val snaps = backing.snapshots(ns, t)
          snaps.map { sn =>
            row(sn.timestampMs, sn.snapshotId,
              sn.parentId.map(Long.box).orNull,
              !graft.catalog.Snaplog.isWapStaged(sn))
          }.toArray
        }))
      case "stats" => Some(new GraftMetaTable(
        s"$catName.$ns.$t.stats",
        StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("ndv", LongType, nullable = false),
          StructField("avg_len", LongType, nullable = true),
          StructField("max_len", LongType, nullable = true),
          StructField("analyzed_snapshot_id", LongType, nullable = true))),
        () => {
          val props = backing.loadTable(ns, t).properties
          val snapId = props.get(graft.table.TableStats.SnapshotProp)
            .map(s => Long.box(s.toLong)).orNull
          graft.table.TableStats.fromProperties(props).toSeq.sortBy(_._1)
            .map { case (c, s) =>
              row(str(c), s.ndv, s.avgLen.map(Long.box).orNull,
                s.maxLen.map(Long.box).orNull, snapId)
            }.toArray
        }))
      // DATA-sized (unlike the LocalScan kinds above): the table's
      // current content plus the v3 row-lineage columns, served
      // through the same scanLineage the table API exposes — the
      // SQL-only user's `SELECT …, _row_id FROM cat.ns.t.lineage`.
      // Refuses (loudly, at scan time) on tables without lineage
      // assignments, exactly like the API.
      case "lineage" =>
        val meta = backing.loadTable(ns, t)
        val lineageSchema = StructType(
          graft.types.FieldIds.strip(meta.schema).fields ++ Seq(
            StructField("_row_id", LongType, nullable = false),
            StructField("_last_updated_sequence_number", LongType,
              nullable = false)))
        Some(new GraftDfTable(
          s"$catName.$ns.$t.lineage", lineageSchema,
          () => graft.table.LakehouseTable
            .load(backing, SparkSession.active, ns, t).scanLineage()))
      case _ => None
    }
  }
}

/** A DATA-sized derived relation (the `.lineage` kind): a DSv2 table
  * whose scan bridges to the DataFrame the table API serves, through
  * the same V1Scan shape the MOR relation uses. Filters/projections
  * stay residual — Spark evaluates them above; the inner DataFrame's
  * own plan keeps its scan-level pushdown. */
private[sql] final class GraftDfTable(
    fullName: String,
    dfSchema: StructType,
    dfFn: () => org.apache.spark.sql.DataFrame)
    extends Table with SupportsRead {
  override def name(): String = fullName
  override def schema(): StructType = dfSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = dfSchema
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = dfSchema
            override def buildScan(): org.apache.spark.rdd.RDD[Row] =
              dfFn().select(dfSchema.fieldNames.toIndexedSeq.map(col): _*).rdd
          }.asInstanceOf[T]
        override def description(): String = s"GraftDfScan[$fullName]"
      }
    }
}

/** A driver-computed metadata relation planned as a local scan — rows
  * come from the snapshot log, never from data files. */
private[sql] final class GraftMetaTable(
    fullName: String,
    metaSchema: StructType,
    rowsFn: () => Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = fullName
  override def schema(): StructType = metaSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = metaSchema
        override def rows(): Array[InternalRow] = rowsFn()
        override def description(): String = s"GraftMetaScan[$fullName]"
      }
    }
}
