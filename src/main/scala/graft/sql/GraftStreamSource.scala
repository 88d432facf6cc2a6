package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetTable}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{Catalog, Snaplog}

/** Stream offset for a snaplog table: "every row live at snapshot `id`
  * has been emitted". `0` is the virgin offset — nothing emitted yet, so
  * the first micro-batch carries the table's full live content (the
  * Iceberg/Delta streaming-source initial-snapshot convention). */
private[graft] final case class GraftStreamOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

/** The table's plain batch scan, plus streaming: identical to the
  * [[ParquetScan]] Spark plans for batch reads of the pruned file list
  * (same stats, same explain metadata, same reader codegen), with
  * `toMicroBatchStream` bound to the snapshot log. Subclassing keeps the
  * batch path byte-identical — plan audits that look for a FileScan
  * still find one.
  *
  * STORAGE-PARTITIONED JOINS: when the table is identity-partitioned
  * and every scanned file records a typed partition value ([[SpjKeys]]
  * present), the scan reports `KeyGroupedPartitioning` over the
  * partition columns and plans each input partition with its
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] — Spark
  * then ELIMINATES THE SHUFFLE for joins of co-partitioned tables on
  * the partition key and for aggregations clustered by it
  * (`spark.sql.sources.v2.bucketing.enabled=true`). At 100 TB a
  * fact-fact join on the partition key is the difference between a
  * full dual shuffle and zero data movement. Any file without a
  * resolvable key (partition evolution, external registration) makes
  * the scan fall back to ordinary planning — correctness never
  * depends on the report. */
private[sql] final class GraftStreamableParquetScan(
    base: ParquetScan,
    tableSchema: StructType,
    backing: Catalog,
    ns: String,
    tbl: String,
    options: CaseInsensitiveStringMap,
    spj: Option[SpjKeys] = None,
    partitionCols: Seq[String] = Seq.empty,
    entries: Seq[graft.catalog.DataFileEntry] = Seq.empty,
    statsUnsafe: Set[String] = Set.empty,
    ndvStats: Map[String, graft.table.TableStats.ColNdv] = Map.empty,
    unprunedStats: Boolean = true)
    extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
      base.dataSchema, base.readDataSchema, base.readPartitionSchema,
      base.pushedFilters, base.options, base.pushedAggregate,
      base.partitionFilters, base.dataFilters, base.pushedVariantExtractions)
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate
  import org.apache.spark.sql.connector.read.InputPartition
  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
  import org.apache.spark.sql.execution.datasources.FilePartition

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftMicroBatchStream(tableSchema, backing, ns, tbl, options)

  /** Exact planner statistics from the snapshot log ([[ScanStats]]):
    * `entries` is the post-prune kept file set, and this scan only
    * plans on the delete-free branch (outstanding MOR deletes provably
    * dodge every kept file), so the summed row count is exact — the
    * stock FileScan estimate (on-disk bytes, no row count, no column
    * stats) is replaced by log-exact numbers plus the ANALYZE NDV
    * tier. Empty `entries` (defensive default) falls back to the
    * delegate's estimate. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    if (entries.isEmpty) super.estimateStatistics()
    else ScanStats.report(readSchema(), entries, statsUnsafe, ndvStats,
      unprunedStats)

  override def outputPartitioning(): Partitioning = spj match {
    case Some(k) if k.keyByPath.nonEmpty =>
      new KeyGroupedPartitioning(k.keys.toArray, k.keyByPath.values.toSet.size)
    case _ => new UnknownPartitioning(0)
  }

  /** Lower-cased column names of THIS scan's (column-pruned) output —
    * the membership test both report surfaces (ordering, runtime
    * filter attributes) must apply before naming a column to Spark. */
  private def prunedOutputCols: Set[String] =
    readSchema().fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  /** Per-partition ordering, reported ONLY under an active
    * all-IDENTITY SPJ report: each planned partition then carries
    * exactly ONE key tuple ([[KeyedFilePartition]] groups per key), so
    * any ordering over the key columns holds trivially within every
    * partition — and Spark drops the SortExec pair under a
    * storage-partitioned sort-merge join (Iceberg's
    * SupportsReportOrdering pattern). Bucket/transform keys never
    * report: their partitions hold VARYING raw key values and the join
    * sorts on the raw column. Runtime file pruning preserves the
    * property (dropping whole files keeps single-key groups
    * single-key). With the bucketing conf off the stock cross-key
    * bin-packing mixes keys in one partition, so nothing is reported.
    * Only columns surviving column PRUNING are reported: Spark's
    * ordering rule resolves references against the scan output
    * STRICTLY (unlike the partitioning rule, which tolerates misses),
    * so an ordering claim on a pruned-away key would fail analysis —
    * and a subset ordering still holds trivially in single-key
    * groups. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    spj match {
      case Some(k) if k.keyByPath.nonEmpty &&
          sparkSession.sessionState.conf.v2BucketingEnabled &&
          k.keys.forall {
            case t: org.apache.spark.sql.connector.expressions.Transform =>
              t.name == "identity"
            case _ => false
          } =>
        val out = prunedOutputCols
        k.keys.map(
            _.asInstanceOf[org.apache.spark.sql.connector.expressions.Transform]
              .references()(0))
          .filter(r => r.fieldNames.length == 1 &&
            out(r.fieldNames()(0).toLowerCase(java.util.Locale.ROOT)))
          .map(Expressions.sort(_,
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
          .toArray
      case _ => Array.empty
    }

  // ---- RUNTIME FILE PRUNING (Spark's DSv2 dynamic partition pruning;
  // Iceberg's SparkScan runtime filtering). At execution Spark computes
  // the EXACT join-key value set of the (broadcast) other side and
  // hands it here as IN/= predicates over the advertised partition
  // SOURCE columns; files whose recorded identity value / re-run
  // transform index provably misses every candidate drop BEFORE tasks
  // launch. At 100 TB this is the fact-side complement of a broadcast
  // join: a dim filter becomes fact FILE pruning, not per-row
  // filtering. Composes with an active SPJ report: only original key
  // groups ever shrink (never new values), and Spark pads emptied
  // groups with empty partitions after runtime filtering.

  @volatile private var runtimeSkip: Set[String] = Set.empty

  override def filterAttributes(): Array[NamedReference] =
    if (entries.isEmpty) Array.empty
    else {
      // only columns present in THIS scan's (column-pruned) output —
      // Spark resolves the advertised refs against the scan output and
      // throws, not skips, on a miss
      val out = prunedOutputCols
      graft.table.PartitionTransforms.parseAll(partitionCols)
        .map(_.source).distinct
        .filter(s => out(s.toLowerCase(java.util.Locale.ROOT)))
        .map(Expressions.column).toArray
    }

  override def filter(predicates: Array[Predicate]): Unit = {
    if (entries.isEmpty) return
    val skip = entries.filterNot(f =>
      predicates.forall(p => RuntimePrune.allows(f, p, partitionCols)))
      .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
    runtimeSkip = skip
    GraftStreamableParquetScan.pruneLog.put(s"$ns.$tbl",
      (entries.size, entries.size - skip.size))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val planned0 = super.planInputPartitions()
    // runtime-pruned files drop here, before (optional) SPJ regrouping
    val planned =
      if (runtimeSkip.isEmpty) planned0
      else {
        val files = planned0.flatMap {
          case fp: FilePartition => fp.files
          case _ => return planned0
        }
        val kept = files.filterNot(pf => runtimeSkip(pf.filePath.toUri.getPath))
        FilePartition.getFilePartitions(sparkSession, kept.toIndexedSeq,
          sparkSession.sessionState.conf.filesMaxPartitionBytes)
          .toArray[InputPartition]
      }
    // regroup ONLY when SPJ can actually use the keys: with the
    // bucketing conf off, Spark ignores HasPartitionKey entirely, and
    // per-key partitions would trade the stock cross-key bin-packing
    // (a 10^4-partition table plans ~dozens of tasks, not 10^4) for
    // nothing
    if (!sparkSession.sessionState.conf.v2BucketingEnabled)
      return planned
    val keys = spj match {
      case Some(k) if k.keyByPath.nonEmpty => k
      case _ => return planned
    }
    // regroup the superclass's (already split + bin-packed) files per
    // partition key; every file must resolve or the report is withdrawn
    val files = planned.flatMap {
      case fp: FilePartition => fp.files
      case _ => return planned
    }
    val grouped = files.groupBy(pf =>
      keys.keyByPath.get(pf.filePath.toUri.getPath))
    if (grouped.contains(None)) return planned
    val maxBytes = sparkSession.sessionState.conf.filesMaxPartitionBytes
    var idx = -1
    grouped.iterator.flatMap { case (keyOpt, pfs) =>
      FilePartition
        .getFilePartitions(sparkSession, pfs.toIndexedSeq, maxBytes)
        .map { fp =>
          idx += 1
          new KeyedFilePartition(idx, fp.files, keyOpt.get)
        }
    }.toArray
  }
}

private[graft] object GraftStreamableParquetScan {
  /** (planned, kept-after-runtime-filter) per `ns.tbl` — a test/gate
    * observability hook, written only when Spark actually invokes
    * runtime filtering on a scan. Bounded by table-name count. */
  val pruneLog =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
}

/** Partition-key metadata for storage-partitioned joins: the V2 key
  * expressions (identity(col) / bucket(n, col)) and, per normalized
  * file path, the TYPED key row (Catalyst internal values —
  * UTF8String / integral / epoch-day; bucket fields store their int
  * index; the null-partition sentinel becomes a null field). Built
  * only when EVERY candidate file resolves
  * ([[graft.sql.SpjKeys.build]]). Bucket keys additionally need the
  * catalog to serve the `bucket` function
  * ([[GraftBucketUnbound]]) so Spark can match both sides' transforms
  * by canonical name. */
private[sql] final case class SpjKeys(
    keys: Seq[org.apache.spark.sql.connector.expressions.Expression],
    keyByPath: Map[String, org.apache.spark.sql.catalyst.InternalRow])

private[sql] object SpjKeys {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions}
  import org.apache.spark.sql.types._
  import graft.catalog.DataFileEntry
  import graft.table.{BucketField, DaysField, HoursField, IdentityField, MBucketField, MonthsField, PartField, TruncateField, YearsField}

  def build(tableSchema: StructType, partitionCols: Seq[String],
      files: Seq[DataFileEntry]): Option[SpjKeys] = {
    if (partitionCols.isEmpty || files.isEmpty) return None
    val pfs = graft.table.PartitionTransforms.parseAll(partitionCols)
    def field(src: String) =
      tableSchema.fields.find(_.name.equalsIgnoreCase(src))
    val plan: Seq[(PartField, V2Expression, String => Option[Any])] =
      pfs.map {
        case pf @ IdentityField(src) =>
          val fd = field(src).getOrElse(return None)
          if (!identitySupported(fd.dataType)) return None
          (pf, Expressions.identity(fd.name): V2Expression,
            (s: String) => convert(s, fd.dataType))
        case pf @ BucketField(n, src) =>
          val fd = field(src).getOrElse(return None)
          (pf, Expressions.bucket(n, fd.name): V2Expression,
            (s: String) => convert(s, IntegerType))
        // the Iceberg-spec murmur3 bucket rides as a count-per-name
        // UNARY transform (`mbucket_<n>(col)`, GraftMBucketUnbound) —
        // same reason as truncate: SPJ admits only single-child
        // transforms, and the name `bucket` is taken by xxhash64
        case pf @ MBucketField(n, src) =>
          val fd = field(src).getOrElse(return None)
          (pf, Expressions.apply(s"mbucket_$n",
              Expressions.column(fd.name)): V2Expression,
            (s: String) => convert(s, IntegerType))
        // time transforms: the stored epoch index rides as an int key;
        // the catalog's matching V2 function (GraftTimeUnbound) is what
        // lets two tables' reports resolve compatibly
        case pf @ DaysField(src) =>
          val fd = field(src).getOrElse(return None)
          (pf, Expressions.days(fd.name): V2Expression,
            (s: String) => convert(s, IntegerType))
        case pf @ HoursField(src) =>
          val fd = field(src).getOrElse(return None)
          (pf, Expressions.hours(fd.name): V2Expression,
            (s: String) => convert(s, IntegerType))
        case pf @ MonthsField(src) =>
          val fd = field(src).getOrElse(return None)
          (pf, Expressions.months(fd.name): V2Expression,
            (s: String) => convert(s, IntegerType))
        case pf @ YearsField(src) =>
          val fd = field(src).getOrElse(return None)
          (pf, Expressions.years(fd.name): V2Expression,
            (s: String) => convert(s, IntegerType))
        // truncate rides as a width-per-name UNARY transform
        // (`truncate_<w>(col)`, GraftTruncateUnbound): Spark's SPJ
        // machinery admits only single-child transform expressions, so
        // the width lives in the function name. String keys are the
        // stored prefix, integral keys the stored long multiple (a
        // wrap-range value near Long.MinValue fails the long parse and
        // withdraws the report — conservative).
        case pf @ TruncateField(w, src) =>
          val fd = field(src).getOrElse(return None)
          val keyType = fd.dataType match {
            case StringType => StringType
            case IntegerType | LongType | ShortType | ByteType => LongType
            case _ => return None
          }
          (pf, Expressions.apply(s"truncate_$w",
              Expressions.column(fd.name)): V2Expression,
            (s: String) => convert(s, keyType))
      }
    val rows = files.map { f =>
      val vs = plan.map { case (pf, _, conv) =>
        f.partitionValues.get(pf.fieldName) match {
          case Some(graft.catalog.Snaplog.HiveDefaultPartition) => null
          case Some(s) => conv(s).getOrElse(return None)
          case None => return None // pre-evolution file: withdraw
        }
      }
      normalize(f.path) -> (new GenericInternalRow(vs.toArray[Any]): InternalRow)
    }
    Some(SpjKeys(plan.map(_._2), rows.toMap))
  }

  private def identitySupported(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType |
         DateType => true
    case _ => false
  }

  private def convert(s: String, dt: DataType): Option[Any] =
    try Some(dt match {
      case StringType => org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case IntegerType => s.toInt
      case LongType => s.toLong
      case ShortType => s.toShort
      case ByteType => s.toByte
      case DateType => java.time.LocalDate.parse(s).toEpochDay.toInt
      case _ => return None
    }) catch { case _: RuntimeException => None }

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath
}

/** A [[FilePartition]] that also names its partition key — the shape
  * `BatchScanExec` groups for storage-partitioned joins. */
private[sql] final class KeyedFilePartition(
    idx: Int,
    fs: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Micro-batch streaming source over a snaplog table — `spark.readStream
  * .table("cat.ns.t")`: the lakehouse-as-a-stream pattern (Iceberg/Delta
  * streaming reads; the reference's closest analogue is its snapshot
  * history walk, `read_history.py:7-11`, turned into a live tail).
  *
  * Offsets are SNAPSHOT IDS, so batch planning is pure log metadata:
  * batch (s, e] reads exactly the data files live at `e` but not at `s`
  * (the [[graft.table.LakehouseTable.scanIncremental]] contract — the
  * path-set difference is exact for append/add_files lineage). The
  * virgin offset 0 emits the full current content first, or
  * `startSnapshotId` skips history and tails only commits after it.
  * Restarts resume from the checkpointed snapshot id — exactly-once
  * against this source requires nothing from the table but its log.
  *
  * Append-only contract: a reset commit (overwrite / COW delete /
  * replace) inside an unconsumed range fails the stream loudly — its
  * delta is not expressible as file adds. DELETES stream through with
  * skip semantics: admission control closes the running batch at an
  * equality-delete or position-delete boundary, so when the delete is
  * crossed every row it matches (files before it in replay order) has
  * already been emitted by earlier batches and the commit is a content
  * no-op for the tail — the Iceberg skip-delete-snapshots / Delta
  * ignoreDeletes semantics, derived here from replay order instead of
  * an opt-in flag. (A sink needing retraction consumes the
  * `graft-changes` feed or re-reads the table.) A VIRGIN stream whose
  * initial content itself carries outstanding deletes
  * (checkpoint-folded state) is not a plain file list — the source
  * MATERIALIZES the batch-scan's MOR subtraction into an unregistered
  * staging dir once and streams that (see [[initialPaths]]); no
  * compact-first refusal remains.
  * Automatic checkpoint folds and WAP-staged branch commits are content
  * no-ops on main and stream through silently. Admission control:
  * `maxFilesPerTrigger` / `maxBytesPerTrigger` (Delta's rate limits)
  * bound each batch by walking snapshot boundaries (the initial
  * catch-up starts at the latest reset's live set, then extends
  * append-by-append; both budgets may be set — whichever exhausts
  * first closes the batch), and Trigger.AvailableNow pins the target
  * head at start.
  *
  * At 100 TB: every planning decision here reads the log, never the
  * data — a year of 10-second appends plans each batch from
  * O(checkpoint-window) metadata, and the initial-content batch is the
  * same explicit file list a batch scan would get. */
private[graft] final class GraftMicroBatchStream(
    tableSchema: StructType,
    backing: Catalog,
    ns: String,
    tbl: String,
    options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark = SparkSession.active

  private val startSnapshotId: Long =
    Option(options.get("startsnapshotid")).map(_.toLong).getOrElse(0L)
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxfilespertrigger")).map(_.toInt)
  maxFilesPerTrigger.foreach(n =>
    require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
  // byte-based admission (Delta's maxBytesPerTrigger): at 100 TB file
  // COUNT is a poor proxy for batch cost — one compacted 1 GB file and
  // one streaming-tail 1 MB file are the same "1 file". Both limits may
  // be set; a batch closes at whichever budget exhausts first.
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxbytespertrigger")).map(_.toLong)
  maxBytesPerTrigger.foreach(n =>
    require(n > 0, s"maxBytesPerTrigger must be positive, got $n"))

  /** `refresh=true` — valid only on a table adopted from an Iceberg
    * tree ([[graft.interop.IcebergImport.register]]): before each
    * trigger's end offset is computed, re-sync the mirror with its
    * live source in PER-SNAPSHOT mode, so the foreign tree's new
    * snapshots land as native commits this source then tails like any
    * other writer's — a source append becomes an add_files batch, a
    * source delete an eq_delete/mor_delete boundary the admission
    * guards already understand. The full "tail a live external CDC
    * table" story: one driver-side metadata walk per trigger, zero
    * data movement. Refresh refusals (source schema/spec evolution,
    * rewind) fail the query loudly — restart after re-registering. */
  private val refreshSource: Boolean =
    Option(options.get("refresh")).exists(_.toBoolean)
  if (refreshSource)
    require(backing.loadTable(ns, tbl).properties
        .contains(graft.interop.IcebergImport.ImportedFromProp),
      s"streaming read of $ns.$tbl: refresh=true requires a table " +
        "imported from an Iceberg tree (IcebergImport.register)")
  private def refreshIfMirror(): Unit =
    if (refreshSource)
      graft.interop.IcebergImport.refresh(backing, spark, ns, tbl,
        perSnapshot = true)

  /** Trigger.AvailableNow target: pinned once at stream start so the
    * run terminates even while writers keep committing. */
  @volatile private var availableNowTarget: Option[Long] = None

  /** Last MAIN-lineage snapshot id. The raw log tail can be a
    * WAP-staged branch commit — never a valid stream endpoint (its
    * content is not on main). O(1) unless the tail IS staged, then one
    * history walk. */
  private def headId: Long =
    backing.currentSnapshot(ns, tbl) match {
      case Some(s) if !Snaplog.isWapStaged(s) => s.snapshotId
      case Some(_) => mainSnaps().lastOption.map(_.snapshotId).getOrElse(0L)
      case None => 0L
    }

  /** Main-lineage snapshots (WAP-staged branch commits are content
    * no-ops on main and never become batch endpoints). */
  private def mainSnaps() =
    backing.snapshots(ns, tbl).filterNot(Snaplog.isWapStaged)

  /** Validated at first start (restarts resume from the checkpoint and
    * never call this): a typo'd start id must fail loudly, not stream
    * zero batches forever. */
  override def initialOffset(): Offset = {
    if (startSnapshotId != 0L)
      require(mainSnaps().exists(_.snapshotId == startSnapshotId),
        s"startSnapshotId $startSnapshotId is not a main-lineage snapshot " +
          s"of $ns.$tbl")
    GraftStreamOffset(startSnapshotId)
  }
  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = {
    // drop initial-content materialization dirs (unregistered staging
    // files — invisible to the log, so this is pure disk hygiene)
    import scala.jdk.CollectionConverters._
    initDirs.asScala.foreach(graft.util.Fs.deleteTree)
    initDirs.clear()
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    // one sync at stream start: the run drains everything the source
    // had committed by then, and terminates even while it keeps writing
    refreshIfMirror()
    availableNowTarget = Some(headId)
  }

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def reportLatestOffset(): Offset = GraftStreamOffset(headId)

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // continuous triggers re-sync the mirror per trigger; AvailableNow
    // synced once at prepare time (the target is already pinned)
    if (availableNowTarget.isEmpty) refreshIfMirror()
    val cap = availableNowTarget.getOrElse(headId)
    val s = start.asInstanceOf[GraftStreamOffset].id
    if (cap <= s) return GraftStreamOffset(s)
    // every limit walks the admission path: equality-delete boundaries
    // split batches regardless of the file/byte budget
    def budgets(l: ReadLimit): (Long, Long) = l match {
      case mf: ReadMaxFiles => (mf.maxFiles.toLong, Long.MaxValue)
      case mb: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
        (Long.MaxValue, mb.maxBytes)
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.map(budgets).reduce((a, b) =>
          (math.min(a._1, b._1), math.min(a._2, b._2)))
      case _ => (Long.MaxValue, Long.MaxValue)
    }
    val (fileBudget, byteBudget) = budgets(limit)
    GraftStreamOffset(admissibleEnd(s, cap, fileBudget, byteBudget))
  }

  /** Pick the furthest snapshot id in (start, cap] whose cumulative
    * file count fits the budget, walking only crossable commits
    * (append / add_files / checkpoint / equality delete). The first
    * step always advances (a single oversized commit must still
    * stream). An EQUALITY delete is crossable only while the batch has
    * taken no file-adds: its keys then apply solely to rows earlier
    * batches already emitted (skip semantics); once adds exist the
    * batch closes at the delete's boundary and the next batch crosses
    * it first. Stops BEFORE an uncrossable commit once progress
    * exists; if the very first unconsumed commit is uncrossable,
    * returns `cap` so planInputPartitions raises the descriptive
    * append-only error instead of idling forever. */
  private def admissibleEnd(startV: Long, cap: Long, maxFiles: Long,
      maxBytes: Long = Long.MaxValue): Long = {
    val snaps = mainSnaps().filter(_.snapshotId <= cap)
    val crossable = Set(Snaplog.OpAppend, Snaplog.OpAddFiles,
      Snaplog.OpCheckpoint, Snaplog.OpEqDelete, Snaplog.OpMorDelete)
    // the initial catch-up batch starts from the latest reset's
    // self-contained live set (everything older folded into it)
    var end = startV
    var budget = maxFiles
    var bytes = maxBytes
    var hasAdds = false
    if (startV == 0L) {
      val resetIdx = snaps.lastIndexWhere(s => Snaplog.ResetOps(s.operation))
      val first = if (resetIdx >= 0) snaps(resetIdx) else snaps.headOption.getOrElse(return cap)
      if (!crossable(first.operation) && resetIdx < 0) return cap
      end = first.snapshotId
      val initial = backing.liveFiles(ns, tbl, Some(end))
      budget -= initial.size
      bytes -= initial.map(_.sizeBytes).sum
      hasAdds = initial.nonEmpty
    }
    var i = snaps.indexWhere(_.snapshotId > end)
    while (i >= 0 && i < snaps.length) {
      val sn = snaps(i)
      if (!crossable(sn.operation)) {
        // uncrossable next commit with no progress yet → surface the error
        return if (end == startV) cap else end
      }
      val isDelete = sn.operation == Snaplog.OpEqDelete ||
        sn.operation == Snaplog.OpMorDelete
      // a delete part must LEAD the batch (skip semantics hold only
      // when every row it matches was emitted by earlier batches); a
      // MERGE commit additionally carries data files after its key
      // file — they count like an append's (a position-delete commit
      // carries only vectors, contributing nothing)
      if (isDelete && hasAdds) return end
      val adds =
        if (sn.operation == Snaplog.OpCheckpoint) Seq.empty
        else if (isDelete) sn.files.filter(f => !f.deleteFile.contains(true))
        else sn.files
      val added = adds.size.toLong
      val addedBytes = adds.map(_.sizeBytes).sum
      if (end != startV && (budget - added < 0 || bytes - addedBytes < 0)) return end
      budget -= added
      bytes -= addedBytes
      if (added > 0) hasAdds = true
      end = sn.snapshotId
      i += 1
    }
    end
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].id
    val e = end.asInstanceOf[GraftStreamOffset].id
    if (e <= s) return Array.empty
    // Schema evolution is METADATA-ONLY (no snapshot commit), so the
    // append-only offset guards cannot see it — but this stream's output
    // schema was pinned at start, and planning newer files against a
    // stale schema would silently null-fill a renamed column. Fail
    // loudly; the restarted stream picks up the evolved schema.
    locally {
      val cur = backing.loadTable(ns, tbl).schema
      require(cur == tableSchema,
        s"streaming read of $ns.$tbl: the table schema changed while the " +
          s"stream was running (pinned ${tableSchema.simpleString}, now " +
          s"${cur.simpleString}) — restart the streaming query")
    }
    val paths: Seq[String] =
      if (s == 0L) initialPaths(e)
      else deltaPaths(s, e)
    if (paths.isEmpty) Array.empty
    else parquetScanOver(paths).toBatch.planInputPartitions()
  }

  /** The virgin stream's initial-content file list at snapshot `e`.
    * Clean tables stream their live files directly (zero data
    * movement, identical to the batch scan's file list). A table whose
    * checkpoint-folded initial content carries OUTSTANDING deletes
    * (position vectors / equality keys) is not a plain file list — the
    * batch scan already owns that subtraction, so MATERIALIZE it once:
    * `scan(asOf = e)` applies the vectors exactly as a batch read
    * would, the result lands in an unregistered staging dir, and the
    * batch streams those files. Cost is one read+write of the LIVE
    * content — the same price the previously-required `compact()`
    * charged, but scoped to this stream's checkpoint instead of
    * rewriting the table. Memoized per end-snapshot (planning can be
    * re-invoked on recovery); dirs are dropped at `stop()`. */
  private val initMaterialized =
    new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
  private val initDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()

  // Purge STALE init dirs of this table on construction: `stop()` only
  // runs on a graceful stop, so a killed/restarted query would otherwise
  // accumulate one materialization dir per (re)start until JVM exit.
  // Ownership is EXPLICIT, not an age heuristic (an initial batch behind
  // a slow sink can legitimately run for hours — deleting a live query's
  // in-flight materialization mid-read would fail its tasks): the dir
  // name embeds the owner JVM's PID, and a dir is stale only when that
  // process is no longer alive. The table component is a fixed-length
  // hash with a terminating delimiter, so one table's purge can never
  // match a sibling table whose name extends this one.
  private def initDirPrefix: String = {
    val id = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$ns\u0000$tbl".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString
    s"graft-stream-init-$id-"
  }

  locally {
    import scala.jdk.CollectionConverters._
    val tmpRoot = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    val prefix = initDirPrefix
    def ownerDead(dirName: String): Boolean = {
      // name shape: <prefix><pid>-<snapshot>-<random>; unparseable names
      // are not ours — never touch them
      val rest = dirName.stripPrefix(prefix)
      val pidStr = rest.takeWhile(_ != '-')
      pidStr.nonEmpty && pidStr.forall(_.isDigit) &&
        (try !ProcessHandle.of(pidStr.toLong)
              .map[java.lang.Boolean](_.isAlive).orElse(false)
         catch { case _: SecurityException => false })
    }
    val stale =
      try scala.util.Using.resource(java.nio.file.Files.list(tmpRoot))(
        _.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith(prefix) && ownerDead(n)
        }.toSeq)
      catch { case _: java.io.IOException => Seq.empty }
    stale.foreach(graft.util.Fs.deleteTree)
  }

  private def initialPaths(e: Long): Seq[String] = {
    if (backing.liveDeleteFiles(ns, tbl, Some(e)).isEmpty)
      return backing.liveFiles(ns, tbl, Some(e)).map(_.path)
    initMaterialized.computeIfAbsent(e, _ => {
      val subtracted = graft.table.LakehouseTable
        .load(backing, spark, ns, tbl).scan(asOf = Some(e))
      // staged OUTSIDE the table's dataDir: vacuum() walks dataDir and
      // deletes unreferenced files past its grace window, which would
      // rip these (never-registered) files out from under a running
      // initial batch; a crash-leaked temp dir is the OS temp dir's
      // problem, not permanent warehouse garbage
      val tmp = java.nio.file.Files.createTempDirectory(
        s"$initDirPrefix${ProcessHandle.current().pid()}-$e-")
      subtracted.write.format(graft.table.ManagedParquetFormat.Name)
        .mode("overwrite").save(tmp.toString)
      initDirs.add(tmp)
      graft.table.FileStats.listParquet(tmp.toString)
    })
  }

  /** Files added in (s, e] — `Catalog.addedEntriesBetween` (ONE shared
    * implementation with `scanIncremental`), with the commonest
    * streaming failure (an expired checkpointed offset) surfaced first
    * and every guard message wrapped with restart guidance. Equality
    * deletes in the window stream through as content no-ops PROVIDED
    * they precede every in-window file add — which admission control
    * guarantees for windows it planned; a WAL-replayed window from an
    * older engine version that interleaves them refuses loudly. */
  private def deltaPaths(s: Long, e: Long): Seq[String] = {
    require(mainSnaps().exists(_.snapshotId == s),
      s"streaming read of $ns.$tbl: checkpointed snapshot $s is no longer " +
        "in the log (expired?) — restart from a fresh checkpoint")
    val entries =
      try backing.addedEntriesBetween(ns, tbl, s, e, admitLeadingVectors = true)
      catch {
        case ex: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"streaming read of $ns.$tbl: ${ex.getMessage} — restart from a " +
              "fresh checkpoint to re-read current content", ex)
      }
    val firstData = entries.indexWhere(x => !x.deleteFile.contains(true))
    require(firstData < 0 ||
        entries.drop(firstData).forall(x => !x.deleteFile.contains(true)),
      s"streaming read of $ns.$tbl: batch ($s, $e] has an equality delete " +
        "after in-batch file adds (planned by an older engine?) — its rows " +
        "would need subtraction; restart from a fresh checkpoint")
    entries.filterNot(_.deleteFile.contains(true)).map(_.path)
  }

  /** Spark's own vectorized parquet DSv2 over an explicit file list —
    * the same construction the batch scan uses, so executors run the
    * identical codegen'd reader. */
  private def parquetScanOver(paths: Seq[String]): Scan = {
    val pt = ParquetTable(s"$ns.$tbl-stream", spark, options, paths,
      Some(tableSchema), classOf[ParquetFileFormat])
    pt.newScanBuilder(options).build()
  }

  /** One factory for the whole run: ParquetPartitionReaderFactory
    * captures schemas + conf, not file lists, so partitions planned by
    * later batches read through it unchanged. */
  override def createReaderFactory(): PartitionReaderFactory =
    parquetScanOver(Seq.empty).toBatch.createReaderFactory()

  override def toString: String = s"GraftStream[$ns.$tbl]"
}
