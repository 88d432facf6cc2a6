package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, FileSourceConstantMetadataStructField}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.catalog.DataFileEntry

/** Parquet reads planned from the snapshot log — the Delta/Iceberg way:
  * the log already names every file and its size, so the scan needs no
  * listing, no existence check and no schema inference, and planning
  * it runs no Spark job.
  *
  * `spark.read.parquet(paths)` pays all three: it builds an
  * `InMemoryFileIndex` that stats every path (and lists them with a
  * Spark job past 32 paths), and without a schema it runs one
  * inference job per call. A log read is a `HadoopFsRelation` over
  * [[LogFileIndex]] (the log's paths and sizes, as `FileStatus`es) with
  * the caller's schema and reader options, so it plans the same
  * `FileSourceScanExec` — file pruning on a table's data read (see
  * [[LogFileIndex]]), column pruning, filter pushdown, vectorized
  * decode, `_metadata.file_path` / `_metadata.row_index` (in the path
  * text a listing reports) — without a listing's cost.
  *
  * Each file also carries one constant, `_metadata.graft_seq` ([[SeqCol]]):
  * the caller's per-file number. Merge-on-read reads set it to the
  * file's index in the replay-ordered entry list, which is the file's
  * identity on that read: equality deletes, position vectors, row
  * lineage and the changelog all key on it, never on path text. It
  * rides the file, not the plan, so plans whose indices differ only by
  * commit compile to the same code. */
object LogScan {

  /** Name of the per-file constant under `_metadata`. */
  val SeqField = "graft_seq"
  /** The per-file constant as a column reference. */
  val SeqCol = s"_metadata.$SeqField"

  /** The fixed schema of a position-delete vector file. */
  val VectorSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("row_index", LongType)))

  /** `files` read under `schema` with reader `options`, every row's
    * [[SeqCol]] = 0. */
  def read(spark: SparkSession, schema: StructType, files: Seq[DataFileEntry],
      options: Map[String, String] = Map.empty): DataFrame =
    readSeq(spark, schema, files.map(_ -> 0L), options)

  /** `files` read under `schema` with reader `options`; each row's
    * [[SeqCol]] is its file's paired number (a replay index when the
    * read is merge-on-read, see [[EqDeletes]]). A read of a table's
    * data files passes its `scope`, and then the index lists only the
    * files [[FilePrune.keep]] allows under the filters Spark pushes to
    * the scan; key-file, vector and other log reads pass none and list
    * every file. */
  def readSeq(spark: SparkSession, schema: StructType,
      files: Seq[(DataFileEntry, Long)],
      options: Map[String, String] = Map.empty,
      scope: Option[PruneScope] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fsFor = scala.collection.mutable.HashMap.empty[(String, String), FileSystem]
    val logged = files.map { case (f, seq) =>
      val p = new Path(f.path)
      val u = p.toUri
      val fs = fsFor.getOrElseUpdate((u.getScheme, u.getAuthority), p.getFileSystem(conf))
      LogFile(fs.makeQualified(p), f, seq)
    }
    // nullable like every file-source read: a file may lack a column
    // the table schema declares non-null (evolution null-fills it)
    val relation = HadoopFsRelation(LogFileIndex(logged, scope), StructType(Nil),
      org.apache.spark.sql.GraftStreamingShim.nullable(schema), None,
      new LogParquetFormat, options)(spark)
    spark.baseRelationToDataFrame(relation)
  }

  /** Position-delete vectors under [[VectorSchema]]. */
  def readVectors(spark: SparkSession, vectors: Seq[DataFileEntry]): DataFrame =
    read(spark, VectorSchema, vectors)

  /** Files are immutable once committed (unique staging paths, never
    * rewritten in place), so a footer schema caches per path. */
  private val footerSchemas =
    new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean = size > 4096
    }

  /** The schema Spark would infer for one parquet file, read from its
    * own footer on the driver (no job) and memoized per path. */
  private def footerSchema(spark: SparkSession, path: String): StructType =
    footerSchemas.synchronized(Option(footerSchemas.get(path))).getOrElse {
      val p = new Path(path)
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()))
      val schema =
        try ParquetFileFormat.readSchemaFromFooter(new Footer(p, reader.getFooter),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        finally reader.close()
      footerSchemas.synchronized(footerSchemas.put(path, schema))
      schema
    }

  /** The footer fields of `cols` in `f` (exact name first, then the one
    * case-insensitive match), metadata stripped so the read matches by
    * name. A key column missing from the footer fails loudly. */
  def keyFields(spark: SparkSession, f: DataFileEntry,
      cols: Seq[String]): Seq[StructField] = {
    val footer = footerSchema(spark, f.path)
    cols.map { c =>
      val fld = footer.fields.find(_.name == c)
        .orElse(footer.fields.filter(_.name.equalsIgnoreCase(c)) match {
          case Array(one) => Some(one)
          case _ => None
        })
        .getOrElse(throw new IllegalStateException(
          s"${f.path}: key column '$c' is not in the file's footer " +
            s"(columns: ${footer.fieldNames.mkString(", ")})"))
      StructField(fld.name, fld.dataType)
    }
  }

  private[table] final case class LogFile(path: Path, entry: DataFileEntry, seq: Long)
}

/** A fixed file list from the log: no listing, no existence check, one
  * partition directory with no partition values. Value equality, so
  * two reads of the same files at the same positions are the same plan
  * (cache and exchange reuse see through it).
  *
  * With a `scope` (a table's data read), `listFiles` prunes: it lists
  * only the files [[FilePrune.keep]] allows under Spark's data filters,
  * so a filter on the read skips files by their log metadata the way
  * the SQL scan does. Pruning is conservative and Spark re-applies
  * every filter above the scan, so it changes no row; the scan node's
  * `numFiles` metric shows it, while [[inputFiles]] still names every
  * file. Without a scope every file is listed. */
private[table] final case class LogFileIndex(files: Seq[LogScan.LogFile],
    scope: Option[PruneScope] = None) extends FileIndex {
  @transient private lazy val statuses = files.map { f =>
    FileStatusWithMetadata(new FileStatus(f.entry.sizeBytes, false, 1, 0L, 0L, f.path),
      Map(LogScan.SeqField -> f.seq))
  }
  override def rootPaths: Seq[Path] = files.map(_.path)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val listed = scope match {
      case Some(s) if dataFilters.nonEmpty =>
        val keep = FilePrune.keep(dataFilters, s)
        files.zip(statuses).collect { case (f, st) if keep(f.entry) => st }
      case _ => statuses
    }
    Seq(PartitionDirectory(InternalRow.empty, listed))
  }
  override def inputFiles: Array[String] = files.map(_.path.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.entry.sizeBytes).sum
  override def partitionSchema: StructType = StructType(Nil)
}

/** Parquet with one more file-constant metadata field,
  * `_metadata.graft_seq`, whose value [[LogFileIndex]] supplies per
  * file. */
private[table] final class LogParquetFormat extends ParquetFileFormat {
  override def metadataSchemaFields: Seq[StructField] =
    super.metadataSchemaFields :+
      FileSourceConstantMetadataStructField(LogScan.SeqField, LongType, nullable = false)
  override def equals(other: Any): Boolean = other.isInstanceOf[LogParquetFormat]
  override def hashCode(): Int = getClass.hashCode()
}
