package graft.table

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.catalog.DataFileEntry

/** Merge-on-read subtraction, shared by every read of a table with
  * outstanding deletes — the native scan assembly, the SQL MOR relation
  * and the SQL row-level rewrite: one definition of the visible rows,
  * one plan entry point ([[visible]]).
  *
  * A file's identity on a read is its index in the replay-ordered
  * entry list (its log position), never its path text — the way the
  * Iceberg v3 spec and Delta's deletion vectors name a data file. The
  * log read ([[LogScan]]) stamps that index on every row.
  *
  * An equality-delete file (`equalityKey = Some("col")` or, for
  * COMPOSITE keys, `Some("col1,col2")` — column names cannot contain
  * commas, enforced at write — a parquet of deleted key tuples)
  * applies to exactly the DATA files that precede it in replay order —
  * so `DELETE WHERE k = 5` followed by an append of a new `k = 5` row
  * leaves the new row visible (keyed-CDC semantics; Iceberg v2
  * sequence-number rules, expressed here by log position; Iceberg's
  * own equality deletes are field-LIST-valued for the same composite
  * CDC keys). The subtraction is one data scan plus one broadcast join
  * per key-column set against a `key → max delete index` map
  * ([[subtractEq]]): delete files are predicate-sized, so the
  * broadcast is bounded, the data side never shuffles, and the plan
  * does not grow with the number of outstanding deletes. Position
  * vectors then subtract by one broadcast anti-join on `(file index,
  * row position)` ([[joinVectors]]).
  *
  * Null keys: an equality delete never removes null-keyed rows (the
  * join's `=` is null-rejecting on both sides, per column), matching
  * SQL `(k1, k2) IN (…)` semantics. */
object EqDeletes {

  def isEq(f: DataFileEntry): Boolean =
    f.deleteFile.contains(true) && f.equalityKey.isDefined
  def isPos(f: DataFileEntry): Boolean =
    f.deleteFile.contains(true) && f.equalityKey.isEmpty

  /** Key columns of an equality-delete entry (comma-encoded). */
  def keyCols(f: DataFileEntry): Seq[String] =
    f.equalityKey.get.split(',').toSeq

  /** Vector files are immutable once committed (unique staging paths,
    * never rewritten in place), so their distinct file_path sets cache
    * safely across plans — a hot CDC table planned hundreds of times
    * between maintenance runs pays the driver-side vector read once.
    * Bounded LRU; retired vectors age out. */
  private val vecPathCache =
    new java.util.LinkedHashMap[Seq[String], Set[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String], Set[String]]): Boolean = size > 64
    }

  /** The data-file paths the position `vectors` record, in one form
    * ([[FileStats.normalizePath]]: a vector may record its file as
    * `file:/…`, `file:///…` or a bare path), read once driver-side and
    * cached. Touch attribution only; a read resolves vectors inside its
    * plan ([[joinVectors]]) with the same normalization. */
  def vectorPaths(spark: SparkSession, vectors: Seq[DataFileEntry]): Set[String] = {
    val key = vectors.map(_.path).sorted
    if (key.isEmpty) Set.empty
    else vecPathCache.synchronized(Option(vecPathCache.get(key))).getOrElse {
      val read = LogScan.readVectors(spark, vectors)
        .select("file_path").coalesce(1).distinct().collect()
        .map(r => FileStats.normalizePath(r.getString(0))).toSet
      vecPathCache.synchronized(vecPathCache.put(key, read))
      read
    }
  }

  /** Data-file paths possibly AFFECTED by the outstanding delete
    * entries in `ordered` (replay order) — one definition of
    * delete-touch attribution, shared by the delete-tier compaction's
    * file selection ([[LakehouseTable.rewriteDeleteFiles]]) and the
    * DSv2 scan's metadata-aggregate gate:
    *  - position vectors touch exactly the data files whose normalized
    *    paths they record ([[vectorPaths]]; vectors read once,
    *    driver-side; distinct paths are bounded by the live file count);
    *  - an equality delete touches the data files PRECEDING it in
    *    replay order whose key-column [min,max] bounds OVERLAP the
    *    delete file's own recorded key bounds — a provably key-disjoint
    *    file cannot hold a deleted tuple. Bounds compare in their
    *    collection domain (strings lexicographically, numeric types as
    *    doubles — dispatched on the schema's key type). Missing stats /
    *    undecidable types / NaN / evolution-rebound (`statsUnsafe`) /
    *    schema-absent key columns count as touched (conservative).
    * Every path NOT returned is provably unaffected: its logged row
    * count and column bounds describe its live rows exactly even while
    * the deletes stay outstanding. */
  def touchedDataPaths(spark: SparkSession, ordered: Seq[DataFileEntry],
      statsUnsafe: Set[String], schema: StructType): Set[String] = {
    val deletes = ordered.filter(_.deleteFile.contains(true))
    if (deletes.isEmpty) return Set.empty
    val posTouched = vectorPaths(spark, deletes.filter(isPos))
    // Disjointness is decided in the DOMAIN the bounds were collected
    // in, dispatched on the key column's CURRENT type. String bounds
    // are exact lexicographic min/max — a numeric parse would be
    // unsound, not just lossy: {"1","100","20"} records ["1","20"],
    // whose numeric reading (1,20) excludes the contained 100, so a
    // delete for "100" would be judged disjoint and its row would
    // resurrect through every consumer of this attribution. Numeric
    // types parse to double (monotonic for the integral/decimal-
    // unscaled/micros encodings the stat writer emits, so rounding can
    // only widen the overlap verdict, never fabricate disjointness).
    // None = no sound comparison → touched (conservative).
    import org.apache.spark.sql.types._
    def disjoint(dt: DataType, db: graft.catalog.ColBounds,
        eb: graft.catalog.ColBounds): Option[Boolean] = dt match {
      case StringType =>
        // UTF-8 byte order — the order parquet chose the bounds in
        // (String.compareTo would misorder supplementary characters)
        Some(FileStats.utf8Compare(db.max, eb.min) < 0 ||
          FileStats.utf8Compare(db.min, eb.max) > 0)
      case _: NumericType | DateType | TimestampType | TimestampNTZType =>
        try {
          val (dmn, dmx) = (db.min.toDouble, db.max.toDouble)
          val (emn, emx) = (eb.min.toDouble, eb.max.toDouble)
          if (dmn.isNaN || dmx.isNaN || emn.isNaN || emx.isNaN) None
          else Some(dmx < emn || dmn > emx)
        } catch { case _: NumberFormatException => None }
      case _ => None
    }
    def eqAffected(f: DataFileEntry, del: DataFileEntry): Boolean = {
      val keys = del.equalityKey.toSeq.flatMap(_.split(',')).map(_.trim)
      !keys.exists { k =>
        !statsUnsafe(k.toLowerCase(java.util.Locale.ROOT)) &&
          schema.fields.find(_.name.equalsIgnoreCase(k)).exists { fld =>
            (for {
              db <- f.columnStats.flatMap(_.get(k))
              eb <- del.columnStats.flatMap(_.get(k))
              verdict <- disjoint(fld.dataType, db, eb)
            } yield verdict).getOrElse(false)
          }
      }
    }
    // one reverse replay walk: a data file is affected by the equality
    // deletes that FOLLOW it in the listing
    val laterEq = scala.collection.mutable.ArrayBuffer.empty[DataFileEntry]
    val touched = scala.collection.mutable.Set.empty[String]
    ordered.reverseIterator.foreach { e =>
      if (isEq(e)) laterEq += e
      else if (!e.deleteFile.contains(true) &&
          (posTouched(FileStats.normalizePath(e.path)) ||
            laterEq.exists(del => eqAffected(e, del)))) touched += e.path
    }
    touched.toSet
  }

  /** The visible rows of the data files in `ordered` (replay order)
    * that `keep` selects, read under `readSchema` with reader
    * `readerOptions`. A data file's identity is its index in `ordered`
    * (its log position), which the log read stamps on its rows as
    * `_metadata.graft_seq`; an equality-delete file carries its own
    * index the same way. Equality deletes subtract by that index
    * ([[subtractEq]]), then position vectors by a broadcast anti-join on
    * `(index, row position)` ([[joinVectors]]). `withMeta` keeps
    * `__scan_seq` / `__scan_pos` (the file's index and the row's
    * position in it) on the result. An empty selection is an empty
    * frame with the same columns. With the table's pruning `scope`, the
    * data read also skips the data files that filters Catalyst pushes
    * down to it rule out ([[LogFileIndex]]). The delete reads carry no
    * scope, so no filter can drop a delete. */
  def visible(spark: SparkSession, readSchema: StructType,
      ordered: Seq[DataFileEntry], keep: DataFileEntry => Boolean,
      withMeta: Boolean, readerOptions: Map[String, String] = Map.empty,
      scope: Option[PruneScope] = None): DataFrame = {
    val indexed = ordered.zipWithIndex.map { case (f, i) => f -> i.toLong }
    val data = indexed.filter { case (f, _) => !f.deleteFile.contains(true) && keep(f) }
    if (data.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        if (!withMeta) readSchema
        else readSchema.add("__scan_seq", LongType).add("__scan_pos", LongType))
    // only an equality delete after the first kept data file can
    // remove a row, so a read no delete can touch plans no key scan
    val dels = indexed.filter { case (f, i) => isEq(f) && i > data.head._2 }
    val vectors = ordered.filter(isPos)
    val meta = withMeta || vectors.nonEmpty
    val scanned = LogScan.readSeq(spark, readSchema, data, readerOptions, scope)
    if (!meta && dels.isEmpty) return scanned
    val survivors = subtractEq(spark, scanned.select(col("*") +:
      col(LogScan.SeqCol).as("__scan_seq") +:
      (if (meta) Seq(col("_metadata.row_index").as("__scan_pos")) else Nil): _*), dels)
    val sub =
      if (vectors.isEmpty) survivors
      else joinVectors(survivors, ordered, vectors, "left_anti")
    if (withMeta) sub else sub.drop("__scan_seq", "__scan_pos")
  }

  /** Recorded vector paths in one form ([[FileStats.normalizePath]]),
    * the definition touch attribution ([[vectorPaths]]) uses too.
    * Non-nullable (a recorded path is never null): otherwise Spark
    * infers `isnotnull(UDF(file_path))` from the join on its result
    * and evaluates the normalization twice per vector row. */
  private val normalized =
    udf((p: String) => FileStats.normalizePath(p)).asNonNullable()

  /** `scanned` (carrying `__scan_seq` / `__scan_pos`, the file's index
    * in `ordered` and the row's position) joined with `joinType`
    * against the rows the position `vectors` record: `left_anti` keeps
    * the survivors, `left_semi` the deleted rows. A vector may record
    * its data file in any equivalent path form: each recorded path is
    * normalized and resolved to its file's index in `ordered` inside
    * the plan, through a broadcast of `ordered`'s (normalized path,
    * index) pairs, so building the read starts no job. A recorded path
    * that names no file of `ordered` subtracts nothing. The vectors are
    * predicate-sized, so the resolved `(index, position)` pairs
    * broadcast; `coalesce(1)` before the dedup plans no Exchange in the
    * build. */
  def joinVectors(scanned: DataFrame, ordered: Seq[DataFileEntry],
      vectors: Seq[DataFileEntry], joinType: String): DataFrame = {
    val spark = scanned.sparkSession
    import spark.implicits._
    val files = ordered.zipWithIndex
      .map { case (f, i) => (FileStats.normalizePath(f.path), i.toLong) }
      .toDF("__dv_file", "__dv_seq")
    val dv = LogScan.readVectors(spark, vectors)
      .select(normalized(col("file_path")).as("__dv_file"),
        col("row_index").as("__dv_pos"))
      .coalesce(1)
      .join(broadcast(files), "__dv_file")
      .select("__dv_seq", "__dv_pos").distinct()
    scanned.join(broadcast(dv), col("__scan_seq") === col("__dv_seq") &&
      col("__scan_pos") === col("__dv_pos"), joinType)
  }

  /** `scanned` (carrying `__scan_seq`, its file's replay index) minus
    * the rows the equality deletes `dels` (each paired with its own
    * replay index) remove. The replay-order rule ("a delete applies to
    * the data files before it") is Iceberg's sequence-number rule
    * expressed by log position: per distinct KEY-COLUMN SET, one scan
    * of that set's delete files builds a broadcast map `key tuple → max
    * delete index`, and a row survives iff its key is absent or that
    * max is LESS than its file's index. So a MOR read plans one data
    * scan plus one delete scan and one broadcast join per key set at
    * ANY outstanding-delete depth, and its plan text does not change
    * from commit to commit. Key-file schemas come from each file's own
    * footer (never inferred by a job); files of one key set whose key
    * types differ read as separate scans. Null keys never match the
    * equality condition, so null-keyed rows survive, as under an
    * anti-join. */
  private def subtractEq(spark: SparkSession, scanned: DataFrame,
      dels: Seq[(DataFileEntry, Long)]): DataFrame =
    dels.groupBy { case (d, _) => keyCols(d) }.toSeq
      .sortBy(_._1.mkString(",")).zipWithIndex
      .foldLeft(scanned) { case (df, ((cols, keyDels), si)) =>
        // one scan per footer key schema (normally one per key set)
        val keyed = keyDels
          .groupBy { case (d, _) => LogScan.keyFields(spark, d, cols) }
          .toSeq.sortBy(_._2.head._2)
          .map { case (fields, files) =>
            LogScan.readSeq(spark, StructType(fields), files)
              .select(fields.zipWithIndex.map { case (f, i) =>
                col(f.name).as(s"__eqk_${si}_$i") } :+
                col(LogScan.SeqCol).as("__eqd_pos"): _*)
          }.reduce(_.unionByName(_))
        // coalesce(1) before the dedup: SinglePartition satisfies the
        // aggregation's clustering, so the broadcast build plans NO
        // Exchange — a single-task max-per-key over a relation bounded
        // by the same invariant that makes it broadcastable at all
        // (delete files are predicate-sized)
        val delMap = broadcast(
          keyed.coalesce(1)
            .groupBy(cols.indices.map(i => col(s"__eqk_${si}_$i")): _*)
            .agg(max(col("__eqd_pos")).as(s"__eqd_max_$si")))
        df.join(delMap,
            cols.zipWithIndex.map { case (c, i) =>
              df(c) === col(s"__eqk_${si}_$i") }.reduce(_ && _),
            "left_outer")
          .filter(col(s"__eqd_max_$si").isNull ||
            col(s"__eqd_max_$si") < col("__scan_seq"))
          .drop((s"__eqd_max_$si" +:
            cols.indices.map(i => s"__eqk_${si}_$i")): _*)
      }
}
