package graft.table

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.catalog.DataFileEntry

/** Merge-on-read subtraction, shared by every read of a table with
  * outstanding deletes — the native scan assembly, the SQL MOR relation
  * and the SQL row-level rewrite: one definition of the visible rows,
  * one plan entry point ([[visible]]).
  *
  * An equality-delete file (`equalityKey = Some("col")` or, for
  * COMPOSITE keys, `Some("col1,col2")` — column names cannot contain
  * commas, enforced at write — a parquet of deleted key tuples)
  * applies to exactly the DATA files that precede it in replay order —
  * so `DELETE WHERE k = 5` followed by an append of a new `k = 5` row
  * leaves the new row visible (keyed-CDC semantics; Iceberg v2
  * sequence-number rules, expressed here by log position; Iceberg's
  * own equality deletes are field-LIST-valued for the same composite
  * CDC keys). Replay order becomes per-file positions that the log
  * read ([[LogScan]]) stamps on every row, so the subtraction is one
  * data scan plus one broadcast join per key-column set against a
  * `key → max delete position` map ([[readSubtracted]]): delete files
  * are predicate-sized, so the broadcast is bounded, the data side
  * never shuffles, and the plan does not grow with the number of
  * outstanding deletes. Position vectors then subtract by one
  * broadcast anti-join on `(file, row position)` ([[joinVectors]]).
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

  /** The data-file paths (normalized, [[FileStats.normalizePath]]) that
    * the position `vectors` record, read once driver-side and cached. */
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
    *  - position vectors touch exactly the `file_path`s they record
    *    (vectors read once, driver-side; distinct paths are bounded by
    *    the live file count);
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
    * `readerOptions`: equality deletes subtracted by replay position
    * ([[readSubtracted]]), then position vectors by a broadcast
    * anti-join ([[joinVectors]]). `withMeta` keeps `__scan_file` /
    * `__scan_pos` (the scanned file and row position) on the result.
    * An empty selection is an empty frame with the same columns. */
  def visible(spark: SparkSession, readSchema: StructType,
      ordered: Seq[DataFileEntry], keep: DataFileEntry => Boolean,
      withMeta: Boolean, readerOptions: Map[String, String] = Map.empty): DataFrame = {
    val segs = segments(ordered, keep)
    val vectors = ordered.filter(isPos)
    if (segs.isEmpty)
      return spark.createDataFrame(java.util.Collections.emptyList[Row](),
        if (!withMeta) readSchema
        else readSchema.add("__scan_file", StringType).add("__scan_pos", LongType))
    val data = readSubtracted(spark, readSchema, segs,
      withMeta = withMeta || vectors.nonEmpty, readerOptions)
    if (vectors.isEmpty) data
    else {
      val sub = joinVectors(data, vectors, "left_anti")
      if (withMeta) sub else sub.drop("__scan_file", "__scan_pos")
    }
  }

  /** `scanned` (carrying `__scan_file` / `__scan_pos`) joined with
    * `joinType` against the `(file, row position)` pairs the position
    * `vectors` record: `left_anti` keeps the survivors, `left_semi` the
    * deleted rows. The vectors are predicate-sized, so they broadcast;
    * `coalesce(1)` before the dedup plans no Exchange in the build. */
  def joinVectors(scanned: DataFrame, vectors: Seq[DataFileEntry],
      joinType: String): DataFrame = {
    val dv = broadcast(LogScan.readVectors(scanned.sparkSession, vectors)
      .select(col("file_path").as("__dv_file"), col("row_index").as("__dv_pos"))
      .coalesce(1).distinct())
    scanned.join(dv, col("__scan_file") === col("__dv_file") &&
      col("__scan_pos") === col("__dv_pos"), joinType)
  }

  /** Segment the replay-ordered entries into (data files, equality
    * deletes that apply to them) groups: consecutive data files with
    * the same downstream-delete suffix share a segment, so the number
    * of segments is ≤ live equality deletes + 1 (bounded by the replay
    * window, not the table). `keepData` applies metadata pruning to
    * data entries without disturbing the sequence. */
  private def segments(ordered: Seq[DataFileEntry], keepData: DataFileEntry => Boolean)
      : Seq[(Seq[DataFileEntry], Seq[DataFileEntry])] = {
    // walk backwards accumulating the eq-delete suffix
    val out = scala.collection.mutable.ListBuffer
      .empty[(Seq[DataFileEntry], Seq[DataFileEntry])]
    var suffix = List.empty[DataFileEntry]
    var bucket = List.empty[DataFileEntry]
    ordered.reverse.foreach { f =>
      if (isEq(f)) {
        if (bucket.nonEmpty) { out.prepend((bucket, suffix)); bucket = Nil }
        suffix = f :: suffix
      } else if (!f.deleteFile.contains(true) && keepData(f)) {
        bucket = f :: bucket
      }
    }
    if (bucket.nonEmpty) out.prepend((bucket, suffix))
    out.toList
  }

  /** The data side of a scan with equality deletes applied, as ONE log
    * read ([[LogScan]]) of every data file. `withMeta` additionally
    * carries `_metadata.file_path` / `_metadata.row_index` (as
    * `__scan_file` / `__scan_pos`) for a downstream position-vector
    * subtraction.
    *
    * The replay-order rule ("a delete applies to data files preceding
    * it") is Iceberg's sequence-number semantics, so it folds into
    * positions: each data file carries its segment's replay position
    * (the count of deletes before it) in `_metadata.graft_seq`, each
    * delete file its own index in the replay order the same way. Per
    * distinct KEY-COLUMN SET, one scan of that set's delete files
    * builds a broadcast map `key tuple → max delete position`, and a
    * row survives iff its key is absent or its max delete position is
    * STRICTLY LESS than its file's position (a delete at position ==
    * the segment position applies to that segment). So a MOR read plans
    * one data scan plus one delete scan and one broadcast join per key
    * set at ANY outstanding-delete depth, and its plan text does not
    * change from commit to commit. Key-file schemas come from each file's own
    * footer (never inferred by a job); files of one key set whose key
    * types differ read as separate scans. Null keys never match the
    * equality condition, so null-keyed rows survive, as under an
    * anti-join. */
  private def readSubtracted(spark: SparkSession, readSchema: StructType,
      segs: Seq[(Seq[DataFileEntry], Seq[DataFileEntry])],
      withMeta: Boolean,
      readerOptions: Map[String, String] = Map.empty): DataFrame = {
    // suffixes are nested along replay order (the earliest segment sees
    // every later delete), so the first segment's suffix IS the ordered
    // list of all applying deletes; a delete's index in it is its
    // replay position, and a segment's position is the count of deletes
    // BEFORE it. A delete at position j applies to segment i iff j ≥ i.
    val allDels = segs.headOption.map(_._2).getOrElse(Seq.empty)
    val data = LogScan.readSeq(spark, readSchema,
      segs.flatMap { case (files, sfx) =>
        files.map(_ -> (allDels.length - sfx.length).toLong) },
      readerOptions)
    val meta = Seq(
      if (withMeta) Seq(col("_metadata.file_path").as("__scan_file"),
        col("_metadata.row_index").as("__scan_pos")) else Nil,
      if (allDels.nonEmpty) Seq(col(LogScan.SeqCol).as("__eqd_seg")) else Nil).flatten
    val base = if (meta.isEmpty) data else data.select(col("*") +: meta: _*)
    if (allDels.isEmpty) return base
    val byKeySet = allDels.zipWithIndex.groupBy { case (d, _) => keyCols(d) }
    byKeySet.toSeq.sortBy(_._1.mkString(",")).zipWithIndex
      .foldLeft(base) { case (df, ((cols, dels), si)) =>
        // one scan per footer key schema (normally one per key set)
        val keyed = dels
          .groupMap { case (d, _) => LogScan.keyFields(spark, d, cols) } {
            case (d, pos) => d -> pos.toLong }
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
            col(s"__eqd_max_$si") < col("__eqd_seg"))
          .drop((s"__eqd_max_$si" +:
            cols.indices.map(i => s"__eqk_${si}_$i")): _*)
      }
      .drop("__eqd_seg")
  }
}
