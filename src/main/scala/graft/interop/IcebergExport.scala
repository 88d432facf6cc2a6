package graft.interop

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.JsonDSL._

import graft.table.{BucketField, DaysField, HoursField, IdentityField, LakehouseTable, MBucketField, MonthsField, PartField, PartitionTransforms, TruncateField, YearsField}

/** Read-only Iceberg-v2 metadata export for a snaplog table — the
  * interop loop the reference demonstrates by pointing DuckDB's
  * `iceberg_scan` at a table's `metadata.json`
  * (`query_iceberg_duckdb.py:21-29`): a third-party engine reads the
  * table from its metadata tree alone, no graft code involved.
  *
  * Emitted tree (under `destDir/`):
  * {{{
  * metadata/v<N>.metadata.json     # Iceberg v2/v3 table metadata (JSON, per spec)
  * metadata/version-hint.text      # latest metadata version pointer
  * metadata/snap-<id>.manifest-list.avro   # AVRO manifest list
  * metadata/manifest-<id>.avro             # data manifest per snapshot
  * metadata/manifest-<id>-deletes.avro     # DELETE manifest (outstanding MOR state)
  * deletes/pos-del-<k>/…           # merged position-delete parquet (file_path, pos)
  * }}}
  *
  * Manifest lists and manifests are serialized as AVRO with the spec's
  * field NAMES and FIELD-IDS (`manifest_path`/500, `data_file`/2,
  * `file_path`/100, `record_count`/103, …), the container-level
  * key-value metadata Iceberg writers stamp (`format-version`,
  * `schema`, `partition-spec`, `content`), and per-table partition
  * structs under the spec's `r102` record with field-ids 1000+i — the
  * same Avro runtime Spark itself ships. `metadata.json` follows the
  * v2 JSON layout (format-version, schemas with field-ids,
  * partition-specs, snapshots with manifest-list pointers). Partition
  * specs carry the REAL transforms (`identity`, `day`, `hour`,
  * `month`, `year`, `truncate[w]`) with the spec's typed result values
  * in each manifest entry (day as a date-logical int of epoch days,
  * hour/month/year as ints, truncate as the source type) — graft's
  * stored transform indexes ARE the Iceberg transform result values
  * (same epoch-index and floorMod-truncation definitions), so a
  * days(ts) table prunes correctly in any spec-compliant external
  * reader. The ONE exception is `bucket(n,col)`: graft buckets by
  * xxhash64 while Iceberg's `bucket[n]` mandates murmur3_x86_32 —
  * exporting the stored bucket under Iceberg's name would make
  * external readers prune files by a hash the data was never
  * partitioned by, silently dropping rows. Bucket fields therefore
  * export as the spec's `void` transform (all-null values, never
  * pruned on): every row stays reachable, only external bucket
  * pruning is forgone. Tables that need external bucket pruning use
  * the `mbucket(n,col)` transform instead — spec murmur3_x86_32
  * hashing ([[graft.functions.IcebergBucketImpl]]), exported as a
  * REAL `bucket[n]` spec with the stored indexes, prunable by any
  * compliant reader. Data files are referenced in place — export is
  * metadata-only, zero data movement; any engine that walks the tree
  * scans the same parquet graft scans.
  */
object IcebergExport {

  final case class Report(
      metadataFile: Path,
      manifestLists: Int,
      manifests: Int,
      dataFiles: Long,
      totalRecords: Long,
      deleteFiles: Long = 0L)

  private def icebergPrimitive(dt: DataType): Option[String] = dt match {
    case BooleanType => Some("boolean")
    case IntegerType | ShortType | ByteType => Some("int")
    case LongType => Some("long")
    case FloatType => Some("float")
    case DoubleType => Some("double")
    case StringType => Some("string")
    case BinaryType => Some("binary")
    case DateType => Some("date")
    case TimestampType => Some("timestamptz")
    case TimestampNTZType => Some("timestamp")
    case d: DecimalType => Some(s"decimal(${d.precision}, ${d.scale})")
    case _ => None
  }

  /** Iceberg schema JSON for one column type — primitives as the spec's
    * names, NESTED types (struct/list/map) as the spec's JSON nodes
    * with field-ids from the dotted registry for struct chains and
    * fresh allocation above the high-water mark otherwise. Interop
    * scope: graft-written data files carry TOP-LEVEL ids and (since
    * round 13) STRUCT-chain inner ids stamped from the registry's
    * dotted entries — the exported schema declares the same numbers,
    * so a strict-by-id reader resolves both levels from the files
    * directly; list/map interiors carry no file ids (Spark's metadata
    * carrier is the StructField), so for those the export emits the
    * spec's
    * `schema.name-mapping.default` property ([[nameMapping]], derived
    * from this very JSON so ids always agree) — the spec's sanctioned
    * fallback for fields without ids — and name-based engines (DuckDB's
    * iceberg_scan, graft's own re-import) read the nested shape
    * directly. No silent fallback: a type the spec cannot express
    * refuses rather than exporting a false schema.
    *
    * `path`/`reg`/`interior`: id lookups so the exported schema declares
    * the SAME numbers the files physically carry — since round 13
    * managed writes stamp STRUCT-chain inner ids from the registry's
    * dotted entries, and since round 14 LIST/MAP interior ids from the
    * table's interior map ([[graft.types.FieldIds.InteriorProp]], paths
    * in name-mapping tokens: `arr.element.x`, `m.key`, `m.value`). A
    * strict-by-id external reader matches content against the file
    * stamps, so a declared id diverging from a stamp would null whole
    * subtrees; the interior map also keeps ids STABLE across re-exports
    * and import→export round-trips. Paths outside both maps (pre-r14
    * tables, un-encodable names) keep fresh allocation above the
    * high-water mark + the name-mapping fallback. */
  private def icebergTypeJson(dt: DataType, nextId: () => Int,
      path: Option[String] = None,
      reg: Map[String, Int] = Map.empty,
      interior: Map[String, Int] = Map.empty): JValue = {
    def idAt(p: Option[String]): Option[Int] =
      p.flatMap(x => reg.get(x).orElse(interior.get(x)))
    icebergPrimitive(dt).map(JString(_): JValue).getOrElse(dt match {
      case s: StructType =>
        ("type" -> "struct") ~ ("fields" -> JArray(s.fields.map { f =>
          val childPath = path.map(p => s"$p.${f.name}")
          // tracked id when known; fresh otherwise
          // (parent-before-children allocation order preserved)
          val id = idAt(childPath).getOrElse(nextId())
          ("id" -> id) ~ ("name" -> f.name) ~ ("required" -> !f.nullable) ~
            ("type" -> icebergTypeJson(f.dataType, nextId, childPath, reg,
              interior)): JValue
        }.toList))
      case a: ArrayType =>
        val ep = path.map(p => s"$p.element")
        val eid = idAt(ep).getOrElse(nextId())
        ("type" -> "list") ~ ("element-id" -> eid) ~
          ("element" -> icebergTypeJson(a.elementType, nextId, ep, reg,
            interior)) ~
          ("element-required" -> !a.containsNull)
      case m: MapType =>
        val kp = path.map(p => s"$p.key")
        val vp = path.map(p => s"$p.value")
        val kid = idAt(kp).getOrElse(nextId())
        val keyJson = icebergTypeJson(m.keyType, nextId, kp, reg, interior)
        val vid = idAt(vp).getOrElse(nextId())
        ("type" -> "map") ~ ("key-id" -> kid) ~ ("key" -> keyJson) ~
          ("value-id" -> vid) ~
          ("value" -> icebergTypeJson(m.valueType, nextId, vp, reg, interior)) ~
          ("value-required" -> !m.valueContainsNull)
      case other => throw new IllegalArgumentException(
        s"type ${other.simpleString} has no Iceberg representation — export refused")
    })
  }

  /** Spec schema JSON for a FRESH table (the REST client's
    * CreateTableRequest): top-level ids 1..n in schema order, nested
    * ids above — advisory numbering for a table with no files yet
    * (graft's creation allocates its own registry; a re-export
    * publishes the registry's numbers). */
  private[interop] def plainSchemaJson(schema: org.apache.spark.sql.types.StructType): JValue = {
    val idCounter = new java.util.concurrent.atomic.AtomicInteger(
      schema.fields.length)
    val nextNestedId: () => Int = () => idCounter.incrementAndGet()
    ("type" -> "struct") ~ ("schema-id" -> 0) ~ ("fields" -> JArray(
      schema.fields.zipWithIndex.map { case (f, i) =>
        ("id" -> (i + 1)) ~ ("name" -> f.name) ~
          ("required" -> !f.nullable) ~
          ("type" -> icebergTypeJson(f.dataType, nextNestedId)): JValue
      }.toList))
  }

  // ---- avro schemas (spec field names + field-ids) -------------------------

  /** Iceberg v2 `manifest_file` record (the manifest-list entry).
    * `private[interop]`: [[RestCatalog.commitAppend]] writes the same
    * spec shape for the manifest list a REST commit references. */
  private[interop] val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Iceberg spec transform name for one partition field. Bucket maps
    * to `void` — graft's xxhash64 buckets are NOT Iceberg murmur3
    * buckets, and `void` is the spec's "carry the field, never prune
    * on it" transform (see object scaladoc). */
  private def icebergTransform(pf: PartField): String = pf match {
    case _: IdentityField => "identity"
    case _: DaysField => "day"
    case _: HoursField => "hour"
    case _: MonthsField => "month"
    case _: YearsField => "year"
    case _: BucketField => "void"
    case MBucketField(n, _) => s"bucket[$n]"
    case TruncateField(w, _) => s"truncate[$w]"
  }

  /** Iceberg name-mapping (`schema.name-mapping.default`) derived from
    * the ALREADY-EMITTED schema JSON — walking the JSON (rather than
    * re-running id allocation) guarantees mapping ids and schema ids
    * agree by construction. Entry shape per the spec: `{"field-id": N,
    * "names": [name], "fields": [...]}`; list children map under
    * "element", map children under "key"/"value". */
  private def nameMapping(fields: List[JValue]): JValue = {
    def ofType(t: JValue): Option[JValue] = t match {
      case JString(_) => None
      case obj: JObject => (obj \ "type") match {
        case JString("struct") => (obj \ "fields") match {
          case JArray(fs) => Some(JArray(fs.map(entry)))
          case _ => None
        }
        case JString("list") =>
          Some(JArray(List(
            ("field-id" -> (obj \ "element-id")) ~ ("names" -> List("element")) ~
              nested(obj \ "element"))))
        case JString("map") =>
          Some(JArray(List(
            ("field-id" -> (obj \ "key-id")) ~ ("names" -> List("key")) ~
              nested(obj \ "key"),
            ("field-id" -> (obj \ "value-id")) ~ ("names" -> List("value")) ~
              nested(obj \ "value"))))
        case _ => None
      }
      case _ => None
    }
    def nested(t: JValue): JObject = ofType(t) match {
      case Some(fs) => JObject(List("fields" -> fs))
      case None => JObject(Nil)
    }
    def entry(f: JValue): JValue =
      ("field-id" -> (f \ "id")) ~
        ("names" -> List((f \ "name").values.toString)) ~ nested(f \ "type")
    JArray(fields.map(entry))
  }

  /** Avro type of one partition FIELD in the `r102` partition struct:
    * the transform's Iceberg RESULT type (identity/truncate → source
    * type, day → date-logical int, hour/month/year → int). */
  private def partitionAvroType(pf: PartField, srcDt: DataType): JValue = pf match {
    case _: IdentityField => srcDt match {
      case IntegerType | ShortType | ByteType => JString("int")
      case LongType => JString("long")
      case DateType => ("type" -> "int") ~ ("logicalType" -> "date")
      case _ => JString("string")
    }
    case _: DaysField => ("type" -> "int") ~ ("logicalType" -> "date")
    case _: HoursField | _: MonthsField | _: YearsField => JString("int")
    case _: BucketField => JString("int") // void: value always null
    case _: MBucketField => JString("int") // spec bucket result type
    case _: TruncateField => srcDt match {
      case LongType => JString("long")
      case IntegerType | ShortType | ByteType => JString("int")
      case _ => JString("string")
    }
  }

  /** Iceberg v2 `manifest_entry` record, with the per-table `r102`
    * partition struct (one field per spec transform, result-typed).
    * `withDvFields` (v3 delete manifests) adds the deletion-vector
    * columns of the data_file struct — `referenced_data_file` (143),
    * `content_offset` (144), `content_size_in_bytes` (145) — which
    * locate one DV blob inside a puffin file. */
  private[interop] def manifestEntrySchema(
      partCols: Seq[(PartField, DataType)],
      withDvFields: Boolean = false,
      withLineage: Boolean = false): Schema = {
    val partitionFields = JArray(partCols.zipWithIndex.map { case ((pf, dt), i) =>
      ("name" -> pf.fieldName) ~
        ("type" -> JArray(List(JString("null"), partitionAvroType(pf, dt)))) ~
        ("default" -> JNull) ~ ("field-id" -> (1000 + i)): JValue
    }.toList)
    val dvFields: List[JValue] =
      if (!withDvFields) Nil
      else List(
        ("name" -> "referenced_data_file") ~
          ("type" -> JArray(List(JString("null"), JString("string")))) ~
          ("default" -> JNull) ~ ("field-id" -> 143),
        ("name" -> "content_offset") ~
          ("type" -> JArray(List(JString("null"), JString("long")))) ~
          ("default" -> JNull) ~ ("field-id" -> 144),
        ("name" -> "content_size_in_bytes") ~
          ("type" -> JArray(List(JString("null"), JString("long")))) ~
          ("default" -> JNull) ~ ("field-id" -> 145))
    // v3 row lineage (spec field 142): a file's DURABLE first_row_id.
    // Written explicitly for every entry that carries an assignment
    // (files adopted from a v3 tree), so a re-export of a mirror keeps
    // the source's row ids instead of silently renumbering — the
    // spec's rewrite rule one ecosystem hop out.
    val lineageFields: List[JValue] =
      if (!withLineage) Nil
      else List(
        ("name" -> "first_row_id") ~
          ("type" -> JArray(List(JString("null"), JString("long")))) ~
          ("default" -> JNull) ~ ("field-id" -> 142))
    val dataFile =
      ("type" -> "record") ~ ("name" -> "r2") ~ ("fields" -> JArray(List(
        ("name" -> "content") ~ ("type" -> "int") ~ ("field-id" -> 134),
        ("name" -> "file_path") ~ ("type" -> "string") ~ ("field-id" -> 100),
        ("name" -> "file_format") ~ ("type" -> "string") ~ ("field-id" -> 101),
        ("name" -> "partition") ~
          ("type" -> (("type" -> "record") ~ ("name" -> "r102") ~
            ("fields" -> partitionFields))) ~ ("field-id" -> 102),
        ("name" -> "record_count") ~ ("type" -> "long") ~ ("field-id" -> 103),
        ("name" -> "file_size_in_bytes") ~ ("type" -> "long") ~ ("field-id" -> 104),
        // equality_ids: set on content=2 (equality delete) entries, null
        // for data and position-delete entries — the spec's optional
        // field-list column of the data_file struct
        ("name" -> "equality_ids") ~
          ("type" -> JArray(List(JString("null"),
            (("type" -> "array") ~ ("items" -> "int") ~
              ("element-id" -> 136)): JValue))) ~
          ("default" -> JNull) ~ ("field-id" -> 135)) ++ dvFields ++
        lineageFields))
    val entry =
      ("type" -> "record") ~ ("name" -> "manifest_entry") ~ ("fields" -> JArray(List(
        ("name" -> "status") ~ ("type" -> "int") ~ ("field-id" -> 0),
        ("name" -> "snapshot_id") ~
          ("type" -> JArray(List(JString("null"), JString("long")))) ~
          ("default" -> JNull) ~ ("field-id" -> 1),
        ("name" -> "sequence_number") ~
          ("type" -> JArray(List(JString("null"), JString("long")))) ~
          ("default" -> JNull) ~ ("field-id" -> 3),
        ("name" -> "file_sequence_number") ~
          ("type" -> JArray(List(JString("null"), JString("long")))) ~
          ("default" -> JNull) ~ ("field-id" -> 4),
        ("name" -> "data_file") ~ ("type" -> dataFile) ~ ("field-id" -> 2))))
    new Schema.Parser().parse(JsonMethods.compact(JsonMethods.render(entry)))
  }

  /** Stored (string) partition value → typed Avro value per the
    * transform's result type; the null sentinel → null. Time-transform
    * stored values ARE the Iceberg epoch indexes, so they parse
    * directly; identity dates stored as ISO text convert to epoch-day
    * ints. */
  private def partitionAvroValue(pf: PartField, stored: String, srcDt: DataType): Any =
    if (stored == graft.catalog.Snaplog.HiveDefaultPartition) null
    else pf match {
      case _: IdentityField => srcDt match {
        case IntegerType | ShortType | ByteType => Integer.valueOf(stored.toInt)
        case LongType => java.lang.Long.valueOf(stored.toLong)
        case DateType =>
          Integer.valueOf(java.time.LocalDate.parse(stored).toEpochDay.toInt)
        case _ => stored
      }
      case _: DaysField | _: HoursField | _: MonthsField | _: YearsField =>
        Integer.valueOf(stored.toInt)
      case _: BucketField => null // void transform: never a value
      case _: MBucketField => Integer.valueOf(stored.toInt)
      case _: TruncateField => srcDt match {
        case LongType =>
          // the one unrepresentable bucket: sources within W of
          // Long.MinValue truncate below the long range (stored in
          // decimal text); refuse loudly rather than wrap
          try java.lang.Long.valueOf(stored.toLong)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"truncate partition value $stored exceeds the long range " +
                "— not representable in an Iceberg manifest; compact the " +
                "affected partition or export without it") }
        case IntegerType | ShortType | ByteType => Integer.valueOf(stored.toInt)
        case _ => stored
      }
    }

  /** Spark type of one partition field in the PARTITION-STATISTICS
    * file's `partition` struct — the same result-type mapping the
    * manifest partition struct uses ([[partitionAvroType]]). */
  private def sparkPartType(pf: PartField, srcDt: DataType): DataType = pf match {
    case _: IdentityField => srcDt match {
      case IntegerType | ShortType | ByteType => IntegerType
      case LongType => LongType
      case DateType => DateType
      case _ => StringType
    }
    case _: DaysField => DateType
    case _: HoursField | _: MonthsField | _: YearsField => IntegerType
    case _: BucketField | _: MBucketField => IntegerType
    case _: TruncateField => srcDt match {
      case LongType => LongType
      case IntegerType | ShortType | ByteType => IntegerType
      case _ => StringType
    }
  }

  /** Stored (string) partition value → Spark EXTERNAL value for the
    * partition-statistics row (dates as java.sql.Date, otherwise the
    * manifest conversion's boxed values). */
  private def sparkPartValue(pf: PartField, stored: String, srcDt: DataType): Any =
    partitionAvroValue(pf, stored, srcDt) match {
      case i: Integer if sparkPartType(pf, srcDt) == DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.longValue()))
      case other => other
    }

  /** Every metadata/manifest file lands via temp-name + ATOMIC_MOVE
    * (round 16): [[RestServe.startLive]] re-exports on concurrent
    * request paths, and Avro rewrites are not byte-identical (random
    * sync markers), so an in-place truncate-then-write would let a
    * reader walking the PREVIOUS tree see an empty version-hint or a
    * torn manifest. With the move, a same-name file is either the old
    * complete content or the new complete content — both valid for
    * that snapshot — and the version-hint flip stays the publication
    * point. */
  private[interop] def writeAvro(file: Path, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord]): Unit = {
    val tmp = file.resolveSibling(file.getFileName.toString + ".tmp")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, tmp.toFile)
    try records.foreach(w.append) finally w.close()
    Files.move(tmp, file,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** [[writeAvro]] that SKIPS the write when the existing file was
    * produced from identical inputs — `fp` is an MD5 over everything
    * the records are built from, stamped into the Avro metadata and
    * compared header-only (no record iteration) on the next export.
    * Re-export-on-load ([[RestServe.startLive]]) re-walks the whole
    * history per commit; prior snapshots' manifests are derived from
    * append-only log content and rewrite byte-different (Avro sync
    * markers) without this, churning O(history) files per commit where
    * O(new commits) suffices — and in-flight readers of the old tree
    * never see even an atomic replace of content that didn't change. */
  private def writeAvroStable(file: Path, schema: Schema,
      meta: Seq[(String, String)], records: Seq[GenericRecord],
      fp: String): Unit = {
    val existing =
      if (!Files.exists(file)) None
      else try {
        val r = new DataFileReader[GenericRecord](file.toFile,
          new GenericDatumReader[GenericRecord]())
        try Option(r.getMetaString("graft-fingerprint")) finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    if (!existing.contains(fp))
      writeAvro(file, schema, meta :+ ("graft-fingerprint" -> fp), records)
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Iceberg JSON single-value for a folded default literal (v3
    * `initial-default` / `write-default`), for the primitive types the
    * exporter maps; anything else refuses — a wrong default silently
    * diverges external reads. */
  private def icebergSingleValue(v: Any, dt: DataType): JValue = (v, dt) match {
    case (null, _) => JNull
    case (b: java.lang.Boolean, BooleanType) => JBool(b)
    case (i: java.lang.Integer, IntegerType) => JInt(BigInt(i.intValue()))
    case (l: java.lang.Long, LongType) => JLong(l)
    case (f: java.lang.Float, FloatType) => JDouble(f.doubleValue())
    case (d: java.lang.Double, DoubleType) => JDouble(d)
    case (s, StringType) => JString(s.toString) // UTF8String
    case (d: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
      JDecimal(d.toBigDecimal)
    case (i: java.lang.Integer, DateType) =>
      JString(java.time.LocalDate.ofEpochDay(i.longValue()).toString)
    case (l: java.lang.Long, TimestampType) =>
      JString(java.time.Instant.EPOCH.plus(
        l.longValue(), java.time.temporal.ChronoUnit.MICROS).toString)
    case (other, t) => throw new IllegalArgumentException(
      s"default value $other of type ${t.simpleString} has no Iceberg " +
        "single-value mapping — export refused")
  }

  /** The folded VALUE of a default SQL text (the same constant folding
    * the add path ran), as the Catalyst internal value. */
  private def foldedValue(name: String, dt: DataType, sql: String): Any =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .getExistenceDefaultValue(
        graft.types.ColumnDefaults.foldedField(name, dt, sql))

  /** Export every snapshot of the table's history; the current snapshot
    * becomes `current-snapshot-id`. Returns counts for verification.
    *
    * `formatVersion = 3` lifts the existence-defaults gate: defaulted
    * columns export as the spec's `initial-default` (and write defaults
    * as `write-default`) WITHOUT the compact-first tax — v3 readers
    * fill files that predate the column exactly as graft's own readers
    * do. The v3 tree carries the required row-lineage bookkeeping
    * (`next-row-id`, per-snapshot `first-row-id`, explicit per-file
    * `first_row_id`), and the first v3 export PERSISTS the assignment
    * into the source snaplog ([[graft.catalog.Catalog.assignRowLineage]])
    * so re-exports never renumber rows under an external reader.
    *
    * WRITE SIDE EFFECT (v3 only, be deliberate about it): that
    * persistence pass means `export(formatVersion = 3)` of a table
    * with unassigned native files is NOT read-only — it rewrites the
    * source snaplog once (metadata-only, idempotent; subsequent v3
    * exports of the same history are pure reads). Consequences:
    * a v3 export from a READ-ONLY warehouse mount fails on that first
    * pass (run it once from a writable mount, or enableRowLineage()
    * up front); [[RestServe.startLive]] with `formatVersion = 3`
    * triggers it implicitly from its commit listener the first time it
    * publishes such a table; and the guarding table mutex is
    * per-JVM on [[graft.catalog.JdbcCatalog]] — a committer on a
    * DIFFERENT catalog instance can interleave with the walk→rewrite
    * window (benign for correctness because JdbcCatalog.replaceLog
    * preserves newer rows, but the interleaved commit's files are
    * assigned by its own commit path, not the backfill). v2 exports
    * never write to the source. Outstanding POSITION vectors export under
    * both versions (round 14): v2 as merged parquet position-delete
    * files, v3 as PUFFIN deletion vectors ([[Puffin]] — one
    * `deletion-vector-v1` blob per referenced data file, located by
    * the manifest entry's `referenced_data_file`/`content_offset`/
    * `content_size_in_bytes` columns, exactly the spec's v3 MOR form).
    * Equality deletes export as parquet under both versions. */
  def export(table: LakehouseTable, destDir: Path,
      formatVersion: Int = 2): Report = {
    require(formatVersion == 2 || formatVersion == 3,
      s"unsupported iceberg format-version $formatVersion")
    val metaDir = destDir.resolve("metadata")
    Files.createDirectories(metaDir)
    val cat = table.catalog
    val (ns, name) = (table.namespace, table.name)
    // OUTSTANDING merge-on-read deletes export as REAL v2 delete
    // manifests (round 13): position vectors merge-rewrite into spec
    // delete files (`row_index` → `pos`, reserved field-ids 2147483546/
    // 2147483545, paths stripped to the manifests' plain form), and
    // equality-delete key files are referenced IN PLACE with their key
    // field ids as `equality_ids` — no compact-first tax. Per-entry
    // sequence numbers are the GLOBAL listing index over the log, so
    // the spec's strictly-lower-sequence equality rule reproduces
    // graft's replay-order application exactly (each listing gets a
    // distinct sequence; data listed after a delete in the same commit
    // carries a higher one and survives, the mergeDelta contract).
    // Partition evolution: a live file predating the current spec holds
    // no value for its fields — the manifest would record a NULL
    // partition, and an Iceberg reader pruning on it would silently
    // skip real rows. Refuse; compaction rewrites under the current
    // spec. (Historical snapshots with mixed coverage are simply
    // skipped below, like delete-bearing ones.)
    locally {
      val specFields = graft.table.PartitionTransforms
        .parseAll(table.partitionColumns).map(_.fieldName)
      val mixed = cat.liveFiles(ns, name).filterNot(f =>
        specFields.forall(f.partitionValues.contains))
      require(mixed.isEmpty,
        s"cannot export $ns.$name: ${mixed.size} live file(s) predate the " +
          s"current partition spec (${table.partitionColumns.mkString(", ")}) " +
          s"and record no value for it — e.g. ${mixed.headOption.map(_.path).getOrElse("")}; " +
          "an exported NULL partition would mis-prune for external readers; " +
          "compact() first")
    }
    // Existence defaults are Iceberg v3 (`initial-default`); a v2 tree
    // cannot express them, so an external reader would null-fill the
    // files that predate the column while graft serves the default —
    // silent value divergence, worse than refusing. compact() rewrites
    // every file to physically carry the column and clears the gate
    // (the schema keeps serving the default for files it never sees);
    // historical snapshots whose live set still holds pre-add files are
    // skipped below, like delete-bearing ones.
    val defaultedCols =
      if (formatVersion >= 3) Seq.empty // v3 expresses initial-default
      else graft.types.ColumnDefaults.anyExistsDefaults(table.schema)
    val defaultLivePaths: Seq[String] =
      if (defaultedCols.isEmpty) Seq.empty
      else cat.liveFiles(ns, name).map(_.path)
    val defaultSafePaths: Set[String] =
      if (defaultedCols.isEmpty) Set.empty
      else {
        // parallel footer probe (no data pages), ONE open per file for
        // ALL defaulted columns — same shape as the rename gate's probe
        val wanted = defaultedCols.map(Seq(_))
        defaultLivePaths.zip(graft.util.Par.map(defaultLivePaths)(p =>
          graft.types.FieldIds.fileContainsAll(table.spark, p, wanted)))
          .filter(_._2).map(_._1).toSet
      }
    locally {
      lazy val missing = defaultLivePaths.filterNot(defaultSafePaths)
      require(defaultedCols.isEmpty || missing.isEmpty,
        s"cannot export $ns.$name: column(s) ${defaultedCols.mkString(", ")} " +
          "carry existence DEFAULTs (Iceberg v3 initial-default) that a " +
          "v2 tree cannot express, and " +
          s"${missing.size} live file(s) do not physically carry them — " +
          "external readers would null-fill where graft serves values; " +
          "compact() so every file carries the column, then retry")
    }
    val schema = table.schema
    // Exported schema ids MUST match the ids stamped into the parquet
    // files (graft's field-id registry): an Iceberg reader resolves
    // columns BY ID against the files, so an ordinal re-numbering after
    // a drop/rename would silently serve the wrong physical column. For
    // never-evolved tables the registry IS 1..n in schema order, so
    // this degenerates to the ordinal assignment.
    val registry = table.meta.properties
      .get(graft.types.FieldIds.RegistryProp).map(graft.types.FieldIds.decode)
      .getOrElse(Map.empty[String, Int])
    // list/map INTERIOR ids (round 14): declared from the table's
    // interior map so they match the file stamps and stay stable across
    // re-exports (see icebergTypeJson's scaladoc)
    val interiorReg = table.meta.properties
      .get(graft.types.FieldIds.InteriorProp).map(graft.types.FieldIds.decode)
      .getOrElse(Map.empty[String, Int])
    val fieldId = schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> registry.getOrElse(n, i + 1)
    }.toMap
    // untracked nested ids (un-mapped interiors, un-encodable subtrees)
    // allocate above BOTH maps' high-water mark — so fresh numbers never
    // collide with ids the files physically carry
    val idCounter = new java.util.concurrent.atomic.AtomicInteger(
      (fieldId.values ++ registry.values ++ interiorReg.values)
        .foldLeft(schema.fields.length)(_ max _))
    val nextNestedId: () => Int = () => idCounter.incrementAndGet()
    val fields = schema.fields.map { f =>
      val base = ("id" -> fieldId(f.name)) ~ ("name" -> f.name) ~
        ("required" -> !f.nullable) ~
        ("type" -> icebergTypeJson(f.dataType, nextNestedId,
          Some(f.name), registry, interiorReg))
      if (formatVersion < 3) base
      else {
        import graft.types.ColumnDefaults
        // v3: existence default → initial-default, write default →
        // write-default (both as spec JSON single-values)
        val withInitial =
          if (!ColumnDefaults.hasExistsDefault(f)) base
          else base ~ ("initial-default" -> icebergSingleValue(
            org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .getExistenceDefaultValue(f), f.dataType))
        ColumnDefaults.currentDefault(f) match {
          case Some(sql) => withInitial ~ ("write-default" ->
            icebergSingleValue(foldedValue(f.name, f.dataType, sql),
              f.dataType))
          case None => withInitial
        }
      }
    }
    val partFields = PartitionTransforms.parseAll(table.partitionColumns)
    // source-id resolves case-insensitively like every schema lookup
    def sourceId(c: String): Int = schema.fieldNames
      .find(_.equalsIgnoreCase(c)).map(fieldId).getOrElse(fieldId(c))
    val specFields = partFields.zipWithIndex.map { case (pf, i) =>
      ("name" -> pf.fieldName) ~ ("transform" -> icebergTransform(pf)) ~
        ("source-id" -> sourceId(pf.source)) ~ ("field-id" -> (1000 + i))
    }
    val schemaJson = JsonMethods.compact(JsonMethods.render(
      ("type" -> "struct") ~ ("schema-id" -> 0) ~ ("fields" -> fields.toList)))
    val specJson = JsonMethods.compact(JsonMethods.render(specFields.toList))
    val partCols: Seq[(PartField, DataType)] = partFields.map { pf =>
      pf -> schema.fields.find(_.name.equalsIgnoreCase(pf.source)).map(_.dataType)
        .getOrElse(StringType)
    }
    val entrySchema = manifestEntrySchema(partCols,
      withLineage = formatVersion >= 3)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partitionSchema = dataFileSchema.getField("partition").schema()

    // Exported history: every snapshot whose live set is expressible —
    // the spec-coverage and defaults gates still SKIP (their manifests
    // would misread externally), but delete-bearing snapshots now
    // EXPORT, carrying their outstanding merge-on-read state as v2
    // DELETE manifests. One liveFilesSplit replay per snapshot yields
    // the gate verdicts AND the manifest file lists; windowSnapshots
    // attributes each listing its global sequence index.
    // v3 row lineage PERSISTS at first export (round 16, the spec's
    // writer model): unassigned native files get their inheritance
    // assignment stamped INTO the snaplog once, so every re-export
    // publishes identical explicit first_row_ids — previously the
    // ranges re-derived from the current high-water mark each export,
    // and a refresh adopting higher source ids would renumber native
    // rows under external readers' feet. Idempotent; metadata-only.
    if (formatVersion >= 3 && cat.snapshots(ns, name).exists(_.files.exists(
        f => !f.deleteFile.contains(true) && f.firstRowId.isEmpty &&
          !f.lineageInFile.contains(true))))
      cat.assignRowLineage(ns, name)
    val allSnaps = cat.snapshots(ns, name)
      .filterNot(graft.catalog.Snaplog.isWapStaged)
    // Global LISTING index: every (snapshot, file-position) listing
    // gets a distinct, monotonically increasing sequence number. With
    // distinct per-entry sequences, the spec's strictly-lower-sequence
    // equality rule reproduces graft's replay-order application
    // exactly — same-commit [delete, data] shapes (mergeDelta) and
    // checkpoint folds included — because "listed earlier" and "lower
    // sequence" become the same relation.
    val listingIdx: Map[(Long, Int), Long] = {
      var i = 0L
      allSnaps.flatMap { sn =>
        sn.files.indices.map { j => i += 1; ((sn.snapshotId, j), i) }
      }.toMap
    }
    val snapHighIdx: Map[Long, Long] = {
      var i = 0L
      allSnaps.map { sn => i += sn.files.size; sn.snapshotId -> i }.toMap
    }
    // iterate the WAP-FILTERED list: a staged branch commit must neither
    // appear in the exported history (it is unpublished) nor be looked
    // up in the sequence maps above (which are keyed over allSnaps —
    // an unfiltered walk would throw on the first staged snapshot).
    // Outstanding POSITION state exports under both versions: v2 as
    // merged parquet position-delete files, v3 as puffin deletion
    // vectors (the spec mandates DVs there — see the puffin machinery
    // below), so neither version pays a compact-first tax.
    val snaps: Seq[(graft.catalog.Snapshot, Seq[graft.catalog.DataFileEntry],
        Seq[graft.catalog.DataFileEntry], Map[String, Long])] =
      allSnaps.flatMap { s =>
        val (live, dels) = cat.liveFilesSplit(ns, name, Some(s.snapshotId))
        val specOk = live.forall(f =>
          partCols.forall { case (pf, _) => f.partitionValues.contains(pf.fieldName) })
        // defaults gate (see above): a historical snapshot listing a
        // file that predates a defaulted column would null-fill
        // externally
        val defaultsOk = defaultedCols.isEmpty ||
          live.forall(f => defaultSafePaths(f.path))
        if (specOk && defaultsOk) {
          val window = cat.windowSnapshots(ns, name, Some(s.snapshotId))
            .filterNot(graft.catalog.Snaplog.isWapStaged)
          val idxByPath: Map[String, Long] = window.flatMap(w =>
            w.files.zipWithIndex.map { case (f, j) =>
              f.path -> listingIdx((w.snapshotId, j)) })
            .groupBy(_._1).map { case (p2, xs) => p2 -> xs.map(_._2).min }
          Some((s, live, dels, idxByPath))
        } else None
      }

    // ---- delete-manifest machinery -----------------------------------------
    // Deletes ride the UNPARTITIONED spec (global application — exactly
    // graft's position-vector and equality-delete semantics): spec-id 1
    // beside a partitioned data spec, spec-id 0 when the table itself is
    // unpartitioned (already empty).
    val delSpecId = if (specFields.isEmpty) 0 else 1
    val anyDeletes = snaps.exists(_._3.nonEmpty)
    // v3 delete manifests carry the deletion-vector locator columns
    // (referenced_data_file / content_offset / content_size_in_bytes)
    val delEntrySchema = manifestEntrySchema(Seq.empty,
      withDvFields = formatVersion >= 3)
    val delDataFileSchema = delEntrySchema.getField("data_file").schema()
    val delPartitionSchema = delDataFileSchema.getField("partition").schema()
    // Merged position-delete file per distinct live-vector SET (history
    // re-listing the same vectors across snapshots pays one rewrite):
    // `row_index` → the spec's `pos`, reserved delete-file field-ids
    // 2147483546/2147483545 stamped, and the vectors' recorded paths
    // (any equivalent form: `file:/…`, `file:///…`, bare) normalized
    // to the PLAIN form the data manifests record — external readers
    // string-match delete file_path against data file_path. Vector
    // rows sort by (file_path, pos) as the spec requires. Delete files
    // are predicate-sized; the data files stay untouched in place.
    // v3 sibling of the parquet cache below: one PUFFIN file per
    // distinct live-vector SET, one deletion-vector-v1 blob per
    // referenced data file (the spec's v3 position-delete form — v3
    // forbids parquet position-delete files). Vector rows collect to
    // the driver (predicate-sized: bounded by deleted-row count, never
    // data-sized), group by referenced file, and bitmap-encode; blob
    // locators return for the manifest entries. Paths strip back to
    // the manifests' plain form like the parquet leg.
    val puffinCache = scala.collection.mutable.Map.empty[
      Seq[String], (String, Long, Seq[(String, Long, Long, Long)])]
    def puffinDvs(vecs: Seq[graft.catalog.DataFileEntry],
        snapshotId: Long, seq: Long): (String, Long, Seq[(String, Long, Long, Long)]) = {
      val key = vecs.map(_.path).sorted
      puffinCache.getOrElseUpdate(key, {
        val spark = table.spark
        val delDir = destDir.resolve("deletes")
        Files.createDirectories(delDir)
        val out = delDir.resolve(s"dv-${puffinCache.size}.puffin")
        val rows = spark.read.parquet(key: _*)
          .select("file_path", "row_index").collect()
        val dvs = rows
          .groupBy(r => graft.table.FileStats.normalizePath(r.getString(0)))
          .toSeq.sortBy(_._1)
          .map { case (plain, rs) =>
            val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
            rs.foreach(r => bm.addLong(r.getLong(1)))
            (plain, bm)
          }
        val blobs = Puffin.writeDeletionVectors(out, dvs, snapshotId, seq)
        (out.toString, Files.size(out), blobs)
      })
    }
    val posFileCache =
      scala.collection.mutable.Map.empty[Seq[String], (String, Long, Long)]
    def mergedPosDelete(
        vecs: Seq[graft.catalog.DataFileEntry]): (String, Long, Long) = {
      val key = vecs.map(_.path).sorted
      posFileCache.getOrElseUpdate(key, {
        val spark = table.spark
        import org.apache.spark.sql.functions.{broadcast, col}
        import spark.implicits._
        val delDir = destDir.resolve("deletes")
        Files.createDirectories(delDir)
        val outDir = delDir.resolve(s"pos-del-${posFileCache.size}")
        val raw = spark.read.parquet(key: _*)
        val mapping = broadcast(raw.select("file_path").coalesce(1).distinct().collect()
          .map(_.getString(0)).toSeq
          .map(r => (r, graft.table.FileStats.normalizePath(r)))
          .toDF("file_path", "__plain"))
        def md(id: Long) = new org.apache.spark.sql.types.MetadataBuilder()
          .putLong(graft.types.FieldIds.MetaKey, id).build()
        // coalesce(1), not repartition(1) (round 18): the single-file
        // spec-shape rewrite of a predicate-sized vector needs no
        // exchange — one task reads, sorts and writes
        raw.join(mapping, Seq("file_path"))
          .select(col("__plain").as("file_path", md(2147483546L)),
            col("row_index").cast("long").as("pos", md(2147483545L)))
          .coalesce(1).sortWithinPartitions("file_path", "pos")
          .write.format(graft.table.ManagedParquetFormat.Name)
          .mode("overwrite").save(outDir.toString)
        val p2 = graft.table.FileStats.listParquet(outDir.toString).head
        val st = graft.table.FileStats.stat(spark, p2, Map.empty)
        (p2, st.rowCount, st.sizeBytes)
      })
    }

    var manifests = 0
    var dataFiles = 0L
    var totalRecords = 0L
    var deleteFilesOut = 0L
    val snapshotJsons = snaps.map { case (s, live, dels, idxByPath) =>
      def seqOf(path: String): Long =
        idxByPath.getOrElse(path, snapHighIdx(s.snapshotId))
      // manifest: one ADDED entry per live data file of the snapshot
      val entries = live.map { f =>
        val part = new GenericData.Record(partitionSchema)
        partCols.foreach { case (pf, dt) =>
          part.put(pf.fieldName, f.partitionValues.get(pf.fieldName)
            .map(partitionAvroValue(pf, _, dt)).orNull)
        }
        val df = new GenericData.Record(dataFileSchema)
        df.put("content", 0) // 0 = DATA
        df.put("file_path", f.path)
        df.put("file_format", "PARQUET")
        df.put("partition", part)
        df.put("record_count", f.rowCount)
        df.put("file_size_in_bytes", f.sizeBytes)
        df.put("equality_ids", null)
        // v3: a carried row-lineage assignment publishes EXPLICITLY —
        // re-exports never renumber adopted rows
        if (formatVersion >= 3)
          df.put("first_row_id", f.firstRowId.map(Long.box).orNull)
        val e = new GenericData.Record(entrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", s.snapshotId)
        e.put("sequence_number", seqOf(f.path))
        e.put("file_sequence_number", seqOf(f.path))
        e.put("data_file", df)
        e
      }
      val manifestName = s"manifest-${s.snapshotId}.avro"
      // fingerprint = everything the entries are built from: a prior
      // snapshot's manifest re-derives identically from the append-only
      // log unless the schema/spec evolved or history was expired
      // (listing indexes shift) — writeAvroStable skips those rewrites
      val manifestFp = md5(Seq(formatVersion, schemaJson, specJson,
        s.snapshotId).mkString("|") + "|" +
        live.map(f => Seq(f.path, seqOf(f.path), f.rowCount, f.sizeBytes,
          f.firstRowId.getOrElse(-1L), f.lineageInFile.contains(true),
          f.partitionValues.toSeq.sorted.mkString(",")).mkString("^"))
          .mkString(";"))
      writeAvroStable(metaDir.resolve(manifestName), entrySchema,
        Seq("schema" -> schemaJson, "schema-id" -> "0",
          "partition-spec" -> specJson, "partition-spec-id" -> "0",
          "format-version" -> formatVersion.toString, "content" -> "data"),
        entries, manifestFp)
      manifests += 1
      // delete manifest: the snapshot's outstanding MOR state
      val delManifest: Option[(String, Int, Long, Long, Long)] =
        if (dels.isEmpty) None
        else {
          val posVecs = dels.filter(_.equalityKey.isEmpty)
          val eqDels = dels.filter(_.equalityKey.isDefined)
          def delEntry(content: Int, path: String, rows: Long, bytes: Long,
              seq: Long, eqIds: Option[Seq[Int]],
              dv: Option[(String, Long, Long)] = None): GenericData.Record = {
            val df = new GenericData.Record(delDataFileSchema)
            df.put("content", content)
            df.put("file_path", path)
            df.put("file_format", if (dv.isDefined) "PUFFIN" else "PARQUET")
            df.put("partition", new GenericData.Record(delPartitionSchema))
            df.put("record_count", rows)
            df.put("file_size_in_bytes", bytes)
            df.put("equality_ids", eqIds.map(ids =>
              java.util.Arrays.asList(ids.map(Integer.valueOf(_)): _*)).orNull)
            dv.foreach { case (ref, off, len) =>
              df.put("referenced_data_file", ref)
              df.put("content_offset", off)
              df.put("content_size_in_bytes", len)
            }
            val e = new GenericData.Record(delEntrySchema)
            e.put("status", 1)
            e.put("snapshot_id", s.snapshotId)
            e.put("sequence_number", seq)
            e.put("file_sequence_number", seq)
            e.put("data_file", df)
            e
          }
          // merged vector: its sequence is the NEWEST member vector's —
          // position deletes apply to data with sequence <= theirs, and
          // a vector can only name rows of files that existed when it
          // was written, so the widened window admits no false match.
          // v2 → one merged parquet position-delete file; v3 → one
          // puffin file, one DV entry PER REFERENCED DATA FILE
          // (record_count = the blob's cardinality, per spec).
          val posLeg =
            if (posVecs.isEmpty) Seq.empty
            else if (formatVersion >= 3) {
              val seq = posVecs.map(v => seqOf(v.path)).max
              val (pPath, pSize, blobs) = puffinDvs(posVecs, s.snapshotId, seq)
              blobs.map { case (ref, off, len, card) =>
                (delEntry(1, pPath, card, pSize, seq, None,
                  dv = Some((ref, off, len))), seq, card)
              }
            } else {
              val (p2, rows, bytes) = mergedPosDelete(posVecs)
              val seq = posVecs.map(v => seqOf(v.path)).max
              Seq((delEntry(1, p2, rows, bytes, seq, None), seq, rows))
            }
          val eqLeg = eqDels.map { f =>
            val ids = graft.table.EqDeletes.keyCols(f).map(sourceId)
            val seq = seqOf(f.path)
            (delEntry(2, f.path, f.rowCount, f.sizeBytes, seq, Some(ids)),
              seq, f.rowCount)
          }
          val all = posLeg ++ eqLeg
          val delName = s"manifest-${s.snapshotId}-deletes.avro"
          writeAvro(metaDir.resolve(delName), delEntrySchema,
            Seq("schema" -> schemaJson, "schema-id" -> "0",
              "partition-spec" -> "[]",
              "partition-spec-id" -> delSpecId.toString,
              "format-version" -> formatVersion.toString,
              "content" -> "deletes"),
            all.map(_._1))
          manifests += 1
          Some((delName, all.size, all.map(_._2).max, all.map(_._2).min,
            all.map(_._3).sum))
        }
      if (s.snapshotId == snaps.last._1.snapshotId) {
        dataFiles = live.size.toLong
        totalRecords = live.map(_.rowCount).sum
        deleteFilesOut = delManifest.map(_._2.toLong).getOrElse(0L)
      }
      // manifest list: one manifest_file record per manifest
      val dataSeqs = live.map(f => seqOf(f.path))
      val mf = new GenericData.Record(ManifestFileSchema)
      mf.put("manifest_path", metaDir.resolve(manifestName).toString)
      mf.put("manifest_length", Files.size(metaDir.resolve(manifestName)))
      mf.put("partition_spec_id", 0)
      mf.put("content", 0) // 0 = data manifests
      mf.put("sequence_number",
        if (dataSeqs.nonEmpty) dataSeqs.max else snapHighIdx(s.snapshotId))
      mf.put("min_sequence_number", if (dataSeqs.nonEmpty) dataSeqs.min else 0L)
      mf.put("added_snapshot_id", s.snapshotId)
      mf.put("added_files_count", live.size)
      mf.put("existing_files_count", 0)
      mf.put("deleted_files_count", 0)
      mf.put("added_rows_count", live.map(_.rowCount).sum)
      mf.put("existing_rows_count", 0L)
      mf.put("deleted_rows_count", 0L)
      val delMf = delManifest.map { case (delName, n, mx, mn, rows) =>
        val r = new GenericData.Record(ManifestFileSchema)
        r.put("manifest_path", metaDir.resolve(delName).toString)
        r.put("manifest_length", Files.size(metaDir.resolve(delName)))
        r.put("partition_spec_id", delSpecId)
        r.put("content", 1) // 1 = delete manifests
        r.put("sequence_number", mx)
        r.put("min_sequence_number", mn)
        r.put("added_snapshot_id", s.snapshotId)
        r.put("added_files_count", n)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", rows)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        r
      }
      val listName = s"snap-${s.snapshotId}.manifest-list.avro"
      // list fingerprint covers the data-manifest identity (its input
      // fingerprint + on-disk length) and the delete leg — a skipped
      // manifest implies an unchanged list entry
      val listFp = md5(Seq(formatVersion, s.snapshotId, s.parentId,
        snapHighIdx(s.snapshotId), manifestFp,
        Files.size(metaDir.resolve(manifestName)),
        delManifest.map { case (dn, n, mx, mn, rows) =>
          Seq(dn, Files.size(metaDir.resolve(dn)), n, mx, mn, rows)
            .mkString("^")
        }.getOrElse("nodel")).mkString("|"))
      writeAvroStable(metaDir.resolve(listName), ManifestFileSchema,
        Seq("snapshot-id" -> s.snapshotId.toString,
          "parent-snapshot-id" -> s.parentId.map(_.toString).getOrElse("null"),
          "sequence-number" -> snapHighIdx(s.snapshotId).toString,
          "format-version" -> formatVersion.toString),
        Seq(mf) ++ delMf, listFp)
      ("snapshot-id" -> s.snapshotId) ~
        ("parent-snapshot-id" -> s.parentId.map(JLong(_)).getOrElse(JNothing: JValue)) ~
        ("sequence-number" -> snapHighIdx(s.snapshotId)) ~
        ("timestamp-ms" -> s.timestampMs) ~
        ("summary" -> (("operation" ->
          (if (s.operation == "add_files" || s.operation == "append") "append"
           else if (s.operation == graft.catalog.Snaplog.OpMorDelete ||
             s.operation == graft.catalog.Snaplog.OpEqDelete) "delete"
           else "overwrite")) ~ ("graft-operation" -> s.operation))) ~
        ("manifest-list" -> metaDir.resolve(listName).toString) ~
        ("schema-id" -> 0)
    }

    val m = table.meta
    // table-uuid must be stable across re-exports of the same table:
    // derive it from the identity, not a random source
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"graft:$ns.$name".getBytes(StandardCharsets.UTF_8)).toString
    // v3 row lineage: files CARRYING an assignment (adopted imports,
    // native lineage commits, the persistence pass above) publish it
    // explicitly (first_row_id in their manifest entries). Under v3
    // the pass above leaves no unassigned data files, so these
    // counters degenerate to "max assigned"; the inheritance walk is
    // kept for the v2 path (which exports no lineage) and as the
    // defensive fallback.
    val maxAssigned: Long = allSnaps.flatMap(_.files)
      .filterNot(_.deleteFile.contains(true))
      .flatMap(e => e.firstRowId.map(_ + e.rowCount))
      .maxOption.getOrElse(0L)
    val snapFirstRow: Map[Long, Long] = {
      var unassigned = 0L
      allSnaps.map { sn =>
        val mine = maxAssigned + unassigned
        unassigned += sn.files.filterNot(_.deleteFile.contains(true))
          .filter(f => f.firstRowId.isEmpty && !f.lineageInFile.contains(true))
          .map(_.rowCount).sum
        sn.snapshotId -> mine
      }.toMap
    }
    val nextRowId: Long = maxAssigned + allSnaps
      .flatMap(_.files.filterNot(_.deleteFile.contains(true)))
      .filter(f => f.firstRowId.isEmpty && !f.lineageInFile.contains(true))
      .map(_.rowCount).sum
    // ANALYZE statistics (spec `statistics` field): the native stats
    // file IS a spec-shaped puffin of `apache-datasketches-theta-v1`
    // blobs whose field ids are the registry ids — the same ids this
    // export declares — and whose snapshot-id/sequence-number follow
    // the same published-file-count model as snapHighIdx, so the file
    // copies VERBATIM into the exported tree. Entries only publish
    // when the analyzed snapshot is part of the exported history
    // (stats are advisory; an expired or staged snapshot's stats are
    // silently omitted, never exported dangling).
    val statsJson: JValue = {
      import graft.table.TableStats
      val exportedIds = snaps.map(_._1.snapshotId).toSet
      (table.meta.properties.get(TableStats.PathProp),
        table.meta.properties.get(TableStats.SnapshotProp).map(_.toLong)) match {
        case (Some(p), Some(sid)) if exportedIds.contains(sid) &&
            Files.isRegularFile(Paths.get(p)) =>
          val dest = metaDir.resolve(s"stats-$sid.puffin")
          val tmpStats = dest.resolveSibling(dest.getFileName.toString + ".tmp")
          Files.copy(Paths.get(p), tmpStats,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmpStats, dest,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          val blobs = Puffin.readFooter(dest)
          JArray(List(
            ("snapshot-id" -> sid) ~
              ("statistics-path" -> dest.toString) ~
              ("file-size-in-bytes" -> Files.size(dest)) ~
              ("file-footer-size-in-bytes" -> Puffin.footerSize(dest)) ~
              ("blob-metadata" -> blobs.map { b =>
                ("type" -> b.tpe) ~
                  ("snapshot-id" -> b.snapshotId.getOrElse(sid)) ~
                  ("sequence-number" -> b.sequenceNumber
                    .getOrElse(snapHighIdx(sid))) ~
                  ("fields" -> b.fields.toList) ~
                  ("properties" -> JObject(b.properties.toList.map {
                    case (k, v) => k -> (JString(v): JValue)
                  })): JValue
              }.toList)))
        case _ => JNothing
      }
    }
    // PARTITION STATISTICS file (spec `partition-statistics`): one
    // typed parquet row per partition of the CURRENT snapshot —
    // partition struct under the spec's field ids (1000+i inside,
    // 1..5 outside), counts straight from the log (no data I/O; the
    // file is #partitions rows at any table size). Emitted only for
    // partitioned tables with an exported current snapshot; coverage
    // is uniform here by the data-manifest gates.
    val partitionStatsJson: JValue =
      if (partCols.isEmpty || snaps.isEmpty) JNothing
      else {
        val curId = snaps.last._1.snapshotId
        val (live, _) = cat.liveFilesSplit(ns, name, Some(curId))
        val groups = live.groupBy(f => partCols.map { case (pf, _) =>
          f.partitionValues.getOrElse(pf.fieldName,
            graft.catalog.Snaplog.HiveDefaultPartition) })
        val structFields = partCols.map { case (pf, dt) =>
          StructField(pf.fieldName, sparkPartType(pf, dt), nullable = true) }
        val statsSchema = StructType(Seq(
          StructField("partition", StructType(structFields), nullable = false),
          StructField("spec_id", IntegerType, nullable = false),
          StructField("data_record_count", LongType, nullable = false),
          StructField("data_file_count", IntegerType, nullable = false),
          StructField("total_data_file_size_in_bytes", LongType,
            nullable = false)))
        val idReg: Map[String, Int] = Map(
          "partition" -> 1, "spec_id" -> 2, "data_record_count" -> 3,
          "data_file_count" -> 4, "total_data_file_size_in_bytes" -> 5) ++
          partCols.zipWithIndex.map { case ((pf, _), i) =>
            s"partition.${pf.fieldName}" -> (1000 + i) }
        val rows = groups.toSeq
          .sortBy(_._1.mkString("\u0000"))
          .map { case (vals, fs) =>
            org.apache.spark.sql.Row(
              org.apache.spark.sql.Row(partCols.zip(vals).map {
                case ((pf, dt), v) => sparkPartValue(pf, v, dt) }: _*),
              0, fs.map(_.rowCount).sum, fs.size, fs.map(_.sizeBytes).sum)
          }
        val spark = table.spark
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          graft.types.FieldIds.attachAll(statsSchema, idReg))
        val tmp = Files.createTempDirectory("graft-pstats")
        df.coalesce(1).write.format(graft.table.ManagedParquetFormat.Name)
          .mode("overwrite").save(tmp.toString)
        val part = graft.util.Fs.walkList(tmp)
          .find(_.getFileName.toString.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            "partition-statistics write produced no parquet"))
        val dest = metaDir.resolve(s"partition-stats-$curId.parquet")
        val tmpPart = dest.resolveSibling(dest.getFileName.toString + ".tmp")
        Files.copy(part, tmpPart,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmpPart, dest,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.util.Fs.walkList(tmp).reverse.foreach(Files.deleteIfExists(_))
        JArray(List(
          ("snapshot-id" -> curId) ~
            ("statistics-path" -> dest.toString) ~
            ("file-size-in-bytes" -> Files.size(dest))))
      }
    val metadata =
      ("format-version" -> formatVersion) ~
        ("table-uuid" -> uuid) ~
        ("location" -> destDir.toString) ~
        ("last-sequence-number" -> snaps.lastOption
          .map(x => snapHighIdx(x._1.snapshotId)).getOrElse(0L)) ~
        ("last-updated-ms" -> snaps.lastOption.map(_._1.timestampMs)
          .getOrElse(m.createdAtMs)) ~
        ("last-column-id" -> idCounter.get()) ~ // covers nested ids too
        ("schemas" -> List(
          ("schema-id" -> 0) ~ ("type" -> "struct") ~ ("fields" -> fields.toList))) ~
        ("current-schema-id" -> 0) ~
        ("partition-specs" -> (List(
          ("spec-id" -> 0) ~ ("fields" -> specFields.toList)) ++
          // the UNPARTITIONED spec delete manifests ride (global
          // application); only materialized when needed and distinct
          (if (anyDeletes && delSpecId == 1)
            List(("spec-id" -> 1) ~ ("fields" -> List.empty[JValue]))
          else Nil))) ~
        ("default-spec-id" -> 0) ~
        ("last-partition-id" -> (999 + specFields.length)) ~
        ("statistics" -> statsJson) ~
        ("partition-statistics" -> partitionStatsJson) ~
        // stats properties never export: the path is warehouse-local
        // and the summary/snapshot ride the spec `statistics` field
        ("properties" -> JObject((m.properties -- Seq(
          "schema.name-mapping.default",
          graft.table.TableStats.PathProp,
          graft.table.TableStats.SnapshotProp,
          graft.table.TableStats.SummaryProp)).toList.map {
          case (k, v) => k -> (JString(v): JValue)
        } :+ ("schema.name-mapping.default" ->
          // the spec's fallback for resolving fields data files carry
          // no id for (graft files: everything below the top level;
          // add_files registrations: every field)
          (JString(JsonMethods.compact(JsonMethods.render(
            nameMapping(fields.toList)))): JValue)))) ~
        ("current-snapshot-id" -> snaps.lastOption.map(_._1.snapshotId).getOrElse(-1L)) ~
        ("next-row-id" -> (if (formatVersion >= 3) JLong(nextRowId)
          else JNothing: JValue)) ~
        ("snapshots" -> (if (formatVersion < 3) snapshotJsons.toList
          else snaps.zip(snapshotJsons).map { case ((sn, _, _, _), j) =>
            j.asInstanceOf[JObject] ~
              ("first-row-id" -> snapFirstRow(sn.snapshotId))
          }.toList)) ~
        // `write.sort-order=c1,c2` declares as a REAL Iceberg sort
        // order (identity/asc/nulls-first — exactly what the managed
        // write's repartitionByRange+sortWithinPartitions produces for
        // new files). Table-level default = WRITE INTENT per the spec;
        // per-file sort_order_id stays unset because pre-property
        // files carry no sort guarantee — honest, and external
        // planners still pick up the clustering intent. Unknown
        // columns (a stale property) degrade to the unsorted order
        // rather than exporting a dangling source-id.
        ("sort-orders" -> {
          val unsorted = ("order-id" -> 0) ~ ("fields" -> List.empty[JValue])
          sortOrderCols(m.properties, fieldId) match {
            case Some(cols) => List(unsorted,
              ("order-id" -> 1) ~ ("fields" -> cols.map { c =>
                ("transform" -> "identity") ~
                  ("source-id" -> fieldId(c)) ~
                  ("direction" -> "asc") ~
                  ("null-order" -> "nulls-first"): JValue
              }.toList))
            case None => List(unsorted)
          }
        }) ~
        ("default-sort-order-id" ->
          (if (sortOrderCols(m.properties, fieldId).isDefined) 1 else 0))

    val version = snaps.lastOption.map(_._1.snapshotId).getOrElse(0L)
    val metaFile = metaDir.resolve(s"v$version.metadata.json")
    write(metaFile, JsonMethods.pretty(JsonMethods.render(metadata)))
    write(metaDir.resolve("version-hint.text"), version.toString)
    Report(metaFile, snaps.size, manifests, dataFiles, totalRecords,
      deleteFilesOut)
  }

  /** Columns of a declared `write.sort-order` property, when every one
    * resolves to an exported field id — the gate that keeps a stale
    * property from exporting a dangling source-id. */
  private def sortOrderCols(props: Map[String, String],
      fieldId: Map[String, Int]): Option[Seq[String]] =
    props.get("write.sort-order")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(cs => cs.nonEmpty && cs.forall(fieldId.contains))

  /** Parsed-back view of an export, for verification: walk
    * version-hint → metadata.json → current snapshot's AVRO manifest
    * list → AVRO manifest → data files, exactly as a third-party
    * Iceberg reader would. */
  final case class ReadBack(
      formatVersion: Int,
      nSchemaFields: Int,
      nSpecFields: Int,
      nSnapshots: Int,
      currentOperation: String,
      nDataFiles: Int,
      totalRecords: Long,
      dataFilesExist: Boolean,
      nPositionDeleteFiles: Int = 0,
      nEqualityDeleteFiles: Int = 0,
      deleteRecords: Long = 0L)

  private def readAvro(file: Path): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](file.toFile,
      new GenericDatumReader[GenericRecord]())
    try r.iterator.asScala.toSeq finally r.close()
  }

  def readBack(destDir: Path): ReadBack = {
    implicit val fmts: Formats = DefaultFormats
    val metaDir = destDir.resolve("metadata")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim
    val meta = JsonMethods.parse(Files.readString(
      metaDir.resolve(s"v$version.metadata.json")))
    val formatVersion = (meta \ "format-version").extract[Int]
    val nSchemaFields = (meta \ "schemas").asInstanceOf[JArray].arr.headOption
      .map(s => (s \ "fields").asInstanceOf[JArray].arr.size).getOrElse(0)
    val nSpecFields = (meta \ "partition-specs").asInstanceOf[JArray].arr.headOption
      .map(s => (s \ "fields").asInstanceOf[JArray].arr.size).getOrElse(0)
    val snapshots = (meta \ "snapshots").asInstanceOf[JArray].arr
    val currentId = (meta \ "current-snapshot-id").extract[Long]
    val current = snapshots.find(s => (s \ "snapshot-id").extract[Long] == currentId)
      .getOrElse(throw new IllegalStateException("current snapshot missing"))
    val listPath = (current \ "manifest-list").extract[String]
    val manifestRecs = readAvro(java.nio.file.Paths.get(listPath))
    def mfContent(r: GenericRecord): Int =
      if (r.getSchema.getField("content") == null) 0
      else r.get("content").asInstanceOf[Int]
    val (dataMfs, delMfs) = manifestRecs.partition(mfContent(_) == 0)
    def liveEntries(mfs: Seq[GenericRecord]): Seq[GenericRecord] =
      mfs.map(_.get("manifest_path").toString)
        .flatMap(mp => readAvro(java.nio.file.Paths.get(mp)))
        .filter(_.get("status").asInstanceOf[Int] != 2) // 2 = DELETED
    val files = liveEntries(dataMfs)
      .map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        (df.get("file_path").toString, df.get("record_count").asInstanceOf[Long])
      }
    val delFiles = liveEntries(delMfs)
      .map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        (df.get("content").asInstanceOf[Int],
          df.get("record_count").asInstanceOf[Long])
      }
    ReadBack(
      formatVersion = formatVersion,
      nSchemaFields = nSchemaFields,
      nSpecFields = nSpecFields,
      nSnapshots = snapshots.size,
      currentOperation = (current \ "summary" \ "operation").extract[String],
      nDataFiles = files.size,
      totalRecords = files.map(_._2).sum,
      dataFilesExist = files.forall(f =>
        Files.exists(java.nio.file.Paths.get(f._1))),
      nPositionDeleteFiles = delFiles.count(_._1 == 1),
      nEqualityDeleteFiles = delFiles.count(_._1 == 2),
      deleteRecords = delFiles.map(_._2).sum)
  }

  /** Atomic text write (see [[writeAvro]]'s scaladoc): version-hint and
    * metadata documents flip, never tear, under concurrent readers. */
  private def write(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}
