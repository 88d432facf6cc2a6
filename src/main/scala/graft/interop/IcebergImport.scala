package graft.interop

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.{Catalog, DataFileEntry, Snaplog, Snapshot}
import graft.table.{FileStats, LakehouseTable}

/** External Iceberg-v2 READ (import) — the inverse of
  * [[IcebergExport]], closing the interop loop the reference runs in
  * both directions (PyIceberg writes a metadata tree, DuckDB's
  * `iceberg_scan` consumes one, `query_iceberg_duckdb.py:21-29`):
  * walk a foreign `metadata/` tree — version-hint → metadata.json →
  * Avro manifest-list → Avro manifests — and register the CURRENT
  * snapshot's data files as a NEW graft table through the same
  * metadata-only path `add_files` uses.
  *
  * Zero data movement: data files are referenced in place, row counts
  * and sizes come from the manifests, identity-partition tuples map
  * onto the log's partition metadata (so partition pruning works on
  * the imported table immediately). Import cost is metadata-sized at
  * any table size — a 100 TB Iceberg table imports by parsing its
  * manifests, never by touching a data page. Optional
  * `statFooters = true` adds a footer-only pass per data file to
  * recover column [min,max] bounds for stat-based file skipping (the
  * manifests' binary bound maps are not parsed).
  *
  * Partition specs import at full transform fidelity where the
  * semantics match graft's own: `identity`, `day`, `hour`, `month`,
  * `year` (epoch-index values — graft's stored form exactly) and
  * `truncate[w]` reconstruct the corresponding graft spec, so a
  * PyIceberg-written day-partitioned table prunes immediately after
  * import. `void` fields carry no information and are dropped from
  * the spec (the shape graft's own export gives xxhash64 bucket
  * fields). `bucket[n]` imports as graft's `mbucket(n,col)` — the
  * SAME murmur3_x86_32 spec hash ([[graft.functions.IcebergBucketImpl]],
  * Appendix-B vectors pinned in SnaplogSpec), so a PyIceberg-written
  * bucket tree's stored indexes are exactly what graft's write and
  * prune sides compute.
  *
  * Nested (struct/list/map) columns import at full shape — graft
  * resolves nested CONTENT by name in every plan shape (only top-level
  * roots are ever id-matched, and renaming a nested root is refused),
  * so the tree's nested field-ids need no tracking.
  *
  * MERGE-ON-READ state imports too (round 13): position-delete files
  * (content=1) rewrite into one graft MOR vector — `pos` → `row_index`
  * and recorded paths normalized to the plain paths the data entries
  * carry — and equality-delete files (content=2) register as graft
  * equality-delete entries (identity-partition-scoped ones rewrite as
  * keys × the partition literal; the composite key IS the scope).
  * Commit order reconstructs the spec's sequence-number semantics:
  * equality deletes interleave with data files by sequence, deletes
  * first at equal sequence, so graft's replay-order application
  * reproduces the strictly-lower-sequence rule. The first scan after
  * import nets out the foreign tree's deletes exactly — real
  * Flink/Spark-Iceberg CDC trees import without a foreign compaction.
  *
  * LIVE trees stay adopted (round 14): [[refresh]] re-walks the source
  * tree and lands everything committed since the recorded import
  * watermark as native delta commits — appended data files as a
  * metadata-only add, new delete files as MOR entries, and a foreign
  * rewrite (compaction / overwrite / expired deletes) as one reset
  * commit replacing the mirror's content. The reference's reader
  * always sees the source's LATEST snapshot
  * (`query_iceberg_duckdb.py:21-29`); with refresh, graft's adopted
  * tables do too, without re-registering under a new name.
  *
  * Honest refusals, all failing BEFORE any catalog mutation:
  * delete-file formats outside parquet/puffin (and puffin equality
  * deletes, which the spec does not define — v3 puffin DELETION
  * VECTORS import since round 14, decoded by [[Puffin]]), equality ids
  * naming nested fields, NULL key values in an equality delete
  * (Iceberg's null-matching equality vs graft's null-rejecting keys),
  * equality deletes scoped to non-identity partitions, equality
  * deletes without usable sequence numbers, non-parquet data files,
  * primitive types the spec names that graft cannot represent
  * exactly, and trees mixing id-stamped with id-less data files (no
  * single resolution mode — see `register`'s probe). Refresh ADOPTS
  * the routine source evolutions in place (appended
  * nullable-or-defaulted columns, partition-spec evolution, legal type
  * widenings, and — on a read-by-id mirror — id-matched renames and
  * drops at every level: flat, struct-chain, list/map interior); what
  * still refuses with re-register guidance: an illegal retype, a
  * reorder, a changed field id under a kept name, renames/drops
  * against a name-bound mirror, an expired watermark snapshot, and a
  * source rewrite whose reset would discard native mirror commits.
  */
object IcebergImport {

  final case class Report(
      table: LakehouseTable,
      snapshot: Snapshot,
      schema: StructType,
      partitionColumns: Seq[String],
      dataFiles: Int,
      totalRecords: Long,
      positionDeleteFiles: Int = 0,
      equalityDeleteFiles: Int = 0)

  /** Outcome of one [[refresh]] pass. `snapshot` is None on a no-op
    * (source unchanged since the watermark); `reset` marks the
    * replace-everything path a foreign rewrite forces. */
  final case class RefreshReport(
      table: LakehouseTable,
      snapshot: Option[Snapshot],
      fromSourceSnapshotId: Long,
      toSourceSnapshotId: Long,
      dataFilesAdded: Int,
      positionDeleteFiles: Int,
      equalityDeleteFiles: Int,
      reset: Boolean,
      commits: Int = 1)

  /** Table property: source `metadata/` dir recorded at register. */
  val ImportedFromProp = "iceberg.imported-from"
  /** Table property: source snapshot id last synced (the watermark). */
  val ImportedSnapshotProp = "iceberg.imported-snapshot-id"
  /** Table property: GRAFT snapshot id of the last register/refresh
    * commit — the reset path refuses when the table advanced past it
    * with real (non-checkpoint, non-WAP) commits a reset would drop. */
  val SyncSnapshotProp = "iceberg.sync-snapshot-id"

  /** Inverse of IcebergExport.icebergType for the primitive types the
    * spec names. Anything else refuses — imported schemas must read
    * back exactly. */
  private def sparkType(s: String): DataType = s match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamp" | "timestamptz" => TimestampType
    case d if d.startsWith("decimal(") =>
      val Array(p, sc) = d.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, sc)
    case other => throw new IllegalArgumentException(
      s"iceberg type '$other' has no exact graft mapping — import refused")
  }

  /** Full type parser: primitive names plus the spec's NESTED JSON
    * nodes (struct/list/map). Nested inner field-ids are not carried
    * into the registry — graft resolves nested children by name (the
    * rename gate keeps nested root names stable), so id-based
    * resolution is never required below the top level. */
  private[interop] def sparkTypeJson(j: JValue)(implicit fmts: Formats): DataType = j match {
    case JString(s) => sparkType(s)
    case obj: JObject => (obj \ "type").extract[String] match {
      case "struct" => StructType((obj \ "fields") match {
        case JArray(fs) => fs.map { f =>
          StructField((f \ "name").extract[String], sparkTypeJson(f \ "type"),
            nullable = !(f \ "required").extractOpt[Boolean].getOrElse(false))
        }
        case other => throw new IllegalArgumentException(
          s"malformed struct fields: ${JsonMethods.compact(JsonMethods.render(other))}")
      })
      case "list" => ArrayType(sparkTypeJson(obj \ "element"),
        containsNull = !(obj \ "element-required").extractOpt[Boolean].getOrElse(false))
      case "map" => MapType(sparkTypeJson(obj \ "key"), sparkTypeJson(obj \ "value"),
        valueContainsNull = !(obj \ "value-required").extractOpt[Boolean].getOrElse(false))
      case other => throw new IllegalArgumentException(
        s"iceberg complex type '$other' has no graft mapping — import refused")
    }
    case other => throw new IllegalArgumentException(
      s"malformed iceberg type node: ${JsonMethods.compact(JsonMethods.render(other))}")
  }

  /** Real Iceberg writers (PyIceberg, the Java library) record absolute
    * `file://` URIs in metadata; our export records plain paths — both
    * must walk. */
  private def normalizePath(s: String): String = FileStats.normalizePath(s)

  private[interop] def readAvro(file: Path): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](file.toFile,
      new GenericDatumReader[GenericRecord]())
    try r.iterator.asScala.toSeq finally r.close()
  }

  /** Avro partition-struct value → the stored external text the log
    * records for identity partitions (null → the Hive null sentinel,
    * date logical ints → ISO dates — the exact inverse of the export's
    * `partitionAvroValue`). */
  private[interop] def partitionText(v: Any, dt: DataType): String = v match {
    case null => Snaplog.HiveDefaultPartition
    case i: Integer if dt == DateType =>
      java.time.LocalDate.ofEpochDay(i.longValue()).toString
    case l: java.lang.Long if dt == TimestampType =>
      // real Iceberg writers store identity-timestamp partition values
      // as MICROS since epoch — record the canonical UTC instant text
      // (raw micros digits would never match a partition-filter text,
      // so filtered reads would silently prune real rows). Graft's own
      // exports store text and take the toString branch unchanged.
      java.time.Instant.EPOCH.plus(
        l.longValue(), java.time.temporal.ChronoUnit.MICROS).toString
    case _: java.nio.ByteBuffer | _: org.apache.avro.generic.GenericFixed =>
      // decimal (and other byte-encoded) identity values have no exact
      // text mapping here; wrong text would mis-prune filtered reads —
      // refuse rather than approximate
      throw new IllegalArgumentException(
        s"identity partition value for ${dt.simpleString} is stored as " +
          "Avro bytes/fixed — no exact graft text mapping; import refused")
    case other => other.toString
  }

  /** Transform-field value → graft's stored text: the epoch indexes /
    * truncated values ARE the stored form, so plain toString (Avro
    * Utf8 included); null → the sentinel. */
  private[interop] def transformText(v: Any): String =
    if (v == null) Snaplog.HiveDefaultPartition else v.toString

  // ---- parsed tree + walked snapshot state ---------------------------------

  /** One parsed metadata.json: everything register/refresh need to walk
    * any snapshot of the tree. */
  private final case class Tree(
      metaDir: Path,
      version: String,
      formatVersion: Int,
      schema: StructType,
      partFields: Seq[(String, graft.table.PartField)],
      identityTypes: Map[String, DataType],
      specFieldsById: Map[Int, Seq[(String, String, String)]],
      fieldById: Map[Int, JValue],
      snapshots: List[JValue],
      currentId: Long,
      srcRegistry: Map[String, Int],
      interiorRegistry: Map[String, Int],
      lastColumnId: Int,
      defaultSpecId: Int,
      statistics: JValue = JNothing,
      sortOrder: Seq[String] = Seq.empty) {
    def partCols: Seq[String] = partFields.map(_._2.spec)
    def manifestListOf(snapshotId: Long)(implicit fmts: Formats): Path = {
      val snap = snapshots
        .find(s => (s \ "snapshot-id").extract[Long] == snapshotId)
        .getOrElse(throw new IllegalArgumentException(
          s"snapshot $snapshotId missing from the tree's snapshot list"))
      Paths.get(normalizePath((snap \ "manifest-list").extract[String]))
    }
  }

  // MOR delete plans of one walked snapshot. scope: identity partition
  // fields NOT among the keys — they rewrite as extra key columns (the
  // composite key IS the scope). rowFilter: identity partition fields
  // that ARE keys — Iceberg applies the delete only within its
  // partition, so rows whose key value differs from the partition
  // literal match NOTHING there; they filter OUT of the rewritten file
  // (keeping them would over-delete other partitions' rows).
  private sealed trait DelPlan { def path: String; def seq: Long }
  private final case class PosPlan(path: String, seq: Long) extends DelPlan
  // v3 puffin deletion vector: one blob = one data file's position
  // bitmap. blobOffset/blobLength come from the manifest entry's
  // referenced_data_file/content_offset/content_size_in_bytes fields
  // when the writer stamped them; absent (None), every
  // deletion-vector-v1 blob in the file's footer index applies.
  private final case class DvPlan(path: String, refDataFile: Option[String],
      blobOffset: Option[Long], blobLength: Option[Long],
      seq: Long) extends DelPlan
  private final case class EqPlan(path: String, keyNames: Seq[String],
      scope: Seq[(String, DataType, Any)],
      rowFilter: Seq[(String, DataType, Any)], seq: Long) extends DelPlan

  /** Everything a snapshot's manifests list, validated and
    * sequence-attributed. */
  private final case class Walked(
      dataWithSeq: Seq[(DataFileEntry, Long)],
      posPlans: Seq[PosPlan],
      dvPlans: Seq[DvPlan],
      eqPlans: Seq[EqPlan]) {
    def dataPlainPaths: Set[String] = dataWithSeq.map(_._1.path).toSet
    def posDeleteCount: Int = posPlans.size + dvPlans.size
  }

  /** Parse `root`'s metadata tree (the table dir containing
    * `metadata/`, or the `metadata/` dir itself). */
  private def loadTree(root: Path)(implicit fmts: Formats): Tree = {
    val metaDir =
      if (Files.exists(root.resolve("version-hint.text"))) root
      else root.resolve("metadata")
    val version = Files.readString(metaDir.resolve("version-hint.text")).trim
    val meta = JsonMethods.parse(Files.readString(
      metaDir.resolve(s"v$version.metadata.json")))
    parseTree(metaDir, version, meta)
  }

  /** Parse one table-metadata JSON document into a [[Tree]] — shared by
    * the directory walk (version-hint) and the REST catalog path (the
    * LoadTableResult's `metadata` payload / `metadata-location` file). */
  private def parseTree(metaDir: Path, version: String, meta: JValue)
      (implicit fmts: Formats): Tree = {
    val formatVersion = (meta \ "format-version").extract[Int]
    require(formatVersion == 2 || formatVersion == 3,
      s"only Iceberg format-version 2/3 trees import (got $formatVersion)")

    // -- schema (current-schema-id) ------------------------------------------
    val schemaId = (meta \ "current-schema-id").extract[Int]
    val schemaJson = (meta \ "schemas").asInstanceOf[JArray].arr
      .find(s => (s \ "schema-id").extract[Int] == schemaId)
      .getOrElse(throw new IllegalArgumentException(
        s"current-schema-id $schemaId not present in schemas"))
    val fieldsJson = (schemaJson \ "fields").asInstanceOf[JArray].arr
    val fieldById = fieldsJson.map(f => (f \ "id").extract[Int] -> f).toMap
    // v3 defaults: `initial-default` (the existence default — files
    // that predate the column answer it) and `write-default` map onto
    // graft's EXISTS/CURRENT default keys, so the first scan after
    // import serves exactly what a v3 reader would. JSON single-values
    // re-fold through the same constant-folding the native add path
    // runs.
    def defaultSqlText(j: JValue, dt: DataType): String = (j, dt) match {
      case (JString(v), StringType) => "'" + v.replace("'", "''") + "'"
      case (JString(v), DateType) => s"DATE '$v'"
      case (JString(v), TimestampType) => s"TIMESTAMP '$v'"
      case (JBool(b), BooleanType) => b.toString
      case (JInt(i), _) => i.toString
      case (JLong(l), _) => l.toString
      case (JDouble(d), _) => d.toString
      case (JDecimal(d), _) => d.toString
      case (other, t) => throw new IllegalArgumentException(
        s"default ${JsonMethods.compact(JsonMethods.render(other))} for " +
          s"${t.simpleString} has no graft mapping — import refused")
    }
    val schema = StructType(fieldsJson.map { f =>
      val fname = (f \ "name").extract[String]
      val dt = sparkTypeJson(f \ "type")
      val nullable = !(f \ "required").extract[Boolean]
      val base = StructField(fname, dt, nullable)
      val initJ = f \ "initial-default"
      val writeJ = f \ "write-default"
      val withInit = initJ match {
        case JNothing | JNull => base
        case j => graft.types.ColumnDefaults
          .foldedField(fname, dt, defaultSqlText(j, dt))
          .copy(nullable = nullable)
      }
      (writeJ, initJ) match {
        case (JNothing | JNull, JNothing | JNull) => withInit
        case (JNothing | JNull, _) =>
          // initial-only: the write side must not inherit it
          graft.types.ColumnDefaults.withCurrentDefault(withInit, None)
        case (j, _) => graft.types.ColumnDefaults
          .withCurrentDefault(withInit, Some(defaultSqlText(j, dt)))
      }
    })

    // -- partition spec (default-spec-id) ------------------------------------
    val specId = (meta \ "default-spec-id").extract[Int]
    val specJson = (meta \ "partition-specs").asInstanceOf[JArray].arr
      .find(s => (s \ "spec-id").extract[Int] == specId)
      .getOrElse(throw new IllegalArgumentException(
        s"default-spec-id $specId not present in partition-specs"))
    // Per spec field: (avroName, graft spec string) — the Avro
    // partition struct is keyed by the spec field's OWN name, which
    // legally differs from the derived name graft would use (e.g. a
    // renamed source keeps the old spec-field name); the log registers
    // under graft's derived field name, which is what graft prunes on.
    // `void` fields are dropped (no information); `bucket[n]` imports
    // as graft's spec-identical `mbucket(n,col)` (see object scaladoc).
    val partFields: Seq[(String, graft.table.PartField)] =
      (specJson \ "fields").asInstanceOf[JArray].arr.flatMap { pf =>
        val transform = (pf \ "transform").extract[String]
        if (transform == "void") None else {
          val srcId = (pf \ "source-id").extract[Int]
          val sourceCol = (fieldById.getOrElse(srcId, throw new IllegalArgumentException(
            s"partition source-id $srcId not in schema")) \ "name").extract[String]
          val spec = transform match {
            case "identity" => sourceCol
            case "day" => s"days($sourceCol)"
            case "hour" => s"hours($sourceCol)"
            case "month" => s"months($sourceCol)"
            case "year" => s"years($sourceCol)"
            case t if t.startsWith("truncate[") && t.endsWith("]") =>
              s"truncate(${t.stripPrefix("truncate[").stripSuffix("]")},$sourceCol)"
            // the spec's bucket[n] IS graft's mbucket(n,col): both are
            // murmur3_x86_32 over the spec encodings, so the foreign
            // tree's stored indexes are exactly what graft's write and
            // prune sides compute — pruning works on the first query
            case t if t.startsWith("bucket[") && t.endsWith("]") =>
              s"mbucket(${t.stripPrefix("bucket[").stripSuffix("]")},$sourceCol)"
            case other => throw new IllegalArgumentException(
              s"partition transform '$other' has no graft equivalent; " +
                "import refused")
          }
          Some(((pf \ "name").extract[String],
            graft.table.PartitionTransforms.parse(spec)))
        }
      }
    val identityTypes = partFields.collect { case (_, pf: graft.table.IdentityField) =>
      pf.source -> schema.fields.find(_.name == pf.source).map(_.dataType)
        .getOrElse(StringType)
    }.toMap

    // spec fields per spec-id, for DELETE manifests (their spec may
    // differ from the default — Flink writes deletes under the data
    // spec, a global equality delete rides the unpartitioned spec)
    val specFieldsById: Map[Int, Seq[(String, String, String)]] =
      (meta \ "partition-specs").asInstanceOf[JArray].arr.map { sj =>
        (sj \ "spec-id").extract[Int] ->
          (sj \ "fields").asInstanceOf[JArray].arr.map { pf =>
            val srcId = (pf \ "source-id").extract[Int]
            ((pf \ "name").extract[String], (pf \ "transform").extract[String],
              fieldById.get(srcId).map(f => (f \ "name").extract[String])
                .getOrElse(""))
          }
      }.toMap

    // Carry the SOURCE's field ids as the table registry (see register)
    // — top-level names plus STRUCT-chain inner ids as dotted keys.
    // List/map interiors stay untracked (no dotted-path identity);
    // un-encodable components skip.
    val srcRegistry: Map[String, Int] = {
      val top = fieldsJson.map(f =>
        (f \ "name").extract[String] -> (f \ "id").extract[Int])
      def inner(prefix: String, tj: JValue): Seq[(String, Int)] = tj match {
        case obj: JObject if (obj \ "type") == JString("struct") =>
          (obj \ "fields") match {
            case JArray(fs) => fs.flatMap { f =>
              val n = (f \ "name").extract[String]
              val id = (f \ "id").extract[Int]
              if (n.contains(".") || n.contains(",") || n.contains(":") ||
                  id <= 0) Seq.empty
              else (s"$prefix.$n" -> id) +: inner(s"$prefix.$n", f \ "type")
            }
            case _ => Seq.empty
          }
        case _ => Seq.empty
      }
      val topNames = top.map(_._1)
      (top ++ (if (topNames.exists(_.contains("."))) Seq.empty
        else fieldsJson.flatMap(f =>
          inner((f \ "name").extract[String], f \ "type")))).toMap
    }

    // LIST/MAP INTERIOR ids (round 14), in name-mapping tokens — carried
    // so managed writes to the imported table stamp the SOURCE's interior
    // numbering and a re-export declares the same ids the source's files
    // physically carry (a strict-by-id external reader of the re-export
    // would otherwise null interior subtrees of the original files).
    val interiorRegistry: Map[String, Int] = {
      def ok(n: String): Boolean =
        !n.contains(".") && !n.contains(",") && !n.contains(":")
      def walk(prefix: String, tj: JValue, below: Boolean): Seq[(String, Int)] =
        tj match {
          case obj: JObject => (obj \ "type") match {
            case JString("struct") => (obj \ "fields") match {
              case JArray(fs) => fs.flatMap { f =>
                val n = (f \ "name").extract[String]
                val id = (f \ "id").extract[Int]
                if (!ok(n) || id <= 0) Seq.empty
                else {
                  val p = s"$prefix.$n"
                  (if (below) Seq(p -> id) else Seq.empty) ++
                    walk(p, f \ "type", below)
                }
              }
              case _ => Seq.empty
            }
            case JString("list") =>
              val p = s"$prefix.element"
              (obj \ "element-id").extractOpt[Int].filter(_ > 0)
                .map(p -> _).toSeq ++ walk(p, obj \ "element", below = true)
            case JString("map") =>
              val kp = s"$prefix.key"
              val vp = s"$prefix.value"
              ((obj \ "key-id").extractOpt[Int].filter(_ > 0)
                .map(kp -> _).toSeq ++ walk(kp, obj \ "key", below = true)) ++
                ((obj \ "value-id").extractOpt[Int].filter(_ > 0)
                  .map(vp -> _).toSeq ++ walk(vp, obj \ "value", below = true))
            case _ => Seq.empty
          }
          case _ => Seq.empty
        }
      if (fieldsJson.exists(f => (f \ "name").extract[String].contains(".")))
        Map.empty
      else fieldsJson.flatMap { f =>
        val n = (f \ "name").extract[String]
        if (ok(n)) walk(n, f \ "type", below = false) else Seq.empty
      }.toMap
    }
    Tree(metaDir, version, formatVersion, schema, partFields, identityTypes,
      specFieldsById, fieldById,
      (meta \ "snapshots").asInstanceOf[JArray].arr,
      (meta \ "current-snapshot-id").extract[Long],
      srcRegistry, interiorRegistry,
      (meta \ "last-column-id").extractOpt[Int].getOrElse(0),
      specId,
      statistics = meta \ "statistics",
      sortOrder = parseSortOrder(meta, fieldById))
  }

  /** The default sort order's column names, adopted only when graft's
    * `write.sort-order` can express it EXACTLY — all-identity,
    * ascending, nulls-first (what the managed write produces). Any
    * other shape (transforms, desc, nulls-last, unresolved source-id)
    * is advisory metadata graft cannot honor on its own writes, so it
    * drops rather than mis-declaring future file layout. */
  private def parseSortOrder(meta: JValue, fieldById: Map[Int, JValue])
      (implicit fmts: Formats): Seq[String] = {
    val defId = (meta \ "default-sort-order-id").extractOpt[Int].getOrElse(0)
    if (defId == 0) return Seq.empty
    val order = (meta \ "sort-orders") match {
      case JArray(orders) => orders.find(o =>
        (o \ "order-id").extractOpt[Int].contains(defId))
      case _ => None
    }
    order.map { o =>
      val fs = (o \ "fields") match { case JArray(xs) => xs; case _ => Nil }
      val resolved: Seq[Option[String]] = fs.map { f =>
        val exact = (f \ "transform").extractOpt[String].contains("identity") &&
          (f \ "direction").extractOpt[String].forall(_.equalsIgnoreCase("asc")) &&
          (f \ "null-order").extractOpt[String]
            .forall(_.equalsIgnoreCase("nulls-first"))
        if (!exact) None
        else (f \ "source-id").extractOpt[Int].flatMap(fieldById.get)
          .flatMap(fj => (fj \ "name").extractOpt[String])
      }
      if (resolved.nonEmpty && resolved.forall(_.isDefined)) resolved.flatten
      else Seq.empty
    }.getOrElse(Seq.empty)
  }

  // Sequence numbers order the MOR semantics (an equality delete
  // applies to data files with STRICTLY LOWER sequence; a position
  // delete to lower-or-equal). Per spec, a null entry sequence on an
  // ADDED entry inherits the manifest's; manifests written without
  // the field (pre-v2 shapes) default to 0 — all-equal sequences then
  // degrade to "deletes apply to nothing", which the delete-presence
  // guards below keep honest (a delete-bearing tree without usable
  // sequences would silently resurrect rows, so eq deletes REQUIRE a
  // positive sequence).
  private def mfSeq(mf: GenericRecord): Long =
    if (mf.getSchema.getField("sequence_number") == null) 0L
    else Option(mf.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L)
  private def entrySeq(e: GenericRecord, inherit: Long): Long =
    if (e.getSchema.getField("sequence_number") == null) inherit
    else Option(e.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(inherit)
  private def mfContent(mf: GenericRecord): Int = {
    val c =
      if (mf.getSchema.getField("content") == null) 0
      else Option(mf.get("content")).map(_.asInstanceOf[Int]).getOrElse(0)
    require(c == 0 || c == 1,
      s"${mf.get("manifest_path")}: unknown manifest content $c")
    c
  }
  private def manifestEntries(mf: GenericRecord): Seq[(GenericRecord, Long)] = {
    val inherit = mfSeq(mf)
    readAvro(Paths.get(normalizePath(mf.get("manifest_path").toString)))
      .filter(_.get("status").asInstanceOf[Int] != 2) // 2 = DELETED
      .map(e => (e, entrySeq(e, inherit)))
  }
  // manifests read in PARALLEL (driver-side Avro IO — a large tree
  // carries one manifest per commit, and import latency must be one
  // round trip, not one per manifest); Par.map preserves
  // manifest ORDER, so the stable sequence sort below keeps its
  // deterministic within-sequence tiebreak
  private def allEntries(mfs: Seq[GenericRecord]): Seq[(GenericRecord, Long)] =
    graft.util.Par.map(mfs)(manifestEntries).flatten

  /** Walk one snapshot's manifest list into validated data entries and
    * MOR delete plans, all sequence-attributed.
    *
    * Scope rules for deletes, all refusing loudly rather than
    * approximating:
    *  - v3 puffin DELETION VECTORS decode into position plans (entry
    *    locator columns 143/144/145, or the footer's blob index when a
    *    writer omitted them); other puffin delete content refuses;
    *  - equality ids must name top-level schema fields (nested ids are
    *    not in graft's key model);
    *  - an equality delete scoped to a partition applies only within
    *    it: IDENTITY scopes re-express exactly as extra key columns
    *    (keys × the partition literal; key-overlapping scope fields
    *    restrict rows instead); non-identity scopes refuse.
    * Position-delete rows referencing data files NOT in the walked
    * snapshot are dangling and later DROPPED — they can no longer match
    * any scanned row. */
  private def walkSnapshot(spark: SparkSession, tree: Tree, snapshotId: Long,
      statFooters: Boolean)(implicit fmts: Formats): Walked = {
    val manifestFiles = readAvro(tree.manifestListOf(snapshotId))
    val (dataManifests, deleteManifests) =
      manifestFiles.partition(mfContent(_) == 0)

    // PARTITION-SPEC EVOLUTION in the source (VERDICT r13 #6): a data
    // manifest written under an OLDER spec holds no values for the
    // current spec's fields — its files import UNATTRIBUTED (no
    // partition entry at all), which graft's mixed-coverage machinery
    // handles conservatively (pruning keeps them, scans restore
    // exactness with residual row filters). Recording the Hive null
    // SENTINEL instead would claim "the value IS null" and a
    // partition-filtered read would silently prune real rows.
    def mfSpecId(mf: GenericRecord): Int =
      if (mf.getSchema.getField("partition_spec_id") == null) tree.defaultSpecId
      else Option(mf.get("partition_spec_id")).map(_.asInstanceOf[Int])
        .getOrElse(tree.defaultSpecId)
    val dataPerManifest: Seq[(Int, Seq[(GenericRecord, Long)])] =
      graft.util.Par.map(dataManifests)(mf => (mfSpecId(mf), manifestEntries(mf)))
    val dataWithSeq: Seq[(DataFileEntry, Long)] =
      dataPerManifest.flatMap { case (specId, entries) =>
        entries.map { case (e, seq) =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        require(df.get("content").asInstanceOf[Int] == 0,
          s"${df.get("file_path")}: delete file listed in a DATA manifest — " +
            "import refused")
        require(df.get("file_format").toString.equalsIgnoreCase("PARQUET"),
          s"${df.get("file_path")}: only PARQUET data files import")
        val path = normalizePath(df.get("file_path").toString)
        require(Files.exists(Paths.get(path)), s"data file missing: $path")
        val part = df.get("partition").asInstanceOf[GenericRecord]
        val pv =
          if (specId != tree.defaultSpecId) Map.empty[String, String]
          else tree.partFields.flatMap { case (avroName, pf) =>
            // a field ABSENT from the record (schema drift within the
            // same spec id) is likewise unattributed, not null-valued
            if (part.getSchema.getField(avroName) == null) None
            else Some(pf.fieldName -> (pf match {
              case id: graft.table.IdentityField =>
                partitionText(part.get(avroName), tree.identityTypes(id.source))
              case _ => transformText(part.get(avroName))
            }))
          }.toMap
        val entry =
          if (statFooters) FileStats.stat(spark, path, pv)
          else DataFileEntry(path, df.get("record_count").asInstanceOf[Long],
            df.get("file_size_in_bytes").asInstanceOf[Long], pv, None)
        // v3 row lineage: a spec-conforming writer materializes the
        // file's assigned first_row_id into the data_file struct —
        // carry it; absent/null defers to snapshot-level inheritance
        // (rowLineage). dataSeq always carries — it is the rows'
        // _last_updated_sequence_number when lineage is served.
        val explicitFirst: Option[Long] =
          if (df.getSchema.getField("first_row_id") == null) None
          else Option(df.get("first_row_id"))
            .map(_.asInstanceOf[java.lang.Long].longValue())
        (entry.copy(firstRowId = explicitFirst, dataSeq = Some(seq)), seq)
        }
      }

    val delPlans: Seq[DelPlan] = deleteManifests.flatMap { mf =>
      val delSpecId =
        if (mf.getSchema.getField("partition_spec_id") == null) 0
        else Option(mf.get("partition_spec_id"))
          .map(_.asInstanceOf[Int]).getOrElse(0)
      // delete manifests are few (one per exporting snapshot) — the
      // per-manifest spec binding keeps this walk sequential
      manifestEntries(mf).map { case (e, seq) =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val content = df.get("content").asInstanceOf[Int]
        val rawPath = df.get("file_path").toString
        require(content == 1 || content == 2,
          s"$rawPath: listed in a delete manifest with data content — refused")
        val format = df.get("file_format").toString
        val isPuffin = format.equalsIgnoreCase("PUFFIN")
        require(format.equalsIgnoreCase("PARQUET") ||
          (isPuffin && content == 1),
          s"$rawPath: delete file format '$format' has no graft mapping " +
            "(position deletes import as PARQUET or PUFFIN deletion " +
            "vectors; equality deletes as PARQUET only)")
        val path = normalizePath(rawPath)
        require(Files.exists(Paths.get(path)), s"delete file missing: $path")
        if (content == 1 && isPuffin) {
          // v3 deletion vector: the manifest's referenced_data_file /
          // content_offset / content_size_in_bytes name the exact blob
          // (optional fields — a writer omitting them defers to the
          // puffin footer's blob index)
          def optField[T](n: String): Option[T] =
            if (df.getSchema.getField(n) == null) None
            else Option(df.get(n)).map(_.asInstanceOf[T])
          DvPlan(path,
            optField[AnyRef]("referenced_data_file").map(_.toString),
            optField[java.lang.Long]("content_offset").map(_.longValue()),
            optField[java.lang.Long]("content_size_in_bytes").map(_.longValue()),
            seq)
        } else if (content == 1) PosPlan(path, seq)
        else {
          val idsField = df.getSchema.getField("equality_ids")
          require(idsField != null && df.get("equality_ids") != null,
            s"$path: equality delete without equality_ids — refused")
          val ids: Seq[Int] = df.get("equality_ids") match {
            case l: java.util.List[_] => l.asScala.toSeq.map(
              _.asInstanceOf[Number].intValue())
            case other => throw new IllegalArgumentException(
              s"$path: malformed equality_ids $other")
          }
          require(ids.nonEmpty, s"$path: empty equality_ids — refused")
          val keyNames = ids.map(id => tree.fieldById.getOrElse(id,
            throw new IllegalArgumentException(
              s"$path: equality id $id is not a top-level schema field — " +
                "graft keys are top-level columns; import refused")))
            .map(f => (f \ "name").extract[String])
          require(keyNames.forall(n => !n.contains(",")),
            s"$path: key column names cannot contain ','")
          require(seq > 0,
            s"$path: equality delete without a usable sequence number — " +
              "its application order cannot be reconstructed; import refused")
          // partition scope under the DELETE manifest's spec
          val part = df.get("partition").asInstanceOf[GenericRecord]
          val scope = tree.specFieldsById.getOrElse(delSpecId,
            throw new IllegalArgumentException(
              s"$path: partition_spec_id $delSpecId not in partition-specs"))
            .flatMap { case (avroName, transform, sourceCol) =>
              val v =
                if (part.getSchema.getField(avroName) == null) null
                else part.get(avroName)
              if (v == null) None
              else {
                require(transform == "identity",
                  s"$path: equality delete scoped to non-identity partition " +
                    s"'$transform($sourceCol)' — not expressible as a key " +
                    "restriction; import refused")
                val dt = tree.schema.fields.find(_.name == sourceCol)
                  .map(_.dataType)
                  .getOrElse(throw new IllegalArgumentException(
                    s"$path: partition source '$sourceCol' not in schema"))
                Some((sourceCol, dt, v))
              }
            }
          val (overlap, extra) = scope.partition(s => keyNames.contains(s._1))
          EqPlan(path, keyNames, extra, overlap, seq)
        }
      }
    }
    Walked(dataWithSeq,
      delPlans.collect { case p: PosPlan => p },
      delPlans.collect { case p: DvPlan => p },
      delPlans.collect { case p: EqPlan => p })
  }

  /** Iceberg v3 ROW-LINEAGE assignment: `file_path` → the `_row_id` of
    * the file's first row, reconstructed per the spec's inheritance
    * model — each snapshot's metadata carries `first-row-id`, and the
    * data files FIRST APPEARING at that snapshot take consecutive
    * ranges from it in manifest listing order (`first + Σ preceding
    * added files' record counts`); files re-listed by later snapshots
    * keep their original assignment. Explicit per-file values (a
    * writer that materialized `first_row_id` into the data_file
    * struct) take precedence at the walkSnapshot capture site, not
    * here. A file with NO explicit value whose footer physically
    * carries a `_row_id` column is a REWRITE-MATERIALIZED file (the
    * spec's compaction carry; per-row column values take precedence
    * over any inherited range) — it lands in the returned set, gets no
    * assignment, and consumes nothing from the range, matching the
    * exporter's accounting. Returns None when the tree carries no
    * lineage (v2, or a v3 tree whose snapshots omit `first-row-id`) —
    * lineage is then simply not served, never guessed. Cost: one
    * metadata walk per source snapshot plus one footer probe per
    * unexplicit file, paid only on v3-lineage trees at
    * register/refresh time. */
  private def rowLineage(spark: SparkSession, tree: Tree)
      (implicit fmts: Formats)
      : Option[(Map[String, Long], Set[String])] = {
    if (tree.formatVersion < 3) return None
    val snaps = tree.snapshots.sortBy(s =>
      (s \ "sequence-number").extractOpt[Long].getOrElse(0L))
    if (snaps.isEmpty ||
        !snaps.forall(s => (s \ "first-row-id").extractOpt[Long].isDefined))
      return None
    var assigned = Map.empty[String, Long]
    var materialized = Set.empty[String]
    var seen = Set.empty[String]
    snaps.foreach { s =>
      val sid = (s \ "snapshot-id").extract[Long]
      var ctr = (s \ "first-row-id").extract[Long]
      val dataManifests = readAvro(tree.manifestListOf(sid))
        .filter(mfContent(_) == 0)
      allEntries(dataManifests).foreach { case (e, _) =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val raw = df.get("file_path").toString
        val p = normalizePath(raw)
        if (!seen(p)) {
          seen += p
          // a file carrying an EXPLICIT (writer-materialized)
          // first_row_id keeps it (captured in walkSnapshot) and
          // consumes nothing from the snapshot's inheritance range —
          // the range governs only unassigned files, matching the
          // exporter's accounting
          val explicit = df.getSchema.getField("first_row_id") != null &&
            df.get("first_row_id") != null
          if (!explicit) {
            if (graft.types.FieldIds.fileContainsPath(spark, raw,
                Seq(graft.types.FieldIds.RowIdCol)))
              materialized += p
            else {
              assigned += p -> ctr
              ctr += df.get("record_count").asInstanceOf[Long]
            }
          }
        }
      }
    }
    Some((assigned, materialized))
  }

  /** Lenient path-set walk of one snapshot — NO validation, no
    * existence checks (a file removed by a later foreign rewrite may be
    * gone from disk): just which data / delete paths the snapshot
    * lists, for refresh's watermark diff. */
  private def walkPathSets(tree: Tree, snapshotId: Long)
      (implicit fmts: Formats): (Set[String], Set[String]) = {
    val manifestFiles = readAvro(tree.manifestListOf(snapshotId))
    val (dataManifests, deleteManifests) =
      manifestFiles.partition(mfContent(_) == 0)
    def paths(mfs: Seq[GenericRecord]): Set[String] =
      allEntries(mfs).map { case (e, _) =>
        normalizePath(e.get("data_file").asInstanceOf[GenericRecord]
          .get("file_path").toString)
      }.toSet
    (paths(dataManifests), paths(deleteManifests))
  }

  /** Validate equality-delete files BEFORE any catalog mutation: keys
    * must be physically present and null-free. Footer-only probes, in
    * PARALLEL (a hot CDC tree carries one eq file per merge commit —
    * hundreds between maintenance runs must cost one round-trip
    * latency, not one per file); a footer without the null stat
    * re-checks with one filter job, driver-side after the parallel
    * pass. */
  private def validateEq(spark: SparkSession,
      eqPlans: Seq[EqPlan]): Map[String, DataFileEntry] = {
    val probed = graft.util.Par.map(eqPlans) { p =>
      val carries = graft.types.FieldIds.fileContainsAll(spark, p.path,
        p.keyNames.map(Seq(_)))
      (p, carries,
        if (carries) Some(FileStats.stat(spark, p.path, Map.empty))
        else None)
    }
    probed.map { case (p, carries, stOpt) =>
      require(carries,
        s"${p.path}: equality delete file does not carry all key " +
          s"columns (${p.keyNames.mkString(", ")}) — import refused")
      val st = stOpt.get
      val nullKeys = p.keyNames.map(n =>
        st.nullCounts.flatMap(_.get(n)).getOrElse {
          spark.read.parquet(p.path).filter(
            org.apache.spark.sql.functions.col(n).isNull).count()
        }).sum
      require(nullKeys == 0,
        s"${p.path}: equality delete carries $nullKeys NULL key " +
          "value(s) — Iceberg null-matching equality cannot be " +
          "expressed by graft's null-rejecting keys; import refused")
      p.path -> st
    }.toMap
  }

  /** Foreign position-delete `rows` (`file_path`, `pos`) rewritten
    * into ONE graft vector under `dir`: each recorded path becomes the
    * plain path `plainOf` maps it to (rows whose path it does not map
    * drop) and `pos` becomes `row_index`. Reads resolve the plain path
    * to its data file's log position
    * ([[graft.table.EqDeletes.joinVectors]]). Delete files are
    * predicate-sized relative to the data, so the rewrite is
    * metadata-scale I/O; the data files stay untouched in place. Shared
    * by import, refresh and the REST commit route ([[RestServe]]). */
  private[interop] def writeVector(spark: SparkSession, rows: DataFrame,
      plainOf: Seq[(String, String)], dir: Path): Seq[DataFileEntry] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    // coalesce(1), not repartition(1) (round 18): the single-file vector
    // rewrite of a predicate-sized delete set needs no exchange
    rows
      .join(broadcast(plainOf.toDF("file_path", "__plain")), Seq("file_path"))
      .select(col("__plain").as("file_path"),
        col("pos").cast("long").as("row_index"))
      .coalesce(1).sortWithinPartitions("file_path", "row_index")
      .write.mode("overwrite").parquet(dir.toString)
    FileStats.listParquet(dir.toString)
      .map(p => FileStats.stat(spark, p, Map.empty)
        .copy(deleteFile = Some(true)))
      .filter(_.rowCount > 0)
  }

  /** Position-delete files and deletion vectors adopted as ONE graft
    * vector under the target table's data dir ([[writeVector]]),
    * recording the normalized plain paths the data entries carry. Rows
    * referencing paths outside `dataPlainPaths` are dangling (the data
    * file left the snapshot) and dropped. */
  private def buildPosEntries(spark: SparkSession, catalog: Catalog,
      ns: String, name: String, posPlans: Seq[PosPlan],
      dvPlans: Seq[DvPlan], dataPlainPaths: Set[String]): Seq[DataFileEntry] = {
    if (posPlans.isEmpty && dvPlans.isEmpty) return Seq.empty
    import spark.implicits._
    // v3 deletion vectors decode DRIVER-SIDE: one blob is one data
    // file's position bitmap — predicate-sized (bounded by that file's
    // row count), never data-sized. The manifest entry's explicit
    // (offset, length) reads exactly one blob; entries without them
    // defer to the puffin footer's blob index.
    val dvRows: Seq[(String, Long)] = dvPlans.flatMap { p =>
      val file = Paths.get(p.path)
      val blobs: Seq[(String, Long, Long)] = (p.blobOffset, p.blobLength) match {
        case (Some(off), Some(len)) =>
          val ref = p.refDataFile.orElse(
            Puffin.readFooter(file)
              .find(b => b.offset == off && b.tpe == Puffin.DeletionVectorV1)
              .flatMap(_.properties.get("referenced-data-file")))
            .getOrElse(throw new IllegalArgumentException(
              s"${p.path}: deletion-vector blob at $off names no " +
                "referenced data file — import refused"))
          Seq((ref, off, len))
        case _ =>
          val all = Puffin.readFooter(file)
            .filter(_.tpe == Puffin.DeletionVectorV1)
          require(all.nonEmpty,
            s"${p.path}: puffin file carries no deletion-vector-v1 blobs")
          all.map(b => (b.properties.getOrElse("referenced-data-file",
            throw new IllegalArgumentException(
              s"${p.path}: deletion-vector blob at ${b.offset} names no " +
                "referenced data file — import refused")),
            b.offset, b.length))
      }
      blobs.flatMap { case (ref, off, len) =>
        val plain = normalizePath(ref)
        if (!dataPlainPaths.contains(plain)) Seq.empty // dangling
        else {
          val bm = Puffin.readDeletionVector(file, off, len)
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          val it = bm.getLongIterator
          while (it.hasNext) buf += ((plain, it.next()))
          buf.toSeq
        }
      }
    }
    // raw recorded form → plain path, driver-sized (delete files
    // record bounded distinct paths)
    val plainOf: Seq[(String, String)] =
      ((if (posPlans.isEmpty) Seq.empty
        else spark.read.parquet(posPlans.map(_.path): _*)
          .select("file_path").coalesce(1).distinct().collect().toSeq
          .map(_.getString(0))) ++ dvRows.map(_._1).distinct)
        .distinct
        .flatMap { raw =>
          val plain = normalizePath(raw)
          if (dataPlainPaths.contains(plain)) Some(raw -> plain)
          else None // dangling: referenced data file not in this snapshot
        }
    if (plainOf.isEmpty) return Seq.empty
    val parquetLeg =
      if (posPlans.isEmpty) None
      else Some(spark.read.parquet(posPlans.map(_.path): _*)
        .select("file_path", "pos"))
    val dvLeg =
      if (dvRows.isEmpty) None
      else Some(dvRows.toDF("file_path", "pos"))
    writeVector(spark, (parquetLeg.toSeq ++ dvLeg.toSeq).reduce(_ unionAll _),
      plainOf, catalog.dataDir(ns, name).resolve(
        s"import-dv-${java.util.UUID.randomUUID().toString.take(12)}"))
  }

  /** Equality deletes: unscoped files register IN PLACE (their key
    * columns are exactly graft's equality-delete file shape); identity-
    * partition-scoped files rewrite once as keys × the partition
    * literal, which IS the scoped semantics as a composite key.
    * Key-overlapping scope fields restrict ROWS instead (see EqPlan). */
  private def buildEqEntries(spark: SparkSession, catalog: Catalog,
      ns: String, name: String, eqPlans: Seq[EqPlan],
      eqStats: Map[String, DataFileEntry]): Seq[(DataFileEntry, Long)] = {
    // Typed literal per (avro value, target type) — EXPLICIT mappings
    // only. An Avro identity-timestamp value is MICROS since epoch; the
    // plain long→timestamp cast Spark runs interprets SECONDS, so a
    // naive lit-cast would rewrite a wrong constant and the scoped
    // delete would silently match nothing (deleted rows resurrect).
    // Unmapped combinations (decimal fixed/bytes, …) refuse loudly,
    // matching the import's refuse-rather-than-approximate contract.
    def scopeCol(dt: DataType, v: Any): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions.{lit, timestamp_micros}
      (v, dt) match {
        case (i: Integer, DateType) =>
          lit(java.time.LocalDate.ofEpochDay(i.longValue()).toString)
            .cast(DateType)
        case (l: java.lang.Long, TimestampType) =>
          timestamp_micros(lit(l.longValue()))
        case (n: Number, IntegerType | LongType | ShortType | ByteType |
                         FloatType | DoubleType) => lit(n).cast(dt)
        case (s: CharSequence, _) => lit(s.toString).cast(dt)
        case (b: java.lang.Boolean, BooleanType) => lit(b)
        case (other, t) => throw new IllegalArgumentException(
          s"identity partition scope value $other " +
            s"(${other.getClass.getSimpleName}) for ${t.simpleString} has " +
            "no exact graft literal mapping — a wrong constant would make " +
            "the scoped delete silently match nothing; import refused")
      }
    }
    eqPlans.flatMap { p =>
      val entry =
        if (p.scope.isEmpty && p.rowFilter.isEmpty)
          Some(eqStats(p.path).copy(deleteFile = Some(true),
            equalityKey = Some(p.keyNames.mkString(","))))
        else {
          import org.apache.spark.sql.functions.col
          // partition fields that are THEMSELVES keys restrict rows
          // (spec-legal delete rows whose key differs from the file's
          // partition value match nothing in Iceberg — dropping the
          // restriction would delete rows in OTHER partitions)
          val restricted = p.rowFilter.foldLeft(
            spark.read.parquet(p.path).select(p.keyNames.map(col): _*)) {
            case (df, (c, dt, v)) => df.filter(col(c) === scopeCol(dt, v))
          }
          val scoped = p.scope.foldLeft(restricted) {
            case (df, (c, dt, v)) => df.withColumn(c, scopeCol(dt, v))
          }
          val dir = catalog.dataDir(ns, name).resolve(
            s"import-eq-${java.util.UUID.randomUUID().toString.take(12)}")
          scoped.repartition(1).write.mode("overwrite").parquet(dir.toString)
          val f = FileStats.listParquet(dir.toString).head
          val st = FileStats.stat(spark, f, Map.empty)
          // every row was out-of-partition: the delete matches nothing
          if (st.rowCount == 0) None
          else Some(st.copy(deleteFile = Some(true),
            equalityKey = Some((p.keyNames ++ p.scope.map(_._1)).mkString(","))))
        }
      entry.map(e => (e, p.seq))
    }
  }

  /** Commit tail in SEQUENCE order: equality deletes interleave with
    * data files by sequence, deletes FIRST at equal sequence — graft
    * applies an equality delete to the data entries BEFORE it in replay
    * order, which then reproduces the spec's strictly-lower-sequence
    * rule exactly (equal-sequence data — the same-transaction upsert
    * shape — survives its own delete). */
  private def orderedTail(eqEntries: Seq[(DataFileEntry, Long)],
      dataWithSeq: Seq[(DataFileEntry, Long)]): Seq[DataFileEntry] =
    (eqEntries.map { case (e, s) => (e, s, 0) } ++
      dataWithSeq.map { case (e, s) => (e, s, 1) })
      .sortBy(t => (t._2, t._3)).map(_._1)

  /** Walk `root` (the table dir containing `metadata/`, or the
    * `metadata/` dir itself) and register the current snapshot as the
    * new table `ns.name` in `catalog`. */
  def register(catalog: Catalog, spark: SparkSession, root: Path,
      ns: String, name: String, statFooters: Boolean = false): Report = {
    implicit val fmts: Formats = DefaultFormats
    val tree = loadTree(root)
    registerTree(catalog, spark, tree, ns, name, statFooters,
      tree.metaDir.toString)
  }

  /** [[ImportedFromProp]] prefix marking a REST-catalog adoption —
    * the stored ref is `rest:<endpoint>#<ns><table>` (the unit
    * separator keeps multi-level namespaces unambiguous), so a refresh
    * re-fetches the CURRENT metadata pointer from the catalog service
    * instead of re-reading a frozen directory. Tokens are never stored
    * — pass them per call. */
  val RestPrefix = "rest:"

  /** Adopt a table FROM AN ICEBERG REST CATALOG (the modern deployment
    * shape — the catalog service serves the current metadata pointer,
    * manifests and data stay on storage): `GET /v1/namespaces/{ns}/
    * tables/{table}`, parse the LoadTableResult's inlined `metadata`
    * document (or read its `metadata-location`), then register through
    * the same metadata-only path the directory walk uses. The stored
    * import ref is the REST endpoint, so [[refresh]] (and the streaming
    * sources' `refresh=true`) re-fetch the catalog's CURRENT pointer
    * per sync — a REST-adopted mirror tracks the live table, not a
    * frozen metadata file. */
  def registerFromRest(catalog: Catalog, spark: SparkSession,
      endpoint: String, srcNs: String, srcTable: String,
      ns: String, name: String, statFooters: Boolean = false,
      token: Option[String] = None,
      auth: Option[RestCatalog.Auth] = None): Report = {
    implicit val fmts: Formats = DefaultFormats
    val tree = restTree(endpoint, srcNs, srcTable,
      auth.getOrElse(RestCatalog.fromToken(token)))
    registerTree(catalog, spark, tree, ns, name, statFooters,
      s"$RestPrefix$endpoint#$srcNs\u001f$srcTable")
  }

  /** Fetch + parse one table's current metadata document via REST. */
  private def restTree(endpoint: String, srcNs: String, srcTable: String,
      auth: RestCatalog.Auth)(implicit fmts: Formats): Tree = {
    val lt = RestCatalog.loadTable(endpoint, srcNs, srcTable, auth)
    val metaPath = Paths.get(normalizePath(lt.metadataLocation))
    val meta = lt.metadata.getOrElse {
      require(Files.exists(metaPath),
        s"REST catalog: $srcNs.$srcTable metadata-location " +
          s"${lt.metadataLocation} is not readable — the LoadTableResult " +
          "inlined no metadata and the location does not resolve")
      JsonMethods.parse(Files.readString(metaPath))
    }
    parseTree(metaPath.getParent,
      versionLabelOf(metaPath.getFileName.toString), meta)
  }

  /** `v3.metadata.json` → `3`; foreign naming (`00001-<uuid>.metadata
    * .json`) keeps its base name — the label is informational (commit
    * summaries), never parsed back. */
  private def versionLabelOf(fileName: String): String = {
    val base = fileName.stripSuffix(".metadata.json")
    if (base.length > 1 && base.head == 'v' && base.tail.forall(_.isDigit))
      base.tail
    else base
  }

  private def registerTree(catalog: Catalog, spark: SparkSession,
      tree: Tree, ns: String, name: String, statFooters: Boolean,
      importedFrom: String)(implicit fmts: Formats): Report = {
    require(tree.currentId > 0, "table has no current snapshot — nothing to import")
    val walked0 = walkSnapshot(spark, tree, tree.currentId, statFooters)
    // v3 row lineage: fill inheritance-assigned first-row-ids for
    // entries without an explicit (writer-materialized) value
    val walked = rowLineage(spark, tree) match {
      case Some((ln, mat)) =>
        walked0.copy(dataWithSeq = walked0.dataWithSeq.map {
          case (e, seq) if e.firstRowId.isEmpty && mat(e.path) =>
            (e.copy(lineageInFile = Some(true)), seq)
          case (e, seq) if e.firstRowId.isEmpty =>
            (e.copy(firstRowId = ln.get(e.path)), seq)
          case x => x
        })
      case None => walked0
    }
    val files = walked.dataWithSeq.map(_._1)
    val eqStats = validateEq(spark, walked.eqPlans)

    // -- one metadata-only registration commit -------------------------------
    // Carry the SOURCE's field ids as this table's registry: the
    // imported files are stamped with those ids, so new managed writes
    // (and a later export) must use the same numbering — a fresh 1..n
    // assignment would diverge from the files whenever the source had
    // evolved (dropped/reordered ids). The high-water mark comes from
    // the source's last-column-id so later ADD COLUMNs never collide
    // with ids the source already retired.
    val registryProps =
      if (tree.srcRegistry.keys.exists(n => n.contains(",") || n.contains(":")) ||
          tree.srcRegistry.values.exists(_ <= 0)) Map.empty[String, String]
      else Map(
        graft.types.FieldIds.RegistryProp ->
          graft.types.FieldIds.encode(tree.srcRegistry),
        graft.types.FieldIds.LastIdProp ->
          (tree.lastColumnId.max(tree.srcRegistry.values.max)
            .max(tree.interiorRegistry.values.maxOption.getOrElse(0))).toString) ++
        // the source's LIST/MAP interior ids (name-mapping tokens) —
        // managed writes stamp them and a re-export declares them, so
        // interior resolution stays id-consistent with the source files
        (if (tree.interiorRegistry.isEmpty) Map.empty[String, String]
         else Map(graft.types.FieldIds.InteriorProp ->
           graft.types.FieldIds.encode(tree.interiorRegistry)))
    // Resolution mode: the Iceberg spec resolves columns by FIELD ID
    // (spec-conforming writers stamp ids into every parquet footer), so
    // when the tree's data files carry top-level ids the stored schema
    // keeps the schema ids too — scans then resolve by id, and a tree
    // whose CURRENT names diverge from old files' written names
    // (source-side rename/drop evolution, including graft's own
    // evolved exports) round-trips values instead of silently
    // null-filling the renamed columns. Id-less trees (migrated
    // add_files data living under a name-mapping) keep name matching —
    // correct exactly when names agree, the only binding such a tree
    // can express. A MIXED tree has no single resolution mode: refuse.
    // EVERY file is footer-probed, in parallel, no data pages — a
    // name-mapping tree that later received spec-conforming native
    // writes is mixed in exactly the way a uniform-prefix sample would
    // miss, and a wrong mode silently null-fills whole columns of the
    // minority files. Nested CHILDREN always resolve by
    // name either way (graft's convention — see object scaladoc); a
    // source-side rename of a nested INNER field is not recoverable
    // here and reads null, like any name-mapping-only reader would
    // without the mapping.
    val storedSchema =
      if (registryProps.isEmpty || files.isEmpty) tree.schema
      else idProbe(spark, files.map(_.path)) match {
        case Some(true) => graft.types.FieldIds.attach(tree.schema, tree.srcRegistry)
        case Some(false) => tree.schema
        case None => throw new IllegalArgumentException(
          s"$ns.$name: imported tree mixes id-stamped and id-less data " +
            "files — field resolution cannot be by-id and by-name at " +
            "once; rewrite the tree uniformly before importing")
      }
    catalog.createTable(ns, name, storedSchema, tree.partCols,
      properties = Map(ImportedFromProp -> importedFrom,
        "iceberg.imported-format-version" -> tree.formatVersion.toString,
        ImportedSnapshotProp -> tree.currentId.toString) ++ registryProps ++
        // the source's default sort order, when graft's write path can
        // honor it exactly (identity/asc/nulls-first) — native writes
        // on the adopted table then cluster like the source's did, and
        // a re-export declares the same order
        (if (tree.sortOrder.isEmpty) Map.empty[String, String]
         else Map("write.sort-order" -> tree.sortOrder.mkString(","))),
      ifNotExists = false)

    // -- materialize MOR state under the new table's data dir, then ONE
    // registration commit. The merged position vector leads
    // (subtraction is global by (path, pos) — order-free, and leading
    // keeps the streaming admission guards' vectors-before-adds shape).
    val posEntries = buildPosEntries(spark, catalog, ns, name,
      walked.posPlans, walked.dvPlans, walked.dataPlainPaths)
    val eqEntries = buildEqEntries(spark, catalog, ns, name,
      walked.eqPlans, eqStats)
    val snap = catalog.commit(ns, name, Snaplog.OpAddFiles,
      posEntries ++ orderedTail(eqEntries, walked.dataWithSeq),
      Map("iceberg-import" -> s"v${tree.version}.metadata.json",
        "iceberg-snapshot-id" -> tree.currentId.toString,
        "position-delete-files" -> walked.posDeleteCount.toString,
        "equality-delete-files" -> walked.eqPlans.size.toString))
    catalog.updateProperties(ns, name,
      Map(SyncSnapshotProp -> snap.snapshotId.toString), Seq.empty)
    adoptStatistics(catalog, ns, name, tree, snap.snapshotId)
    Report(LakehouseTable.load(catalog, spark, ns, name), snap, storedSchema,
      tree.partCols, files.size, files.map(_.rowCount).sum,
      positionDeleteFiles = walked.posDeleteCount,
      equalityDeleteFiles = walked.eqPlans.size)
  }

  /** Adopt the source's ANALYZE statistics (spec `statistics` field)
    * for the snapshot being imported: the puffin file's
    * `apache-datasketches-theta-v1` blobs become the native stats tier
    * — NDV summary in table properties (the scan reports it to Spark's
    * planner) plus a native copy of the puffin (a later export
    * re-publishes it). Advisory by contract: entries for OTHER
    * snapshots, unreachable files, or unknown blob types are silently
    * skipped, never a refusal — stats can only misorder a join, not
    * mis-answer a query. NDV comes from the blob's `ndv` property (the
    * convention Iceberg/Trino write) with the sketch's own estimate as
    * the fallback, so a property-less writer still imports. */
  private def adoptStatistics(catalog: Catalog, ns: String, name: String,
      tree: Tree, nativeSnapshotId: Long)(implicit fmts: Formats): Int = {
    import graft.table.TableStats
    // nearest-ANCESTOR selection (current first): a live source
    // typically analyzes once and keeps appending, so its statistics
    // entry names an older snapshot — still the right advisory NDV for
    // the adopted content (ANALYZE-stale semantics, same as native).
    // Foreign snapshot ids are random longs, so ancestry walks the
    // parent-snapshot-id chain rather than comparing magnitudes.
    val entry = tree.statistics match {
      case JArray(xs) =>
        val bySnap = xs.flatMap(e =>
          (e \ "snapshot-id").extractOpt[Long].map(_ -> e)).toMap
        val parentOf: Map[Long, Long] = tree.snapshots.flatMap { s =>
          for {
            id <- (s \ "snapshot-id").extractOpt[Long]
            p <- (s \ "parent-snapshot-id").extractOpt[Long]
          } yield id -> p
        }.toMap
        var cur = Option(tree.currentId)
        var found: Option[(Long, JValue)] = None
        var hops = 0
        while (found.isEmpty && cur.isDefined && hops < 100000) {
          found = bySnap.get(cur.get).map(cur.get -> _)
          cur = parentOf.get(cur.get)
          hops += 1
        }
        found
      case _ => None
    }
    entry match {
      case None => 0
      case Some((statsSnapId, e)) =>
        val p = (e \ "statistics-path").extractOpt[String]
          .map(s => Paths.get(normalizePath(s)))
        if (p.isEmpty || !Files.isRegularFile(p.get)) 0
        else {
          val src = p.get
          val names: Seq[(String, Long)] = Puffin.readFooter(src)
            .filter(b => b.tpe == Puffin.ThetaV1 && b.fields.length == 1)
            .flatMap { b =>
              tree.fieldById.get(b.fields.head)
                .flatMap(f => (f \ "name").extractOpt[String])
                .map { colName =>
                  val ndv = b.properties.get("ndv")
                    .flatMap(s => scala.util.Try(s.toLong).toOption)
                    .getOrElse(TableStats.estimate(
                      Puffin.readBlobBytes(src, b.offset, b.length)))
                  colName -> ndv
                }
            }
          if (names.isEmpty) 0
          else {
            val statsDir = catalog.dataDir(ns, name).resolve("stats")
            Files.createDirectories(statsDir)
            val dest = statsDir.resolve(
              s"stats-$nativeSnapshotId-${java.util.UUID.randomUUID()}.puffin")
            Files.copy(src, dest)
            // ancestor-sourced stats get a provenance marker: the
            // imported content includes rows appended AFTER the foreign
            // ANALYZE, so incremental analyze must not union from this
            // watermark as if it were fully sketched
            val ancestorMark =
              if (statsSnapId == tree.currentId) Map.empty[String, String]
              else Map(TableStats.AdoptedAncestorProp -> statsSnapId.toString)
            catalog.updateProperties(ns, name,
              Map(
                TableStats.SnapshotProp -> nativeSnapshotId.toString,
                TableStats.PathProp -> dest.toString,
                TableStats.SummaryProp -> TableStats.encodeSummary(
                  names.map { case (c, n) =>
                    c -> TableStats.ColNdv(n, None, None) }.toMap)) ++
                ancestorMark,
              if (ancestorMark.isEmpty)
                Seq(TableStats.AdoptedAncestorProp) else Seq.empty)
            names.size
          }
        }
    }
  }

  /** On an INTERIOR-BY-ID mirror (a list/map interior rename was
    * adopted), every arriving data file must stamp interior ids too —
    * a writer that stopped stamping them would silently null interior
    * members under the mirror's full-subtree-by-id reads. No-op for
    * tables without the mode. */
  private def requireInteriorStampedIfMode(spark: SparkSession,
      meta: graft.catalog.TableMetadata, ns: String, name: String,
      paths: Seq[String]): Unit = {
    if (!meta.properties.get(graft.types.FieldIds.InteriorByIdProp)
        .contains("true")) return
    val bad = graft.util.Par.map(paths)(p =>
      graft.types.FieldIds.fileCarriesInteriorIds(spark, p)).count(!_)
    require(bad == 0,
      s"cannot refresh $ns.$name: $bad new source data file(s) " +
        "carry no interior field ids, but the mirror resolves list/map " +
        "interiors BY ID (an interior rename was adopted) — rewrite the " +
        "source files interior-stamped or re-register")
  }

  /** Parallel footer probe over `paths`: Some(true) = every file
    * carries top-level field ids, Some(false) = none does, None =
    * mixed. */
  private def idProbe(spark: SparkSession,
      paths: Seq[String]): Option[Boolean] = {
    val probed = graft.util.Par.map(paths)(p =>
      graft.types.FieldIds.fileCarriesIds(spark, p))
    if (probed.forall(identity)) Some(true)
    else if (!probed.exists(identity)) Some(false)
    else None
  }

  private def schemaShape(s: StructType): Seq[(String, DataType, Boolean)] =
    s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  /** Refresh-time adoption of the source's schema evolution, metadata
    * only — the shapes that replay losslessly into an adopted mirror:
    *
    *  - APPENDED nullable-or-defaulted columns (Iceberg ADD COLUMN) —
    *    schema and registry advance to the source's.
    *  - An id-matched RENAME: the source registry carries the SAME
    *    field id under a new name and the mirror reads BY ID (import
    *    stamped the source's ids), so the native rename conventions
    *    apply at every level — a flat column
    *    ([[graft.table.LakehouseTable.renameColumn]]), a struct-chain
    *    member (dotted registry key; the stored schema flips to
    *    chain-id stamping, the renameStructField convention), or a
    *    list/map INTERIOR member (interior registry key; the mirror
    *    flips to interior-by-id reads, the renameInteriorField
    *    convention, gated on every mirror file stamping interior
    *    ids). Old names are FREED
    *    ([[graft.types.FieldIds.FreedNamesProp]]); any current name
    *    reusing a freed name turns stats-unsafe.
    *  - A DROP: the stored field id vanished from the source registry
    *    — the column (and a struct root's dotted subtree) leaves the
    *    stored schema and registry, the id retires behind the
    *    high-water mark, the name is freed. A source drop+re-add under
    *    the same name decomposes as drop + append (fresh id at the
    *    end) with the reused name marked stats-unsafe — old values
    *    never resurrect because reads resolve by id. A vanished
    *    NESTED member id is likewise a safe member drop.
    *  - A legal type WIDENING (int→bigint, float→double, decimal
    *    precision growth at fixed scale — Iceberg's safe promotions)
    *    and required→nullable relaxation: value-preserving at read
    *    time, refused only for a bucket-partition source (recorded
    *    bucket indexes would mis-prune, the native widenColumn gate).
    *
    * Everything else refuses loudly: an illegal retype, reorder, a
    * changed id under a kept name, any rename/drop against a
    * NAME-BOUND mirror (the source files carry no field ids, so only
    * name resolution exists and old files would misread), or touching
    * a partition-source column (partition tuples and layout are keyed
    * by it). Reference tie: the reference's reader re-reads latest
    * metadata per query (`query_iceberg_duckdb.py:21-29`) and survives
    * any source evolution; this path gives an adopted mirror the same
    * resilience for every evolution that is sound under id
    * resolution. */
  private def adoptSourceEvolution(catalog: Catalog, spark: SparkSession,
      ns: String, name: String, meta0: graft.catalog.TableMetadata,
      tree: Tree): graft.catalog.TableMetadata = {
    import graft.types.FieldIds
    val oldShape = schemaShape(meta0.schema)
    val newShape = schemaShape(tree.schema)
    if (newShape == oldShape) return meta0
    def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)
    def refuse(why: String): Nothing = throw new IllegalArgumentException(
      s"cannot refresh $ns.$name: $why — re-register the tree under a " +
        "new name and repoint consumers")
    def isNested(dt: DataType): Boolean = dt match {
      case _: StructType | _: MapType | _: ArrayType => true
      case _ => false
    }
    val storedReg: Map[String, Int] =
      meta0.properties.get(FieldIds.RegistryProp)
        .map(FieldIds.decode).getOrElse(Map.empty)
    val storedFlat = storedReg.filterNot(_._1.contains("."))
    val srcFlat = tree.srcRegistry.filterNot(_._1.contains("."))
    val srcNameById: Map[Int, String] = srcFlat.map(_.swap)
    val tableById = meta0.schema.fields.exists(
      _.metadata.contains(FieldIds.MetaKey))
    val partSources = graft.table.PartitionTransforms
      .parseAll(meta0.partitionColumns).map(p => lower(p.source)).toSet

    // classify every existing top-level column BY FIELD ID — only a
    // read-by-id mirror with a full registry can attribute a rename or
    // drop; a name-bound mirror leaves both lists empty and any
    // non-append shape falls through to the refusal below
    val canDiffById = tableById && storedFlat.nonEmpty &&
      meta0.schema.fields.forall(f => storedFlat.contains(f.name))
    val (renames, drops) =
      if (!canDiffById) (Vector.empty[(String, String)], Vector.empty[String])
      else meta0.schema.fields.foldLeft(
          (Vector.empty[(String, String)], Vector.empty[String])) {
        case ((rs, ds), f) =>
          srcNameById.get(storedFlat(f.name)) match {
            case Some(n) if n == f.name => (rs, ds)
            case Some(n) => (rs :+ (f.name -> n), ds)
            case None => (rs, ds :+ f.name)
          }
      }
    val dropSet = drops.toSet
    renames.foreach { case (from, to) =>
      val f = meta0.schema.fields.find(_.name == from).get
      if (isNested(f.dataType))
        refuse(s"the source renamed nested column '$from' to '$to'; " +
          "nested schema pruning drops field-id metadata from pruned " +
          "read schemas, so old files would silently read null")
      if (partSources(lower(from)))
        refuse(s"the source renamed partition-source column '$from' — " +
          "partition tuples and directory layout are keyed by it")
    }
    drops.foreach { d =>
      if (partSources(lower(d)))
        refuse(s"the source dropped partition-source column '$d'")
    }
    if (meta0.schema.fields.length - drops.size < 1)
      refuse("the source dropped every imported column")
    val renameMap = renames.toMap
    val keptNames = meta0.schema.fields.map(_.name)
      .filterNot(n => dropSet(n) || renameMap.contains(n)).toSet
    renames.foreach { case (from, to) =>
      if (keptNames(to))
        refuse(s"the source renamed '$from' to '$to', colliding with a " +
          "retained column")
    }

    // ---- nested renames, classified by id one level further down ----
    // Struct-chain members (dotted registry keys) and list/map INTERIOR
    // members (interior registry keys): an id that MOVED to a new key
    // is a rename the id machinery serves — the old schema is rewritten
    // to the source's member names before the shape comparison below,
    // so a nested rename (alone or combined with flat evolutions)
    // replays losslessly. A vanished id is a member drop (safe — the
    // member is never requested again). A moved INTERIOR id flips the
    // mirror to interior-by-id reads, exactly as the native
    // renameInteriorField would, gated on every mirror file stamping
    // interior ids.
    val interiorTok = Set("element", "key", "value")
    def aligned(a: String, b: String): Boolean = {
      val (as, bs) = (a.split('.').toSeq, b.split('.').toSeq)
      as.length == bs.length && as.zip(bs).forall { case (x, y) =>
        (interiorTok(x), interiorTok(y)) match {
          case (true, true) => x == y
          case (false, false) => true
          case _ => false
        }
      }
    }
    def classifyNested(storedMap: Map[String, Int],
        srcMap: Map[String, Int], what: String)
        : (Seq[(String, String)], Seq[String]) = {
      val srcById = srcMap.map(_.swap)
      val classified = storedMap.toSeq.map { case (k, v) =>
        if (dropSet(k.takeWhile(_ != '.'))) (None, None)
        else srcById.get(v) match {
          case Some(k2) if k2 == k => (None, None)
          case Some(k2) if canDiffById && aligned(k, k2) =>
            (Some(k -> k2), None)
          // a vanished id under a by-id mirror is a member DROP — the
          // member leaves the stored schema below (never silently: a
          // name-bound mirror falls through to the shape refusal)
          case None if canDiffById => (None, Some(k))
          case None => (None, None)
          case Some(k2) => refuse(s"the source moved $what id $v from " +
            s"'$k' to '$k2' in a shape the mirror cannot attribute")
        }
      }
      (classified.flatMap(_._1), classified.flatMap(_._2))
    }
    val (chainRenames, chainDrops) = classifyNested(
      storedReg.filter(_._1.contains(".")),
      tree.srcRegistry.filter(_._1.contains(".")), "inner field")
    val (interiorRenames, interiorDrops) = classifyNested(
      meta0.properties.get(FieldIds.InteriorProp)
        .map(FieldIds.decode).getOrElse(Map.empty),
      tree.interiorRegistry, "list/map interior")
    if (interiorRenames.nonEmpty) {
      // interior-by-id reads need every mirror file interior-stamped
      val paths = catalog.snapshots(ns, name).flatMap(_.files)
        .filterNot(_.deleteFile.contains(true)).map(_.path).distinct
      val bad = graft.util.Par.map(paths)(p =>
        FieldIds.fileCarriesInteriorIds(spark, p)).count(!_)
      if (bad > 0)
        refuse(s"the source renamed a list/map interior member but " +
          s"$bad mirror file(s) carry no interior field ids — " +
          "interior-by-id resolution cannot serve them")
    }
    // rewrite the OLD schema's nested member names to the source's
    // (shallow paths first; a subtree key moved only because its
    // ancestor renamed needs no edit of its own)
    def applyKeyRenames(k: String, pairs: Seq[(String, String)]): String =
      pairs.foldLeft(k) { case (cur, (o, n)) =>
        if (cur == o) n
        else if (cur.startsWith(o + ".")) n + cur.stripPrefix(o)
        else cur
      }
    var baseSchema = meta0.schema
    var appliedNested = Vector.empty[(String, String)]
    (chainRenames ++ interiorRenames).sortBy(_._1.count(_ == '.'))
      .foreach { case (o, n) =>
        val oCur = applyKeyRenames(o, appliedNested)
        val newLeaf = n.split('.').last
        if (oCur.split('.').last != newLeaf) {
          val tok = oCur.split('.').toSeq
          baseSchema =
            if (tok.exists(interiorTok))
              graft.types.SchemaInfer.editInteriorField(baseSchema, tok,
                f => Some(f.copy(name = newLeaf)))
            else
              graft.types.SchemaInfer.editInnerField(baseSchema, tok,
                f => Some(f.copy(name = newLeaf)))
        }
        appliedNested :+= (oCur -> applyKeyRenames(n, appliedNested))
      }
    // nested member DROPS leave the rewritten base too (round 16 —
    // previously only the id was discarded and the shape comparison
    // below refused the refresh): shallow-first, root-most only (a
    // dropped subtree's descendants vanish with it), drop paths
    // translated through any ancestor renames applied above
    locally {
      var droppedRoots = Vector.empty[String]
      (chainDrops ++ interiorDrops).sortBy(_.count(_ == '.'))
        .foreach { k0 =>
          val k = applyKeyRenames(k0, appliedNested)
          if (!droppedRoots.exists(r => k == r || k.startsWith(r + "."))) {
            val tok = k.split('.').toSeq
            baseSchema =
              if (tok.exists(interiorTok))
                graft.types.SchemaInfer.editInteriorField(baseSchema, tok,
                  _ => None)
              else
                graft.types.SchemaInfer.editInnerField(baseSchema, tok,
                  _ => None)
            droppedRoots :+= k
          }
        }
    }

    // survivors in original order, flat renames applied over the
    // nested-rewritten base — the source schema must read as exactly
    // this prefix (allowing legal type WIDENING, Iceberg's safe
    // promotions, and required→nullable relaxation) plus appended
    // nullable-or-defaulted columns; anything else (illegal retype,
    // reorder, a changed id under a kept name) mismatches and refuses
    val survivors = baseSchema.fields.toSeq
      .filterNot(f => dropSet(f.name))
      .map(f => renameMap.get(f.name).fold(f)(n => f.copy(name = n)))
    val oldShape2 = schemaShape(StructType(survivors))
    val appended = tree.schema.fields.drop(oldShape2.size).toSeq
    def legalWiden(from: DataType, to: DataType): Boolean = (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.precision > d1.precision && d1.scale == d2.scale
      case _ => false
    }
    val prefixPairs = newShape.take(oldShape2.size).zip(oldShape2)
    require(newShape.size >= oldShape2.size &&
        prefixPairs.forall { case ((nn, nt, nnul), (on, ot, onul)) =>
          nn == on && (nnul == onul || (nnul && !onul)) &&
            (nt == ot || legalWiden(ot, nt))
        } &&
        appended.forall(f => f.nullable ||
          graft.types.ColumnDefaults.hasExistsDefault(f)),
      s"cannot refresh $ns.$name: the source schema evolved since " +
        s"import (now ${tree.schema.simpleString}) in a shape the " +
        "mirror cannot adopt (appended nullable-or-defaulted columns, " +
        "id-matched renames/drops — flat, struct-chain and list/map " +
        "interior — and legal type widenings replay losslessly; " +
        "other retypes/reorders/changed-ids do not" +
        (if (canDiffById) "" else "; this mirror resolves columns by " +
          "NAME, so renames/drops cannot be attributed") +
        ") — re-register the tree under a new name and repoint consumers")
    // a widened BUCKET-partition source would silently mis-prune: the
    // bucket transform hashes the value as its type (the native
    // widenColumn refusal, mirrored)
    prefixPairs.foreach { case ((nn, nt, _), (_, ot, _)) =>
      if (nt != ot && graft.table.PartitionTransforms
          .parseAll(meta0.partitionColumns).exists {
            case graft.table.BucketField(_, src) => src.equalsIgnoreCase(nn)
            case _ => false
          })
        refuse(s"the source widened bucket-partition source '$nn' — " +
          "retained files' recorded bucket indexes would mis-prune")
    }

    val stored =
      if (!tableById) tree.schema
      else if (chainRenames.nonEmpty)
        // a struct-chain rename rides on INNER by-id resolution: the
        // stored schema stamps the whole chain (the native
        // renameStructField flip)
        FieldIds.attachAll(tree.schema, tree.srcRegistry)
      else FieldIds.attach(tree.schema, tree.srcRegistry)
    catalog.updateSchema(ns, name, stored)
    // registry/interior/high-water advance to the source's, exactly as
    // a fresh register of the evolved tree would record them; dropped
    // ids retire behind a monotonic high-water mark
    val regProps =
      if (meta0.properties.contains(FieldIds.RegistryProp))
        Map(FieldIds.RegistryProp -> FieldIds.encode(tree.srcRegistry),
          FieldIds.LastIdProp ->
            (tree.lastColumnId.max(tree.srcRegistry.values.max)
              .max(tree.interiorRegistry.values.maxOption.getOrElse(0))
              .max(meta0.properties.get(FieldIds.LastIdProp)
                .flatMap(s => scala.util.Try(s.toInt).toOption)
                .getOrElse(0))).toString) ++
          (if (tree.interiorRegistry.isEmpty) Map.empty[String, String]
           else Map(FieldIds.InteriorProp ->
             FieldIds.encode(tree.interiorRegistry)))
      else Map.empty[String, String]
    // freed names: renamed-from (flat and nested), dropped roots and
    // their dotted subtree; any CURRENT name sitting on a freed name
    // (rename onto a freed name, drop+re-add, append under a freed
    // name) has untrustworthy name-keyed log stats forever
    val freedNow: Seq[String] = renames.map(_._1) ++ drops ++
      chainRenames.map(_._1) ++ interiorRenames.map(_._1) ++
      chainDrops ++ interiorDrops ++
      storedReg.keys.filter(k =>
        k.contains(".") && dropSet(k.takeWhile(_ != '.'))).toSeq
    val freedAll = FieldIds.namesSet(meta0.properties,
      FieldIds.FreedNamesProp) ++ freedNow.map(lower)
    val nowUnsafe = tree.schema.fields.map(_.name)
      .filter(n => freedAll(lower(n))).toSeq
    val freedProps =
      (if (freedNow.isEmpty) Map.empty[String, String]
       else Map(FieldIds.FreedNamesProp ->
         FieldIds.addNames(meta0.properties, FieldIds.FreedNamesProp,
           freedNow))) ++
        (if (nowUnsafe.isEmpty) Map.empty[String, String]
         else Map(FieldIds.StatsUnsafeProp ->
           FieldIds.addNames(meta0.properties, FieldIds.StatsUnsafeProp,
             nowUnsafe)))
    val unset =
      if (tree.interiorRegistry.isEmpty &&
          meta0.properties.contains(FieldIds.InteriorProp))
        Seq(FieldIds.InteriorProp)
      else Seq.empty
    // a moved interior id flips the mirror to interior-by-id reads —
    // scans attach interior ids and request full subtrees, the same
    // contract the native renameInteriorField establishes
    val interiorModeProps =
      if (interiorRenames.isEmpty) Map.empty[String, String]
      else Map(FieldIds.InteriorByIdProp -> "true")
    if ((regProps ++ freedProps ++ interiorModeProps).nonEmpty ||
        unset.nonEmpty)
      catalog.updateProperties(ns, name,
        regProps ++ freedProps ++ interiorModeProps, unset)
    catalog.loadTable(ns, name)
  }

  /** Re-sync an ADOPTED table with its live source tree: walk the
    * foreign metadata again and land everything committed since the
    * recorded watermark ([[ImportedSnapshotProp]]) as native commits.
    *
    *  - Source unchanged → no-op (idempotent; returns `snapshot=None`).
    *  - Pure growth (no file left the snapshot): ONE `add_files` delta
    *    commit — new equality deletes and data files interleaved by
    *    sequence (deletes first at equal sequence, exactly register's
    *    rule: new eq deletes list BEFORE new data, and graft's
    *    replay-order application then hits all previously-committed
    *    data, which all carries lower sequence), led by one merged
    *    vector for the NEW position-delete files (old files' positions
    *    are already subtracted by the vectors landed at register time;
    *    new vectors may reference old data files — the reference map
    *    spans the source's full current data set).
    *  - A foreign rewrite (compaction / overwrite / expired delete
    *    files): one RESET commit (`replace`) re-listing the source's
    *    full current state — refused if the mirror advanced past the
    *    last sync with real commits (the reset would silently discard
    *    them; checkpoint folds and WAP-staged commits don't count).
    *
    * `perSnapshot = true` replays the window ONE NATIVE COMMIT PER
    * SOURCE SNAPSHOT instead of a single folded delta — a source
    * append lands as `add_files`, a source delete as
    * `eq_delete`/`mor_delete`, a same-snapshot [delete, data] shape as
    * the mergeDelta commit form — so the mirror's history is
    * indistinguishable from native writes: the streaming table source
    * tails it (delete commits lead batches exactly as admission
    * control requires), the changelog/CDC tiers read it (no
    * mixed-shape commit to refuse on), and incremental consumers see
    * the source's real commit boundaries. The watermark advances after
    * EVERY step, so a crash mid-replay resumes where it stopped. A
    * rewrite inside the window degrades to the delta path's single
    * reset at the source's current state (intermediate snapshots
    * collapse — per-snapshot replay can only express additive steps).
    * Cost: one metadata walk per source snapshot instead of one total.
    *
    * Costs match register: metadata-sized walks, predicate-sized
    * delete-file I/O, zero data movement. Source schema evolution is
    * ADOPTED in place, metadata-only (see [[adoptSourceEvolution]]):
    * appended nullable-or-defaulted columns (Iceberg ADD COLUMN — the
    * routine live-CDC evolution), partition-spec evolution, legal type
    * widenings, and — on a read-by-id mirror — id-matched RENAMEs and
    * DROPs at every level (flat columns, struct-chain members, and
    * list/map interior members, the last flipping the mirror to
    * interior-by-id reads); the mirror's schema and field-id
    * registries advance to the source's with one metadata write, then
    * the sync proceeds (a running stream over the mirror fails its
    * schema pin with restart guidance, by design). What still refuses
    * with re-register guidance: an illegal retype / reorder / changed
    * ids of existing columns / renames-drops against a name-bound
    * mirror (replaying those into a reshaped mirror would silently
    * misread values).
    *
    * Every refresh commit is CONDITIONAL on the mirror head observed
    * when the delta was computed: two concurrent refreshers would
    * otherwise both read the same watermark and land the same files
    * twice (doubled rows). On conflict the whole pass retries from the
    * persisted watermark — steps another refresher already landed
    * skip, interleaved native commits (additive, so still sound)
    * re-base the expectation. */
  def refresh(catalog: Catalog, spark: SparkSession, ns: String, name: String,
      root: Option[Path] = None, statFooters: Boolean = false,
      perSnapshot: Boolean = false,
      token: Option[String] = None,
      auth: Option[RestCatalog.Auth] = None): RefreshReport = {
    val effAuth = auth.getOrElse(RestCatalog.fromToken(token))
    var attemptsLeft = 3
    while (attemptsLeft > 0) {
      try return refreshOnce(catalog, spark, ns, name, root, statFooters,
        perSnapshot, effAuth)
      catch {
        case _: graft.catalog.CommitConflictException if attemptsLeft > 1 =>
          attemptsLeft -= 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def refreshOnce(catalog: Catalog, spark: SparkSession,
      ns: String, name: String, root: Option[Path],
      statFooters: Boolean, perSnapshot: Boolean,
      auth: RestCatalog.Auth): RefreshReport = {
    implicit val fmts: Formats = DefaultFormats
    val meta0 = catalog.loadTable(ns, name)
    val source: String = root.map(_.toString).getOrElse(
      meta0.properties.getOrElse(ImportedFromProp,
        throw new IllegalArgumentException(
          s"$ns.$name was not imported from an Iceberg tree " +
            s"(no $ImportedFromProp property) — nothing to refresh")))
    val watermark = meta0.properties.getOrElse(ImportedSnapshotProp,
      throw new IllegalArgumentException(
        s"$ns.$name carries no $ImportedSnapshotProp watermark — " +
          "re-register the tree")).toLong
    // a REST-adopted mirror re-fetches the catalog's CURRENT metadata
    // pointer; a directory-adopted one re-reads the tree in place
    val tree =
      if (source.startsWith(RestPrefix)) {
        val ref = source.stripPrefix(RestPrefix)
        val hash = ref.lastIndexOf('#')
        val sep = ref.indexOf('\u001f', hash + 1)
        require(hash > 0 && sep > hash,
          s"$ns.$name: malformed REST import ref '$source' — re-register")
        restTree(ref.take(hash), ref.substring(hash + 1, sep),
          ref.substring(sep + 1), auth)
      } else loadTree(Paths.get(source))
    val table = LakehouseTable.load(catalog, spark, ns, name)
    if (tree.currentId == watermark)
      return RefreshReport(table, None, watermark, watermark, 0, 0, 0,
        reset = false, commits = 0)

    // The mirror adopts the source's routine schema evolutions in
    // place, metadata-only (appends, id-matched renames/drops — see
    // adoptSourceEvolution); unadoptable shapes refuse with
    // re-register guidance.
    val meta = adoptSourceEvolution(catalog, spark, ns, name, meta0, tree)
    // Source partition-spec evolution ADOPTS through graft's own spec
    // evolution: the mirror's current spec advances (one metadata
    // write, create-time validation re-run), files keep the partition
    // values they were imported with — mixed coverage reads stay exact,
    // pruning is conservative for old-spec files, and layout-
    // attributing ops keep their compact-first refusals; new source
    // files arrive attributed under the new spec (walkSnapshot values
    // only default-spec manifests, which IS the adopted spec).
    if (tree.partCols != meta.partitionColumns)
      LakehouseTable.load(catalog, spark, ns, name).updateSpec(tree.partCols)
    meta.properties.get(graft.types.FieldIds.RegistryProp)
      .map(graft.types.FieldIds.decode).foreach { stored =>
        require(tree.srcRegistry == stored,
          s"cannot refresh $ns.$name: the source field-id registry changed " +
            "since import (a drop/re-add or rename evolution) — re-register")
      }
    meta.properties.get(graft.types.FieldIds.InteriorProp)
      .map(graft.types.FieldIds.decode).foreach { stored =>
        require(tree.interiorRegistry == stored,
          s"cannot refresh $ns.$name: the source's list/map interior ids " +
            "changed since import — re-register")
      }
    require(tree.snapshots.exists(s =>
        (s \ "snapshot-id").extract[Long] == watermark),
      s"cannot refresh $ns.$name: watermark snapshot $watermark expired " +
        "from the source tree — the delta cannot be reconstructed; " +
        "re-register the tree under a new name")

    // conditional-commit base: the mirror head as of this pass's reads —
    // any interleaved commit (a concurrent refresher, a native writer)
    // conflicts instead of silently double-landing the delta
    val headAtEntry = catalog.currentSnapshot(ns, name).map(_.snapshotId)

    if (perSnapshot) replayPerSnapshot(catalog, spark, ns, name, tree,
      meta, watermark, headAtEntry, statFooters) match {
      case Some(report) => return report
      case None =>
        // a rewrite inside the window: additive steps up to it are
        // already landed and watermarked — re-enter the delta path
        // fresh, which expresses the remainder as one reset
        return refreshOnce(catalog, spark, ns, name, root, statFooters,
          perSnapshot = false, auth)
    }

    val cur = walkSnapshot(spark, tree, tree.currentId, statFooters)
    val (wmData, wmDels) = walkPathSets(tree, watermark)
    // v3 row lineage carries through refresh: files the source added
    // since the watermark take their inheritance-assigned first-row-ids
    // (explicit writer-materialized values already captured in the walk)
    lazy val rowIds = rowLineage(spark, tree)
    val dataAdded = cur.dataWithSeq.filterNot(e => wmData(e._1.path))
      .map {
        case (e, seq) if e.firstRowId.isEmpty &&
            rowIds.exists(_._2(e.path)) =>
          (e.copy(lineageInFile = Some(true)), seq)
        case (e, seq) if e.firstRowId.isEmpty && rowIds.isDefined =>
          (e.copy(firstRowId = rowIds.get._1.get(e.path)), seq)
        case x => x
      }
    val dataRemoved = wmData -- cur.dataPlainPaths
    val posAdded = cur.posPlans.filterNot(p => wmDels(p.path))
    val dvAdded = cur.dvPlans.filterNot(p => wmDels(p.path))
    val eqAdded = cur.eqPlans.filterNot(p => wmDels(p.path))
    val delRemoved = wmDels -- (cur.posPlans.map(_.path) ++
      cur.dvPlans.map(_.path) ++ cur.eqPlans.map(_.path)).toSet

    // new data files must match the table's resolution mode — a foreign
    // writer switch (id-stamped vs id-less) would silently null-fill
    val tableById = meta.schema.fields.exists(
      _.metadata.contains(graft.types.FieldIds.MetaKey))
    if (dataAdded.nonEmpty) idProbe(spark, dataAdded.map(_._1.path)) match {
      case Some(m) => require(m == tableById,
        s"cannot refresh $ns.$name: new source data files are " +
          s"${if (m) "id-stamped" else "id-less"} but the table resolves " +
          s"by ${if (tableById) "id" else "name"} — rewrite uniformly or " +
          "re-register")
      case None => throw new IllegalArgumentException(
        s"cannot refresh $ns.$name: new source data files mix id-stamped " +
          "and id-less footers — no single resolution mode; rewrite " +
          "uniformly before refreshing")
    }
    if (dataAdded.nonEmpty)
      requireInteriorStampedIfMode(spark, meta, ns, name,
        dataAdded.map(_._1.path))

    val additive = dataRemoved.isEmpty && delRemoved.isEmpty
    if (!additive) {
      // the source rewrote history out from under the mirror: only a
      // reset can express it, and a reset discards whatever the mirror
      // committed natively since the last sync — refuse in that case
      val syncId = meta.properties.get(SyncSnapshotProp).map(_.toLong)
      val clean = syncId.exists { sid =>
        catalog.snapshots(ns, name).filter(_.snapshotId > sid).forall(s =>
          s.operation == Snaplog.OpCheckpoint || Snaplog.isWapStaged(s))
      }
      require(clean,
        s"cannot refresh $ns.$name: the source rewrote files " +
          s"(${dataRemoved.size} data / ${delRemoved.size} delete file(s) " +
          "left the snapshot) and the mirror advanced past its last sync " +
          "with native commits a reset would discard — re-register under " +
          "a new name, or reconcile manually")
    }

    val (posToLand, dvToLand, dataToLand) =
      if (additive) (posAdded, dvAdded, dataAdded)
      else (cur.posPlans, cur.dvPlans, cur.dataWithSeq)
    val eqToLand = if (additive) eqAdded else cur.eqPlans
    val eqStats = validateEq(spark, eqToLand)
    // reference map spans the source's FULL current data set: a new
    // vector legitimately names rows of data files imported long ago
    val posEntries = buildPosEntries(spark, catalog, ns, name,
      posToLand, dvToLand, cur.dataPlainPaths)
    val eqEntries = buildEqEntries(spark, catalog, ns, name, eqToLand, eqStats)
    val posCount = posToLand.size + dvToLand.size
    val snap = catalog.commit(ns, name,
      if (additive) Snaplog.OpAddFiles else Snaplog.OpReplace,
      posEntries ++ orderedTail(eqEntries, dataToLand),
      Map("iceberg-refresh" -> s"v${tree.version}.metadata.json",
        "iceberg-snapshot-id" -> tree.currentId.toString,
        "iceberg-refresh-from" -> watermark.toString,
        "iceberg-refresh-reset" -> (!additive).toString,
        "position-delete-files" -> posCount.toString,
        "equality-delete-files" -> eqToLand.size.toString),
      expectedSnapshotId = headAtEntry)
    // ImportedFromProp stays as REGISTERED (a REST ref must survive a
    // refresh; a root override is a one-call affair, not a re-point)
    catalog.updateProperties(ns, name,
      Map(ImportedSnapshotProp -> tree.currentId.toString,
        SyncSnapshotProp -> snap.snapshotId.toString), Seq.empty)
    // a refreshed source may carry fresh ANALYZE stats for the synced
    // snapshot — adopt them (stale native stats stay otherwise)
    adoptStatistics(catalog, ns, name, tree, snap.snapshotId)
    RefreshReport(LakehouseTable.load(catalog, spark, ns, name), Some(snap),
      watermark, tree.currentId, dataToLand.size,
      posCount, eqToLand.size, reset = !additive)
  }

  /** Source snapshot ids from `from` (exclusive) to the current
    * snapshot, oldest first, resolved by the parent-snapshot-id chain —
    * the only walk that is correct under branching (the flat snapshot
    * list may hold other branches' commits). Refuses when the chain
    * does not reach the watermark (branch switch, expired parents):
    * per-snapshot replay cannot reconstruct those boundaries, the
    * folded delta still can. */
  private def lineage(tree: Tree, from: Long)
      (implicit fmts: Formats): Seq[Long] = {
    val byId = tree.snapshots
      .map(s => (s \ "snapshot-id").extract[Long] -> s).toMap
    var chain = List.empty[Long]
    var cur = tree.currentId
    while (cur != from) {
      chain = cur :: chain
      cur = byId.get(cur).flatMap(s => s \ "parent-snapshot-id" match {
        case JNothing | JNull => None
        case j => Some(j.extract[Long])
      }).getOrElse(throw new IllegalArgumentException(
        s"per-snapshot refresh: the parent chain from current snapshot " +
          s"${tree.currentId} does not reach watermark $from (branch " +
          "switch or expired parents) — refresh without perSnapshot, " +
          "or re-register"))
    }
    chain
  }

  /** The perSnapshot replay loop: one native commit per source
    * snapshot in (watermark, current]. Returns None when a step is
    * non-additive (a rewrite) — the caller re-enters the delta path,
    * which expresses the remainder as one reset. Each step advances
    * the watermark BEFORE the next walk, so a crash or a commit
    * conflict resumes exactly where it stopped. */
  private def replayPerSnapshot(catalog: Catalog, spark: SparkSession,
      ns: String, name: String, tree: Tree,
      meta0: graft.catalog.TableMetadata, watermark: Long,
      headAtEntry: Option[Long], statFooters: Boolean)
      (implicit fmts: Formats): Option[RefreshReport] = {
    val chain = lineage(tree, watermark)
    lazy val rowIds = rowLineage(spark, tree)
    val tableById = meta0.schema.fields.exists(
      _.metadata.contains(graft.types.FieldIds.MetaKey))
    var (prevData, prevDels) = walkPathSets(tree, watermark)
    var expected = headAtEntry
    var wm = watermark
    var lastSnap: Option[Snapshot] = None
    var commits = 0; var dataN = 0; var posN = 0; var eqN = 0
    chain.foreach { sid =>
      val cur = walkSnapshot(spark, tree, sid, statFooters)
      val curDelPaths: Set[String] = (cur.posPlans.map(_.path) ++
        cur.dvPlans.map(_.path) ++ cur.eqPlans.map(_.path)).toSet
      if ((prevData -- cur.dataPlainPaths).nonEmpty ||
          (prevDels -- curDelPaths).nonEmpty)
        return None // rewrite: remainder lands as the delta path's reset
      val dataAdded = cur.dataWithSeq.filterNot(e => prevData(e._1.path))
        .map {
          case (e, seq) if e.firstRowId.isEmpty &&
              rowIds.exists(_._2(e.path)) =>
            (e.copy(lineageInFile = Some(true)), seq)
          case (e, seq) if e.firstRowId.isEmpty && rowIds.isDefined =>
            (e.copy(firstRowId = rowIds.get._1.get(e.path)), seq)
          case x => x
        }
      val posAdded = cur.posPlans.filterNot(p => prevDels(p.path))
      val dvAdded = cur.dvPlans.filterNot(p => prevDels(p.path))
      val eqAdded = cur.eqPlans.filterNot(p => prevDels(p.path))
      if (dataAdded.nonEmpty) idProbe(spark, dataAdded.map(_._1.path)) match {
        case Some(m) => require(m == tableById,
          s"cannot refresh $ns.$name: new source data files are " +
            s"${if (m) "id-stamped" else "id-less"} but the table resolves " +
            s"by ${if (tableById) "id" else "name"} — rewrite uniformly or " +
            "re-register")
        case None => throw new IllegalArgumentException(
          s"cannot refresh $ns.$name: new source data files mix id-stamped " +
            "and id-less footers — no single resolution mode; rewrite " +
            "uniformly before refreshing")
      }
      if (dataAdded.nonEmpty)
        requireInteriorStampedIfMode(spark, meta0, ns, name,
          dataAdded.map(_._1.path))
      if (dataAdded.nonEmpty || posAdded.nonEmpty || dvAdded.nonEmpty ||
          eqAdded.nonEmpty) {
        val eqStats = validateEq(spark, eqAdded)
        val posEntries = buildPosEntries(spark, catalog, ns, name,
          posAdded, dvAdded, cur.dataPlainPaths)
        val eqEntries = buildEqEntries(spark, catalog, ns, name,
          eqAdded, eqStats)
        // native op per source shape, so downstream tiers (streaming
        // admission, changelog, CDC) see commits indistinguishable from
        // graft's own writers: delete-only snapshots use the delete
        // ops; a same-snapshot [eq-delete, data] pair is the mergeDelta
        // commit form (equal sequence — the data survives its own
        // delete, expressed by replay position); anything carrying
        // position vectors uses the register shape (vectors lead an
        // add_files commit, which admission control admits)
        val op =
          if (dataAdded.isEmpty && eqEntries.isEmpty && posEntries.nonEmpty)
            Snaplog.OpMorDelete
          else if (posEntries.isEmpty && eqEntries.nonEmpty)
            Snaplog.OpEqDelete
          else Snaplog.OpAddFiles
        val snap = catalog.commit(ns, name, op,
          posEntries ++ orderedTail(eqEntries, dataAdded),
          Map("iceberg-refresh" -> s"v${tree.version}.metadata.json",
            "iceberg-snapshot-id" -> sid.toString,
            "iceberg-refresh-from" -> wm.toString,
            "iceberg-refresh-reset" -> "false",
            "position-delete-files" -> (posAdded.size + dvAdded.size).toString,
            "equality-delete-files" -> eqAdded.size.toString),
          expectedSnapshotId = expected)
        lastSnap = Some(snap); commits += 1
        dataN += dataAdded.size
        posN += posAdded.size + dvAdded.size
        eqN += eqAdded.size
        expected = Some(snap.snapshotId)
        catalog.updateProperties(ns, name,
          Map(ImportedSnapshotProp -> sid.toString,
            SyncSnapshotProp -> snap.snapshotId.toString), Seq.empty)
      } else {
        // an empty source snapshot (audit no-op): watermark only
        catalog.updateProperties(ns, name,
          Map(ImportedSnapshotProp -> sid.toString), Seq.empty)
      }
      wm = sid
      prevData = cur.dataPlainPaths
      prevDels = curDelPaths
    }
    Some(RefreshReport(LakehouseTable.load(catalog, spark, ns, name),
      lastSnap, watermark, tree.currentId, dataN, posN, eqN,
      reset = false, commits = commits))
  }
}
