package graft.types

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Parquet field-id indirection for column RENAME / DROP — the Iceberg
  * evolution model, carried by Spark's native field-id support
  * (`spark.sql.parquet.fieldId.{write,read}.enabled`; reader matches a
  * requested column to a parquet column BY ID when the requested
  * StructField carries `parquet.field.id` metadata).
  *
  * Lifecycle: every table gets a name→id REGISTRY at creation (a table
  * property), and every managed write stamps the ids into its parquet
  * files — but reads keep plain name matching (the stored schema stays
  * id-free), so tables holding foreign files (add_files / Iceberg
  * import, whose ids are absent or numbered by another system) behave
  * exactly as before. The FIRST rename/drop flips the table to
  * read-by-id: the stored schema becomes id-bearing and every
  * subsequent scan resolves columns by id, so files written under the
  * OLD name still serve the renamed column's values — including through
  * time travel. Dropped ids are never reused (a high-water property),
  * so re-adding a dropped column's name yields nulls for old rows, not
  * resurrected data. */
object FieldIds {

  /** Spark's field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  val MetaKey = "parquet.field.id"
  /** Table property: the name→id registry, `"name:id,name:id"`. */
  val RegistryProp = "graft.field-ids"
  /** Table property: high-water id mark — ids of dropped columns are
    * retired forever, never reassigned. */
  val LastIdProp = "graft.last-field-id"
  /** Table property: lowercase names RELEASED by a rename-from or drop.
    * A later column taking a freed name is a REBINDING — old files'
    * name-keyed column stats then describe a different column. */
  val FreedNamesProp = "graft.freed-names"
  /** Table property: lowercase CURRENT names whose binding reuses a
    * freed name. Their log-recorded [min,max] stats are untrustworthy
    * forever (historical entries cannot be rewritten), so every stats
    * consumer — file pruning, metadata aggregates, COW group filtering —
    * must treat predicates on them as never-prunable. */
  val StatsUnsafeProp = "graft.stats-unsafe"
  /** Table property: LIST/MAP INTERIOR ids (round 14) — paths in
    * Iceberg name-mapping tokens (`arr.element`, `m.key`, `m.value`,
    * `arr.element.x`, …), same `name:id` encoding as the registry but
    * a SEPARATE map: interior ids are stamped into managed files and
    * declared by the Iceberg export (id-stable across re-exports and
    * round-trips — a strict-by-id external reader must match the file
    * stamps). Read-side they stay detached — Spark's nested schema
    * pruning drops interior field-id metadata (pinned in
    * FieldEvolutionSpec) — EXCEPT once [[InteriorByIdProp]] flips: an
    * interior-renamed table attaches them and requests full interior
    * subtrees, which is what lets old files serve renamed members by
    * id in every plan shape (round 15). */
  val InteriorProp = "graft.interior-ids"

  /** Table property: "true" once a LIST/MAP INTERIOR field has been
    * renamed (round 15). The table's reads then resolve interior
    * struct members BY ID. Spark's nested schema pruning rebuilds
    * pruned read schemas WITHOUT interior field-id metadata (the
    * FieldEvolutionSpec pin), so the ids must return to the pruned
    * shape before the parquet reader sees it — round 16 does exactly
    * that and KEEPS full nested pruning: the table-API scan stamps the
    * id map into the reader options and
    * [[graft.sql.InteriorIdRestoreRule]] re-attaches it post-pruning;
    * the SQL scan builder re-attaches onto the pruned requested schema
    * directly (GraftScanBuilder.pruneColumns). Sessions WITHOUT the
    * graft extensions fall back to the round-15 contract for the
    * table API — a session clone with nested pruning disabled
    * requesting full interior subtrees — trading read width for
    * correctness, never correctness. */
  val InteriorByIdProp = "graft.interior-by-id"

  /** Parquet READER option carrying an interior-id map (encoded like
    * the registry) on scans of an interior-renamed table. Spark's
    * nested schema pruning drops interior field-id metadata from the
    * pruned read schema (the FieldEvolutionSpec pin); the option rides
    * the relation into the physical plan, where
    * [[graft.sql.InteriorIdRestoreRule]] re-attaches the ids onto the
    * PRUNED schema — so interior-renamed tables keep full nested
    * pruning (round 16; r15 shipped the correct-but-widened
    * full-subtree fallback, which remains for sessions without the
    * graft extensions). Lowercase: reader options are case-insensitive
    * and the relation records them as given. */
  val InteriorOptKey = "graft.interiorids"

  def namesSet(props: Map[String, String], key: String): Set[String] =
    props.get(key).toSeq.flatMap(_.split(',')).filter(_.nonEmpty).toSet

  def addNames(props: Map[String, String], key: String,
      add: Seq[String]): String =
    (namesSet(props, key) ++ add.map(_.toLowerCase(java.util.Locale.ROOT)))
      .toSeq.sorted.mkString(",")

  /** Iceberg v3 RESERVED field ids for the row-lineage columns a
    * rewrite materializes into data files (spec §"Reserved Field IDs":
    * `_row_id` / `_last_updated_sequence_number`) — stamped so a
    * strict-by-id external v3 reader resolves the carried lineage. */
  val RowIdFieldId = 2147483540L
  val LastUpdatedFieldId = 2147483539L
  val RowIdCol = "_row_id"
  val LastUpdatedCol = "_last_updated_sequence_number"

  val WriteConf = "spark.sql.parquet.fieldId.write.enabled"
  val ReadConf = "spark.sql.parquet.fieldId.read.enabled"
  /** With [[ReadConf]] on, a file carrying NO ids at all refuses under
    * an id-bearing read schema unless this is also set — then Spark
    * name-matches that file (graft's intended semantics: id-less files
    * exist only on never-evolved tables, where names are stable, and
    * the lineage read's reserved-id columns null-fill for them). The
    * id-bearing-files guard on EVOLVED tables lives at registration
    * time, not in this reader error. */
  val ReadIgnoreMissingConf = "spark.sql.parquet.fieldId.read.ignoreMissing"

  /** The two managed-write confs: field-id stamping on, INT64-micros
    * timestamps (footer stats + Iceberg-v2-legal data files). Every
    * managed write sets them in its own write job's conf, never in the
    * session's ([[graft.table.ManagedParquetFormat]]). */
  val ManagedWriteConfs: Map[String, String] = Map(
    WriteConf -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** Struct-CHAIN paths of a schema as component sequences, depth-first
    * (containers before their children): every inner field reachable
    * through structs alone. List/map interiors carry no StructField
    * metadata (no id carrier) and are excluded — they stay name-bound
    * forever, which is why inner rename/drop refuse below them. */
  def structPathSeqs(schema: StructType): Seq[Seq[String]] = {
    def walk(prefix: Seq[String], dt: org.apache.spark.sql.types.DataType)
        : Seq[Seq[String]] = dt match {
      case st: StructType => st.fields.toSeq.flatMap { f =>
        val p = prefix :+ f.name
        p +: walk(p, f.dataType)
      }
      case _ => Seq.empty
    }
    schema.fields.toSeq.flatMap(f => walk(Seq(f.name), f.dataType))
  }

  /** Registry for a fresh table: top-level ids 1..n in schema order,
    * then INNER struct-chain fields (round 13) depth-first above the
    * top block — dotted keys ("props.score:7"), so inner rename/drop
    * have ids to resolve by. None when a top-level name cannot
    * round-trip the encoding (such a table never becomes renameable);
    * an inner subtree with un-encodable component names is silently
    * skipped (that subtree alone stays un-renameable, like the flat
    * refusal but scoped). */
  def registryFor(schema: StructType): Option[Map[String, Int]] =
    if (schema.fieldNames.exists(n => n.contains(",") || n.contains(":")))
      None
    else {
      val top = schema.fieldNames.zipWithIndex.map {
        case (n, i) => n -> (i + 1)
      }
      var next = schema.fields.length
      // a TOP-LEVEL name containing '.' would collide with dotted inner
      // keys — such schemas keep a flat-only registry (inner evolution
      // refuses with guidance; flat rename/drop stay available)
      val inner =
        if (schema.fieldNames.exists(_.contains("."))) Seq.empty
        else structPathSeqs(schema).flatMap { parts =>
          if (parts.exists(c =>
              c.contains(",") || c.contains(":") || c.contains("."))) None
          else { next += 1; Some(parts.mkString(".") -> next) }
        }
      Some((top ++ inner).toMap)
    }

  /** INTERIOR paths of a schema (everything at or below a list/map
    * crossing), depth-first, in Iceberg name-mapping tokens: an array
    * appends `element`, a map `key`/`value`, struct fields their names.
    * Each key names exactly one schema node (a column has one type, so
    * a struct-chain path and an interior path can never denote two
    * nodes at once). Subtrees with un-encodable component names (`,`
    * `:` `.`) are skipped — they just keep fresh-id export allocation. */
  def interiorPathSeqs(schema: StructType): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def ok(n: String): Boolean =
      !n.contains(",") && !n.contains(":") && !n.contains(".")
    // below = are we at/below a container crossing (emit keys)?
    def walk(path: String, dt: org.apache.spark.sql.types.DataType,
        below: Boolean): Unit = dt match {
      case st: StructType => st.fields.foreach { f =>
        if (ok(f.name)) {
          val p = s"$path.${f.name}"
          if (below) out += p
          walk(p, f.dataType, below)
        }
      }
      case a: org.apache.spark.sql.types.ArrayType =>
        out += s"$path.element"
        walk(s"$path.element", a.elementType, below = true)
      case m: org.apache.spark.sql.types.MapType =>
        out += s"$path.key"
        walk(s"$path.key", m.keyType, below = true)
        out += s"$path.value"
        walk(s"$path.value", m.valueType, below = true)
      case _ => ()
    }
    schema.fields.foreach(f =>
      if (ok(f.name)) walk(f.name, f.dataType, below = false))
    out.toSeq
  }

  /** Interior-id map for a fresh schema: sequential allocation starting
    * ABOVE `startId` (the main registry's high-water mark, so the two
    * maps never collide). Empty when the schema has no containers. */
  def interiorFor(schema: StructType, startId: Int): Map[String, Int] = {
    var next = startId
    interiorPathSeqs(schema).map { p => next += 1; p -> next }.toMap
  }

  /** Entries of `interior` for paths interiorPathSeqs no longer emits
    * are retired; NEW paths allocate above the given high-water mark.
    * Returns (updated map, new high-water). Evolution ops call this so
    * an added container column gets stable interior ids from its first
    * write. */
  def interiorEvolved(schema: StructType, interior: Map[String, Int],
      highWater: Int): (Map[String, Int], Int) = {
    val want = interiorPathSeqs(schema)
    var next = highWater
    val kept = want.map { p =>
      p -> interior.getOrElse(p, { next += 1; next })
    }.toMap
    (kept, next)
  }

  /** Stamp INTERIOR struct-field ids (the only interior carriers —
    * element/key/value nodes themselves have no Spark metadata slot;
    * their ids live in the map alone, read by the export). Composes
    * with [[attach]]/[[attachAll]]: the interior map holds ONLY
    * interior keys, so struct-chain fields (whose paths are never in
    * it) pass through untouched, and the walk needs no above/below
    * tracking — a lookup miss IS the pass-through. */
  def attachInterior(schema: StructType, interior: Map[String, Int]): StructType = {
    if (interior.isEmpty) return schema
    def walk(dt: org.apache.spark.sql.types.DataType, path: String)
        : org.apache.spark.sql.types.DataType = dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val p = s"$path.${f.name}"
        val g = f.copy(dataType = walk(f.dataType, p))
        interior.get(p) match {
          case Some(id) => g.copy(metadata = new MetadataBuilder()
            .withMetadata(g.metadata).putLong(MetaKey, id.toLong).build())
          case None => g
        }
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = walk(a.elementType, s"$path.element"))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = walk(m.keyType, s"$path.key"),
          valueType = walk(m.valueType, s"$path.value"))
      case other => other
    }
    StructType(schema.fields.map(f =>
      f.copy(dataType = walk(f.dataType, f.name))))
  }

  /** Inverse of [[attachInterior]]: every interior struct-member id
    * stamped in the schema, keyed by name-mapping path — how the DSv2
    * scan builder recovers the map from its (interior-attached) table
    * schema to re-stamp a pruned requested schema. */
  def collectInteriorIds(schema: StructType): Map[String, Int] = {
    val out = scala.collection.mutable.Map.empty[String, Int]
    def walk(dt: org.apache.spark.sql.types.DataType, path: String,
        below: Boolean): Unit = dt match {
      case st: StructType => st.fields.foreach { f =>
        val p = s"$path.${f.name}"
        if (below && f.metadata.contains(MetaKey))
          out(p) = f.metadata.getLong(MetaKey).toInt
        walk(f.dataType, p, below)
      }
      case a: org.apache.spark.sql.types.ArrayType =>
        walk(a.elementType, s"$path.element", below = true)
      case m: org.apache.spark.sql.types.MapType =>
        walk(m.keyType, s"$path.key", below = true)
        walk(m.valueType, s"$path.value", below = true)
      case _ => ()
    }
    schema.fields.foreach(f => walk(f.dataType, f.name, below = false))
    out.toMap
  }

  def encode(reg: Map[String, Int]): String =
    reg.toSeq.sortBy(_._2).map { case (n, i) => s"$n:$i" }.mkString(",")

  /** Tolerant decode: malformed entries are DROPPED, not thrown — a
    * hand-corrupted registry then degrades to "those columns never get
    * ids" (the rename gate later refuses with footer evidence) instead
    * of crashing every write of the table. */
  def decode(s: String): Map[String, Int] =
    s.split(',').filter(_.nonEmpty).flatMap { kv =>
      val i = kv.lastIndexOf(':')
      if (i <= 0) None
      else kv.substring(i + 1).toIntOption.filter(_ > 0)
        .map(id => kv.substring(0, i) -> id)
    }.toMap

  /** Schema with `parquet.field.id` metadata stamped from the registry
    * — TOP-LEVEL entries only (fields without a registry entry stay
    * untouched, and nested stamps already present in the field types
    * are preserved by the copy). The flat evolutions flip through this
    * so a table whose files carry only top-level ids (every pre-r13
    * write) keeps reading its nested content by name — Spark's reader
    * goes strict-by-id per requested field, and an id-bearing inner
    * request against an id-less inner file NULLS the leaf. */
  def attach(schema: StructType, reg: Map[String, Int]): StructType =
    StructType(schema.fields.map { f =>
      reg.get(f.name) match {
        case Some(id) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(MetaKey, id.toLong).build())
        case None => f
      }
    })

  /** [[attach]] including DOTTED (inner struct-chain) entries — the
    * WRITE-side stamping (files carry inner ids from birth once the
    * registry has dotted entries) and the read-side flip an inner
    * rename performs (gated on every live file carrying inner ids). */
  def attachAll(schema: StructType, reg: Map[String, Int]): StructType = {
    def stamp(f: StructField, path: String): StructField = {
      val withChildren = f.dataType match {
        case st: StructType =>
          f.copy(dataType = StructType(st.fields.map(c =>
            stamp(c, s"$path.${c.name}"))))
        case _ => f
      }
      reg.get(path) match {
        case Some(id) => withChildren.copy(metadata = new MetadataBuilder()
          .withMetadata(withChildren.metadata).putLong(MetaKey, id.toLong).build())
        case None => withChildren
      }
    }
    StructType(schema.fields.map(f => stamp(f, f.name)))
  }

  /** Every stamped id in the schema, nested included, keyed by dotted
    * path — the heal source [[graft.table.LakehouseTable]]'s registry
    * reads when the stored schema is id-bearing. */
  def collectIds(schema: StructType): Map[String, Int] = {
    val out = scala.collection.mutable.Map.empty[String, Int]
    def walk(f: StructField, path: String): Unit = {
      if (f.metadata.contains(MetaKey))
        out(path) = f.metadata.getLong(MetaKey).toInt
      f.dataType match {
        case st: StructType =>
          st.fields.foreach(c => walk(c, s"$path.${c.name}"))
        case _ => ()
      }
    }
    schema.fields.foreach(f => walk(f, f.name))
    out.toMap
  }

  def hasIds(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains(MetaKey))

  def strip(schema: StructType): StructType = {
    def clean(f: StructField): StructField = {
      val withChildren = f.dataType match {
        case st: StructType => f.copy(dataType = StructType(st.fields.map(clean)))
        case _ => f
      }
      if (!withChildren.metadata.contains(MetaKey)) withChildren
      else {
        val mb = new MetadataBuilder()
          .withMetadata(withChildren.metadata).remove(MetaKey)
        withChildren.copy(metadata = mb.build())
      }
    }
    StructType(schema.fields.map(clean))
  }

  /** Does the parquet file's PHYSICAL schema hold a field at the given
    * path (case-insensitive per step)? Footer-only, no data pages —
    * the foreign-file probe `addStructField` runs before appending an
    * inner field: graft resolves nested children by NAME, so a foreign
    * file (add_files / Iceberg import) already holding bytes at the
    * path would serve them under the new field — silent resurrection
    * of another system's dropped data. Managed files need no probe
    * (inner fields are never renamed or dropped, so the current schema
    * contains every inner name any managed file ever wrote). */
  def fileContainsPath(spark: SparkSession, path: String,
      parts: Seq[String]): Boolean =
    fileContainsAll(spark, path, Seq(parts))

  /** [[fileContainsPath]] for SEVERAL paths in ONE footer open — true
    * when the file holds a field at EVERY given path. The export
    * defaults gate probes all defaulted columns per file through this
    * (k columns must not cost k footer round-trips per file). */
  def fileContainsAll(spark: SparkSession, path: String,
      pathsToFind: Seq[Seq[String]]): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val root: org.apache.parquet.schema.Type =
        r.getFooter.getFileMetaData.getSchema
      def holds(parts: Seq[String]): Boolean = {
        var t = root
        var i = 0
        while (i < parts.length) {
          if (t.isPrimitive) return false
          t.asGroupType().getFields.asScala
            .find(_.getName.equalsIgnoreCase(parts(i))) match {
            case Some(child) => t = child; i += 1
            case None => return false
          }
        }
        true
      }
      pathsToFind.forall(holds)
    } finally r.close()
  }

  /** Do ALL top-level fields of the parquet file carry field ids?
    * Footer-only (no data pages) — the eligibility probe a rename/drop
    * runs over the table's files before flipping to read-by-id. With
    * `nested = true` the probe additionally requires ids on every
    * field of every plain-STRUCT group, recursively (list/map interior
    * nodes are synthetic and never id-checked) — the inner-evolution
    * flip's gate: one id-less inner field in one file would silently
    * null that leaf for the whole file under an id-bearing read
    * schema. */
  def fileCarriesIds(spark: SparkSession, path: String,
      nested: Boolean = false): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      def ok(t: org.apache.parquet.schema.Type): Boolean =
        t.getId != null && (!nested || t.isPrimitive ||
          t.getLogicalTypeAnnotation != null || // LIST/MAP: stop descent
          t.asGroupType().getFields.asScala.forall(ok))
      r.getFooter.getFileMetaData.getSchema.getFields.asScala.forall(ok)
    } finally r.close()
  }

  /** Footer probe for INTERIOR-BY-ID eligibility: every struct MEMBER
    * field anywhere in the file — including inside list/map interiors —
    * must carry a parquet field id. The list/map wrapper groups
    * (`list`/`key_value`) and the `element`/`key`/`value` nodes
    * themselves carry no ids (Spark metadata lives on StructFields
    * only, so the writer has nowhere to stamp them — and they are not
    * renamable); primitive elements likewise need none. */
  def fileCarriesInteriorIds(spark: SparkSession, path: String): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      // subtreeOk(t): t's own id already checked by the caller (or not
      // required); verifies everything below it
      def subtreeOk(t: org.apache.parquet.schema.Type): Boolean =
        if (t.isPrimitive) true
        else {
          val g = t.asGroupType()
          if (g.getLogicalTypeAnnotation == null)
            // a plain struct: members need ids
            g.getFields.asScala.forall(f => f.getId != null && subtreeOk(f))
          else
            // LIST/MAP: descend through wrapper and element/key/value
            // nodes without requiring ids on them
            g.getFields.asScala.forall { rep =>
              if (rep.isPrimitive) true
              else rep.asGroupType().getFields.asScala.forall { ekv =>
                if (ekv.isPrimitive) true
                else {
                  val eg = ekv.asGroupType()
                  if (eg.getLogicalTypeAnnotation != null) subtreeOk(ekv)
                  else eg.getFields.asScala.forall(f =>
                    f.getId != null && subtreeOk(f))
                }
              }
            }
        }
      r.getFooter.getFileMetaData.getSchema.getFields.asScala
        .forall(f => f.getId != null && subtreeOk(f))
    } finally r.close()
  }
}
