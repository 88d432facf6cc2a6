package graft.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, transform, transform_keys, transform_values, when}
import org.apache.spark.sql.types._

/** Schema-inference and normalization policy.
  *
  * Mirrors the reference's two-phase schema handling (infer from a sample
  * file, then force-cast every batch — see reference
  * `main-polars.py:80-97,180` and `main-polars-lazy.py:11-44`):
  *
  *  - `referencePolicy` collapses arbitrary input types onto the
  *    reference's concrete universe: integers stay 32/64-bit, floats stay
  *    32/64-bit, strings stay strings, and anything else falls back to
  *    string (the lossy fallback at `main-polars.py:93-94`). Nullability
  *    is preserved (`main-polars.py:95`).
  *  - `nativePolicy` keeps Spark's own types (timestamps, arrays, binary
  *    stay first-class) — what our engine uses by default; the driver
  *    testdata needs TimestampType and ArrayType(FloatType).
  *  - `normalize` is the "force cast every batch to the table schema"
  *    step (`main-polars.py:180` `arrow_table.cast(read_schema)`): a
  *    single projection of casts in table-schema column order, which
  *    Catalyst folds into the scan (column pruning + no extra stage).
  *
  * All pure functions over `StructType` — no Spark session required,
  * unit-testable in isolation, and O(#columns) regardless of data size.
  */
object SchemaInfer {

  /** Reference type policy: 3-way switch + string fallback. */
  def referencePolicy(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      val t = f.dataType match {
        case ByteType | ShortType | IntegerType => IntegerType
        case LongType                           => LongType
        case FloatType                          => FloatType
        case DoubleType                         => DoubleType
        case StringType                         => StringType
        case _                                  => StringType // lossy fallback
      }
      StructField(f.name, t, f.nullable)
    })

  /** Native policy: identity — Spark types are already what we store. */
  def nativePolicy(schema: StructType): StructType = schema

  /** Force-cast a batch to the table schema: one projection, in table
    * column order. Missing nullable columns are filled with typed nulls;
    * missing required columns are an error (fail fast, like the
    * reference's cast raising per bad file `main-polars.py:181-183`).
    *
    * Casts target the NULLABILITY-RELAXED form of the stored type: a
    * cast can never ADD a NOT NULL guarantee (Spark refuses
    * `struct<v:int>` → `struct<v:int NOT NULL>` outright), and parquet
    * reads come back inner-nullable regardless of what the writer
    * declared — so a stored schema with required nested fields would
    * otherwise make every read-modify path (MOR subtraction, COW
    * rewrite, changelog) unanalyzable. Equal-up-to-nullability types
    * skip the cast node entirely. */
  def normalize(df: DataFrame, target: StructType): DataFrame = {
    val present = df.columns.map(c => c.toLowerCase -> c).toMap
    val cols: Array[Column] = target.fields.map { f =>
      // `.as(name, metadata)` keeps the target field's metadata on the
      // aliased column — field-id stamps must survive normalization or
      // the parquet writer has nothing to populate
      present.get(f.name.toLowerCase) match {
        case Some(src) =>
          // backtick-quote the reference: a flat column whose name
          // contains dots must resolve literally, not as a struct path
          val ref = col("`" + src.replace("`", "``") + "`")
          val srcType = df.schema(df.schema.fieldIndex(src)).dataType
          align(ref, srcType, f.dataType).as(f.name, f.metadata)
        case None if f.nullable =>
          // a column with a WRITE default fills it (the analyzer does
          // the same for SQL INSERTs); validated constant-foldable at
          // evolution time, so expr() here cannot surprise
          val fill = ColumnDefaults.currentDefault(f) match {
            case Some(sql) => org.apache.spark.sql.functions.expr(sql)
            case None => org.apache.spark.sql.functions.lit(null)
          }
          fill.cast(relaxNulls(f.dataType)).as(f.name, f.metadata)
        case None =>
          throw new IllegalArgumentException(
            s"required column '${f.name}' absent from batch " +
              s"(batch columns: ${df.columns.mkString(", ")})")
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Conform one column to the target type. The non-trivial case is
    * STRUCTS: Spark's struct cast binds fields POSITIONALLY, so a batch
    * whose struct carries the same field NAMES in a different ORDER
    * (schema-inferred sources reorder freely; auto-evolution appends
    * new leaves at the end while a source may emit them mid-struct)
    * would silently swap values under a plain cast. Whenever every
    * target field name resolves in the source struct
    * (case-insensitive), fields bind BY NAME — recursively, through
    * array elements and map values too. Any other shape falls back to
    * Spark's cast, keeping its existing semantics (including its
    * failure modes) for genuinely mismatched types. NULL structs stay
    * NULL (the rebuild is guarded, never a struct of nulls). */
  private def align(c: Column, src: DataType, dst: DataType): Column =
    (src, dst) match {
      case (s, d) if relaxNulls(s) == relaxNulls(d) => c
      // structurally identical, only metadata differs (the batch lacks
      // the target's INNER field-id stamps — every struct batch against
      // an id-registry table, round 13): a positional no-op cast to the
      // target type is what carries the inner metadata onto the plan,
      // so the parquet writer stamps inner ids. The shape compare
      // ignores nullability and metadata but keeps names case-exact —
      // case drift still takes the by-name rebuild below.
      case (s, d) if shapeOf(s) == shapeOf(d) => c.cast(relaxNulls(d))
      // by-name binding when the batch struct's fields are a SUBSET of
      // the target's (equal names, fewer allowed): present fields bind
      // by name, MISSING nullable leaves fill their WRITE default
      // (round 13 — the inner analogue of normalize's top-level
      // missing-column fill) or null. A batch struct with EXTRA fields
      // must keep falling to the cast's loud arity failure (silently
      // dropping batch data would be worse than the positional hazard
      // this fixes) — callers that WANT the extra field evolve first
      // (appendEvolve). A missing NON-nullable leaf also falls through
      // to the loud cast.
      case (s: StructType, d: StructType)
          if s.fieldNames.forall(sn =>
              d.fieldNames.exists(_.equalsIgnoreCase(sn))) &&
            d.fields.forall(df =>
              s.fieldNames.exists(_.equalsIgnoreCase(df.name)) || df.nullable) =>
        val parts = d.fields.map { df =>
          s.fields.find(_.name.equalsIgnoreCase(df.name)) match {
            case Some(sf) =>
              align(c.getField(sf.name), sf.dataType, df.dataType).as(df.name)
            case None =>
              val fill = ColumnDefaults.currentDefault(df) match {
                case Some(sql) => org.apache.spark.sql.functions.expr(sql)
                case None => org.apache.spark.sql.functions.lit(null)
              }
              fill.cast(relaxNulls(df.dataType)).as(df.name)
          }
        }
        // the rebuilt struct's fields carry no metadata — the closing
        // positional cast (identical shape by construction) re-stamps
        // the target's inner field-ids
        when(c.isNotNull,
          org.apache.spark.sql.functions.struct(parts.toIndexedSeq: _*))
          .cast(relaxNulls(d))
      case (s: ArrayType, d: ArrayType) =>
        transform(c, x => align(x, s.elementType, d.elementType))
      case (s: MapType, d: MapType) =>
        transform_values(
          transform_keys(c, (k, _) => align(k, s.keyType, d.keyType)),
          (_, v) => align(v, s.valueType, d.valueType))
      case (_, d) => c.cast(relaxNulls(d))
    }

  /** Structural shape: nullability relaxed AND metadata erased at
    * every level — the "identical modulo field-id stamps" compare. */
  private def shapeOf(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, shapeOf(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(shapeOf(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(shapeOf(m.keyType), shapeOf(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The type with every nested nullability flag set true (top-level
    * nullability lives on StructField, untouched here). */
  private[graft] def relaxNulls(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = relaxNulls(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(relaxNulls(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(relaxNulls(m.keyType), relaxNulls(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Schema with `field` (metadata included — the default carriers)
    * appended at the END of the struct a path names — the pure patch
    * under `LakehouseTable.addFields`, also run statically by the SQL
    * catalog's ALTER validation. `parts` is the full path (root first,
    * new leaf last, which must equal the field's name): one step
    * appends a top-level column, longer paths match each step
    * case-insensitively, and every step before the last must resolve
    * to a StructType (list/map interiors refuse — their element shape
    * is not name-evolvable). The leaf name must be fresh at its level.
    * Existing field metadata (field ids) is preserved untouched.
    * Throws IllegalArgumentException on every structural violation;
    * mutates nothing. */
  def addField(schema: StructType, parts: Seq[String],
      field: StructField): StructType = {
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"field add needs a non-empty path, got '${parts.mkString(".")}'")
    val leaf = parts.last
    require(field.name == leaf, s"field name '${field.name}' != path leaf '$leaf'")
    // "," and ":" would corrupt the comma-separated name-set table
    // properties a poisoned dotted path may need to enter (top-level
    // names may hold them — such a table just forfeits its id registry)
    require(parts.length == 1 || (!leaf.contains(",") && !leaf.contains(":")),
      s"illegal inner field name '$leaf'")
    patchStruct(schema, parts.init) { (st, done) =>
      require(!st.fieldNames.exists(_.equalsIgnoreCase(leaf)),
        if (done.isEmpty) s"column '$leaf' already exists"
        else s"field '$done.$leaf' already exists")
      StructType(st.fields :+ field)
    }
  }

  /** Schema with the field a dotted path names TRANSFORMED: `edit`
    * returns the replacement field, or None to REMOVE it. A one-step
    * path names a top-level column; longer paths chain through structs.
    * The target must exist. Pure patch under `LakehouseTable`'s rename,
    * drop and widen. Removing the last field of a struct refuses — an
    * empty struct is unwritable in parquet. */
  def editInnerField(schema: StructType, parts: Seq[String],
      edit: StructField => Option[StructField]): StructType = {
    require(parts.nonEmpty && parts.forall(_.nonEmpty),
      s"field edit needs a non-empty path, got '${parts.mkString(".")}'")
    patchStruct(schema, parts.init) { (st, done) =>
      val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(parts.last))
      require(idx >= 0, missingField(parts.last, done))
      edit(st.fields(idx)) match {
        case Some(nf) => StructType(st.fields.updated(idx, nf))
        case None =>
          require(st.fields.length > 1,
            s"cannot drop the only field of struct '$done'")
          StructType(st.fields.patch(idx, Nil, 1))
      }
    }
  }

  private def missingField(name: String, under: String): String =
    if (under.isEmpty) s"no column '$name'" else s"no field '$name' under '$under'"

  /** `schema` with the struct at the end of the chain `parents` (root
    * first, struct steps only, each matched case-insensitively)
    * replaced by `patch(struct, its dotted path)`; an empty chain
    * patches the schema itself. */
  private def patchStruct(schema: StructType, parents: Seq[String])(
      patch: (StructType, String) => StructType): StructType = {
    def walk(st: StructType, rest: Seq[String], done: String): StructType =
      rest match {
        case Seq() => patch(st, done)
        case head +: tail =>
          val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(head))
          require(idx >= 0, missingField(head, done))
          val f = st.fields(idx)
          val here = if (done.isEmpty) f.name else s"$done.${f.name}"
          f.dataType match {
            case inner: StructType => StructType(st.fields.updated(idx,
              f.copy(dataType = walk(inner, tail, here))))
            case other => throw new IllegalArgumentException(
              s"'$here' is ${other.catalogString}, not a struct — only " +
                "struct chains take inner fields")
          }
      }
    walk(schema, parents, "")
  }

  /** Navigate a NAME-MAPPING token path (`arr.element.a`, `m.value.x`
    * — `element`/`key`/`value` step through list/map interiors, other
    * tokens through struct fields, all case-insensitive for struct
    * names, exact for the interior tokens). Returns the type at the
    * path, or None. */
  def interiorType(schema: StructType, tokens: Seq[String]): Option[DataType] = {
    def walk(dt: DataType, rest: Seq[String]): Option[DataType] = rest match {
      case Seq() => Some(dt)
      case head +: tail => dt match {
        case a: ArrayType if head == "element" => walk(a.elementType, tail)
        case m: MapType if head == "key" => walk(m.keyType, tail)
        case m: MapType if head == "value" => walk(m.valueType, tail)
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(head))
            .flatMap(f => walk(f.dataType, tail))
        case _ => None
      }
    }
    walk(schema, tokens)
  }

  /** Edit the STRUCT FIELD at a name-mapping token path that crosses at
    * least one list/map interior — `edit` returning Some replaces the
    * field, None drops it (a struct must keep ≥1 field). Refuses when
    * the path does not resolve or its leaf is an interior token rather
    * than a struct member. */
  def editInteriorField(schema: StructType, tokens: Seq[String],
      edit: StructField => Option[StructField]): StructType = {
    require(tokens.length >= 3,
      s"interior edit needs root…(element|key|value)…leaf, got " +
        s"'${tokens.mkString(".")}'")
    require(!Set("element", "key", "value")(tokens.last),
      s"'${tokens.mkString(".")}': the leaf must be a struct member, " +
        "not a list/map interior token")
    def walk(dt: DataType, rest: Seq[String], done: String): DataType =
      (dt, rest) match {
        case (a: ArrayType, "element" +: tail) =>
          a.copy(elementType = walk(a.elementType, tail, s"$done.element"))
        case (m: MapType, "key" +: tail) =>
          m.copy(keyType = walk(m.keyType, tail, s"$done.key"))
        case (m: MapType, "value" +: tail) =>
          m.copy(valueType = walk(m.valueType, tail, s"$done.value"))
        case (st: StructType, Seq(leaf)) =>
          val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(leaf))
          require(idx >= 0, s"no field '$leaf' under '$done'")
          edit(st.fields(idx)) match {
            case Some(nf) => StructType(st.fields.updated(idx, nf))
            case None =>
              require(st.fields.length > 1,
                s"cannot drop the only field of struct '$done'")
              StructType(st.fields.patch(idx, Nil, 1))
          }
        case (st: StructType, head +: tail) =>
          val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(head))
          require(idx >= 0, s"no field '$head' under '$done'")
          val f = st.fields(idx)
          StructType(st.fields.updated(idx,
            f.copy(dataType = walk(f.dataType, tail, s"$done.${f.name}"))))
        case (other, head +: _) => throw new IllegalArgumentException(
          s"'$done' is ${other.catalogString} — cannot step into '$head'")
        case (_, Seq()) => throw new IllegalStateException("unreachable")
      }
    StructType(walk(schema, tokens, "").asInstanceOf[StructType].fields)
  }

  /** The type of the field a dotted struct path names, if the chain
    * resolves (case-insensitive per step, structs only). */
  def innerType(schema: StructType, parts: Seq[String]): Option[DataType] = {
    def walk(dt: DataType, rest: Seq[String]): Option[DataType] = rest match {
      case Seq() => Some(dt)
      case head +: tail => dt match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(head))
            .flatMap(f => walk(f.dataType, tail))
        case _ => None
      }
    }
    walk(schema, parts)
  }
}
