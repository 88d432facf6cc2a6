package graft.table

import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo => CEq, Expression, GreaterThan => CGt, GreaterThanOrEqual => CGte, In => CIn, IsNotNull => CIsNotNull, IsNull => CIsNull, LessThan => CLt, LessThanOrEqual => CLte, Literal, Or => COr}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}

import graft.catalog.{DataFileEntry, Snaplog}

/** What a read prunes data files by: the table's partition spec (its
  * transform fields prune through [[PartitionTransforms.mayMatch]]) and
  * the names whose recorded stats an evolution rebinding poisoned
  * ([[graft.types.FieldIds.StatsUnsafeProp]]). */
final case class PruneScope(partitionCols: Seq[String], statsUnsafe: Set[String])

/** The file-pruning decision: may one data file hold a row passing a
  * catalyst predicate, judged from its log metadata alone (identity
  * partition values, transform partition values, [min,max] bounds,
  * null counts)? `true` is always safe (the file is read and rows are
  * re-filtered); `false` only when the metadata PROVES no row can
  * match. Every read that selects data files from the log decides
  * through [[keep]]: the SQL scan, its row-level rewrite and metadata
  * aggregates, the native scan's range filter, and the log's file
  * index ([[LogFileIndex]]) under the filters Spark hands it. */
object FilePrune {

  /** The pruner: `f => f may hold a row passing every predicate of
    * `filters``. Predicates touching a stats-unsafe name are dropped
    * first (they still filter rows; they just cannot prune), then each
    * file must pass [[mayMatch]] and the transform-field test. */
  def keep(filters: Seq[Expression], scope: PruneScope): DataFileEntry => Boolean = {
    val usable = filters.filter(_.references.forall(a =>
      !scope.statsUnsafe(a.name.toLowerCase(java.util.Locale.ROOT))))
    val transforms = PartitionTransforms.parseAll(scope.partitionCols)
      .filterNot(_.isInstanceOf[IdentityField])
    f => usable.forall(e => mayMatch(f, e) && PartitionTransforms.mayMatch(f, e, transforms))
  }

  /** Catalyst types whose literal text form round-trips the stored
    * (unescaped) identity-partition segment exactly. Dates, timestamps
    * and floats carry internal forms (days, micros, IEEE bits) that
    * never match the stored external text. */
  private def textType(dt: DataType): Boolean = dt match {
    case StringType | IntegerType | LongType | ShortType | ByteType => true
    case _ => false
  }

  private def integralType(dt: DataType): Boolean = dt != StringType && textType(dt)

  /** The identity rule: the text a non-null literal of a text-round-
    * tripping type takes in a stored partition segment; `None` for any
    * other literal, which identity values then cannot decide. */
  def identityText(l: Literal): Option[String] =
    if (textType(l.dataType)) Option(l.value).map(String.valueOf) else None

  /** Is `e` a PARTITION-EXACT predicate — one whose per-file may-match
    * answer is exact, not conservative? True only for predicate trees
    * over identity-partition columns whose value every file records:
    * identity partitioning means a file holds exactly the rows of its
    * recorded value, so pruning by it selects exactly the matching
    * rows. This is what licenses answering aggregates from the pruned
    * file set.
    *
    * Literal-type gate: only literals the identity rule decides
    * ([[identityText]]: strings and integrals) qualify; other
    * predicates still prune conservatively through column stats, where
    * a miss only costs an extra file read. The writer files `''` under
    * the null-partition sentinel, so that file may hold both: the empty
    * string does not qualify, nor does IS NOT NULL on a string column
    * with a null-partition file.
    * Range predicates (`>`, `BETWEEN`, …) qualify only for INTEGRAL
    * partition values, where the numeric in-range test is exact. */
  def partitionExact(e: Expression, partCols: Set[String],
      files: Seq[DataFileEntry]): Boolean = {
    def exactCol(c: String): Boolean =
      partCols.contains(c) && files.forall(_.partitionValues.contains(c))
    def exactLit(l: Literal): Boolean =
      textType(l.dataType) && !identityText(l).contains("")
    def rangeExact(a: AttributeReference, l: Literal): Boolean =
      exactCol(a.name) && integralType(l.dataType) &&
        files.forall(f => f.partitionValues.get(a.name)
          .forall(s => s == Snaplog.HiveDefaultPartition ||
            scala.util.Try(s.toLong).isSuccess))
    e match {
      case CEq(a: AttributeReference, l: Literal) => exactCol(a.name) && exactLit(l)
      case CEq(l: Literal, a: AttributeReference) => exactCol(a.name) && exactLit(l)
      case CIn(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        exactCol(a.name) && vs.forall(v => exactLit(v.asInstanceOf[Literal]))
      case CIsNotNull(a: AttributeReference) => exactCol(a.name) &&
        (a.dataType != StringType ||
          !files.exists(_.partitionValues.get(a.name).contains(Snaplog.HiveDefaultPartition)))
      case CGt(a: AttributeReference, l: Literal) => rangeExact(a, l)
      case CGt(l: Literal, a: AttributeReference) => rangeExact(a, l)
      case CGte(a: AttributeReference, l: Literal) => rangeExact(a, l)
      case CGte(l: Literal, a: AttributeReference) => rangeExact(a, l)
      case CLt(a: AttributeReference, l: Literal) => rangeExact(a, l)
      case CLt(l: Literal, a: AttributeReference) => rangeExact(a, l)
      case CLte(a: AttributeReference, l: Literal) => rangeExact(a, l)
      case CLte(l: Literal, a: AttributeReference) => rangeExact(a, l)
      case CAnd(l, r) =>
        partitionExact(l, partCols, files) && partitionExact(r, partCols, files)
      case COr(l, r) =>
        partitionExact(l, partCols, files) && partitionExact(r, partCols, files)
      case _ => false
    }
  }

  /** Literal's internal value as a plain JVM value (UTF8String → String). */
  private def litVal(l: Literal): Any = l.value match {
    case null => null
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case other => other
  }

  /** Column reference usable as a stat/partition key: a top-level
    * attribute by name, or a struct-LEAF extraction chain
    * (`props.x`, any depth) by its dot path — exactly the key the
    * stat writer records for struct leaves ([[FileStats.stat]]).
    * Map/array extractions don't extract (no per-leaf file bounds
    * exist for them). A leaf path colliding with a literal dotted
    * flat name is fine to EXTRACT — the writer refused to record the
    * ambiguous key, so lookups miss and nothing prunes. */
  private object RefName {
    def unapply(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
        unapply(g.child).map(p => s"$p.${g.extractFieldName}")
      case _ => None
    }
  }

  /** Conservative may-match of one predicate against one file's
    * identity partition values, bounds and null counts (transform
    * fields are [[keep]]'s second test). Range predicates consult the
    * recorded identity-partition value FIRST (exact, strictness-aware —
    * required for partition-exact range aggregates), then fall back to
    * conservative [min,max] bounds; `lower` marks a literal that bounds
    * the column from below. Struct-leaf refs never have a partition
    * value, so they fall straight through to their recorded leaf
    * bounds. */
  def mayMatch(f: DataFileEntry, e: Expression): Boolean = if (f.rowCount == 0L) false else e match {
    case CEq(RefName(c), l: Literal) => eqAllows(f, c, l)
    case CEq(l: Literal, RefName(c)) => eqAllows(f, c, l)
    case CIn(RefName(c), vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => eqAllows(f, c, v.asInstanceOf[Literal]))
    case CGt(RefName(c), l: Literal) => rangeAllows(f, c, l, lower = true)(_ > _)
    case CGte(RefName(c), l: Literal) => rangeAllows(f, c, l, lower = true)(_ >= _)
    case CLt(RefName(c), l: Literal) => rangeAllows(f, c, l, lower = false)(_ < _)
    case CLte(RefName(c), l: Literal) => rangeAllows(f, c, l, lower = false)(_ <= _)
    // mirrored literal-first comparisons flip the bound
    case CGt(l: Literal, RefName(c)) => rangeAllows(f, c, l, lower = false)(_ < _)
    case CGte(l: Literal, RefName(c)) => rangeAllows(f, c, l, lower = false)(_ <= _)
    case CLt(l: Literal, RefName(c)) => rangeAllows(f, c, l, lower = true)(_ > _)
    case CLte(l: Literal, RefName(c)) => rangeAllows(f, c, l, lower = true)(_ >= _)
    case CAnd(l, r) => mayMatch(f, l) && mayMatch(f, r)
    case COr(l, r) => mayMatch(f, l) || mayMatch(f, r)
    // a file recorded under the null-partition sentinel holds ONLY
    // null values for a non-string column — IsNotNull excludes it
    // exactly (a string column's sentinel also holds ''); a recorded
    // null count equal to the row count proves the same (for a struct
    // LEAF the recorded count includes rows where an ancestor struct
    // is null — parquet definition levels — so count==rows still
    // proves no row satisfies IS NOT NULL)
    case CIsNotNull(r @ RefName(c)) =>
      !(r.dataType != StringType &&
        f.partitionValues.get(c).contains(Snaplog.HiveDefaultPartition)) &&
        !f.nullCounts.flatMap(_.get(c)).contains(f.rowCount)
    // IS NULL prunes a file PROVEN all-non-null: identity partition
    // value recorded under a real (non-sentinel) value, or a recorded
    // null count of zero
    case CIsNull(RefName(c)) =>
      !f.partitionValues.get(c).exists(_ != Snaplog.HiveDefaultPartition) &&
        !f.nullCounts.flatMap(_.get(c)).contains(0L)
    case _ => true // unknown / null-semantics predicates: never prune
  }

  private def eqAllows(f: DataFileEntry, c: String, l: Literal): Boolean =
    partitionAllows(f, c, l) && boundsAllow(f, c, Some(litVal(l)), Some(litVal(l)))

  private def rangeAllows(f: DataFileEntry, c: String, l: Literal, lower: Boolean)(
      cmp: (Long, Long) => Boolean): Boolean =
    partitionCmp(f, c, l)(cmp).getOrElse(
      if (lower) boundsAllow(f, c, lo = Some(litVal(l)), hi = None)
      else boundsAllow(f, c, lo = None, hi = Some(litVal(l))))

  /** Identity-partition equality: prune only when the file RECORDS a
    * value for the column and the identity rule ([[identityText]])
    * decides the literal — a string or integral literal whose text
    * differs from the stored segment. Date, timestamp and float
    * literals never prune here (stats still prune them
    * conservatively). A null literal never satisfies an equality, and
    * a null-partition file only the empty string (the writer files
    * `''` under the sentinel with the nulls). */
  private def partitionAllows(f: DataFileEntry, c: String, l: Literal): Boolean =
    f.partitionValues.get(c) match {
      case Some(Snaplog.HiveDefaultPartition) => identityText(l).contains("")
      case Some(stored) => l.value != null && identityText(l).forall(_ == stored)
      case None => true
    }

  /** Exact strictness-aware range test against a recorded identity-
    * partition value, when the literal is integral and the segment
    * parses as one. `None` = cannot decide exactly here (no recorded
    * value, non-integral literal, unparseable segment) — the caller
    * falls back to conservative bounds. A null-partition file fails
    * every range comparison on a non-string literal (a string column's
    * sentinel also holds `''`). */
  private def partitionCmp(f: DataFileEntry, c: String, l: Literal)(
      cmp: (Long, Long) => Boolean): Option[Boolean] =
    f.partitionValues.get(c) match {
      case Some(Snaplog.HiveDefaultPartition) if l.dataType != StringType => Some(false)
      case Some(stored) if integralType(l.dataType) && l.value != null =>
        scala.util.Try(stored.toLong).toOption
          .map(s => cmp(s, l.value.asInstanceOf[Number].longValue))
      case _ => None
    }

  /** Column [min,max] bounds vs a requested [lo,hi]. Numeric literals
    * compare as doubles, strings lexicographically — exactly the
    * contract under which the bounds were collected. Missing bounds or
    * unparseable combinations never prune. */
  private def boundsAllow(f: DataFileEntry, c: String,
      lo: Option[Any], hi: Option[Any]): Boolean =
    f.columnStats.flatMap(_.get(c)) match {
      case None => true
      case Some(b) => (lo, hi) match {
        case _ if numeric(lo) || numeric(hi) =>
          (try Some((b.min.toDouble, b.max.toDouble))
          catch { case _: NumberFormatException => None }) match {
            case None => true
            // NaN-poisoned bounds (parquet stat behavior with NaN data
            // is undefined) must never prune — comparisons with NaN
            // are all false, which would wrongly drop the file
            case Some((mn, mx)) if mn.isNaN || mx.isNaN => true
            case Some((mn, mx)) =>
              lo.forall(v => asDouble(v).forall(_ <= mx)) &&
                hi.forall(v => asDouble(v).forall(_ >= mn))
          }
        case (Some(_: String), _) | (_, Some(_: String)) =>
          // UTF-8 byte order — the order parquet chose the bounds in
          // (String.compareTo misorders supplementary characters,
          // which could false-prune a file containing the value)
          lo.forall(v => FileStats.utf8Compare(v.asInstanceOf[String], b.max) <= 0) &&
            hi.forall(v => FileStats.utf8Compare(v.asInstanceOf[String], b.min) >= 0)
        case _ => true
      }
    }

  private def numeric(v: Option[Any]): Boolean = v.exists(asDouble(_).isDefined)

  private def asDouble(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }
}
