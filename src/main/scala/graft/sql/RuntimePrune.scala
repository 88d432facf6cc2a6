package graft.sql

import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate

import graft.catalog.DataFileEntry

/** Conservative may-match of one RUNTIME predicate (the exact IN /
  * equality value-set Spark computes from a join's other side — dynamic
  * partition pruning for DSv2) against a file's log-recorded partition
  * values. `true` always safe (the file is read and rows re-filter);
  * `false` only when the recorded identity value or a re-run of the
  * writer's transform PROVES no candidate value lands in the file.
  *
  * Identity fields prune by the file pruner's identity rule
  * ([[graft.table.FilePrune.identityText]]: exact external-text
  * round-trip of string/integral literals — dates/floats arrive in
  * catalyst-internal forms and never prune here); column bounds are
  * not consulted. Transform fields (bucket/truncate/days/…)
  * re-evaluate the writer's transform on each candidate literal
  * through [[graft.table.PartitionTransforms.mayMatch]]
  * (the catalyst-internal literal IS the transform's input form).
  * Anything unrecognized keeps the file. Shared by the row-level COW
  * scan (runtime group filtering for MERGE/UPDATE/DELETE) and the batch
  * read scan (runtime file pruning for joins). */
private[sql] object RuntimePrune {

  def allows(f: DataFileEntry, p: Predicate, partitionCols: Seq[String]): Boolean = {
    def colOf(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    def catalystLits(es: Seq[V2Expression])
        : Option[Seq[org.apache.spark.sql.catalyst.expressions.Literal]] = {
      val ls = es.map {
        case l: V2Literal[_] =>
          Some(org.apache.spark.sql.catalyst.expressions.Literal(
            l.value(), l.dataType()))
        case _ => None
      }
      if (ls.forall(_.isDefined)) Some(ls.flatten) else None
    }
    val transformFields = graft.table.PartitionTransforms
      .parseAll(partitionCols)
      .filterNot(_.isInstanceOf[graft.table.IdentityField])
    val ch = p.children()
    p.name() match {
      case "IN" | "=" if ch.nonEmpty =>
        (colOf(ch(0)), catalystLits(ch.drop(1).toSeq)) match {
          case (Some(c), Some(lits)) if lits.nonEmpty =>
            val texts = lits.map(graft.table.FilePrune.identityText)
            val identityOk = !texts.forall(_.isDefined) ||
              f.partitionValues.get(c).forall(texts.flatten.contains)
            val transformOk = !transformFields.exists(_.source.equalsIgnoreCase(c)) ||
              graft.table.PartitionTransforms.mayMatch(f,
                org.apache.spark.sql.catalyst.expressions.In(
                  org.apache.spark.sql.catalyst.expressions
                    .AttributeReference(c, lits.head.dataType)(), lits),
                transformFields)
            identityOk && transformOk
          case _ => true
        }
      case _ => true
    }
  }
}
