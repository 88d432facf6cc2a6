package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>`/`array<double>` columns using
  * Spark's higher-order functions (`zip_with`/`aggregate`) — codegen'd,
  * null-safe, no UDFs, distributable to any width.
  *
  * Determinism contract: every fold is a left-to-right sequential IEEE
  * accumulation, which matches DuckDB's `list_sum(list_transform(...))`
  * evaluation order bit-for-bit (validated in the oracle harness), so
  * cosine/dot results can be compared EXACTLY across engines — no
  * tolerance needed.
  */
object VectorFunctions {

  /** Widen float vectors to double (exact). */
  def vecDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product: left fold of pairwise products.
    * DuckDB twin: `list_sum(list_transform(list_zip(a,b), s -> s[1]*s[2]))`. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** L2 norm. DuckDB twin: `sqrt(list_sum(list_transform(a, x -> x*x)))`. */
  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity of two double vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))
}
