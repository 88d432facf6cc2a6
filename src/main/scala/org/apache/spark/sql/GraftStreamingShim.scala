package org.apache.spark.sql

/** Bridge into the one `private[sql]` constructor a DataSource V1
  * streaming source needs: `internalCreateDataFrame(…, isStreaming =
  * true)`. The V1 `Source.getBatch` contract requires the returned
  * frame to carry `isStreaming = true`, and the only way to stamp it
  * is this session method — Spark's own V1 sources (file, socket,
  * rate) call it the same way from inside the `sql` package, and
  * third-party V1 connectors ship exactly this shim. The wrap is lazy
  * and fully distributed: it re-plans the batch frame's physical RDD,
  * no driver materialization. */
object GraftStreamingShim {
  def asStreamingFrame(spark: SparkSession, batch: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      batch.queryExecution.toRdd, batch.schema, isStreaming = true)
  }

  /** Wrap a catalyst Expression as a [[Column]] — the `private[sql]`
    * `ExpressionUtils.column` the classic DSL itself uses. Needed to
    * re-apply residual scan predicates (catalyst trees, unresolved by
    * name) onto a freshly-planned DataFrame. */
  def asColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `s` with every field nullable, nested ones too — the
    * `private[spark]` `asNullable` a file-source read applies to a
    * caller's schema. */
  def nullable(s: types.StructType): types.StructType = s.asNullable

  /** A clone of `spark` (shared SparkContext + shared state, copied
    * session state: conf, temp views, UDFs, extensions) with `confs`
    * overlaid — `private[sql] cloneSession()`. The read-side fallback
    * for sessions without the graft extensions uses it to scope its
    * read confs to plans bound to the clone, without mutating the
    * caller's session. */
  def sessionWithConfs(spark: SparkSession,
      confs: Map[String, String]): SparkSession = {
    val clone = spark.asInstanceOf[classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }
}
