package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.functions.VectorOps
import graft.util.Par

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers, per the scale plan:
  *  - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *    query set against the corpus; one pass, no shuffle of the corpus,
  *    per-query heap via window rank on the partial results. The
  *    CORRECTNESS baseline at any scale where queries are few.
  *  - [[lshCosineTopK]] — random-hyperplane LSH: map-side sign sketch
  *    buckets the corpus; candidates = same-bucket rows; exact cosine
  *    re-rank inside the bucket. The SCALE path: corpus shuffles once
  *    on the bucket key; no cross join ever materializes. Recall is
  *    tunable by `planeBits` (fewer bits → bigger buckets → higher
  *    recall and cost); measured in SimilaritySpec.
  *
  * The vector math runs through the native codegen expressions
  * (VectorOps.dot/norm — fused primitive loops with the same
  * left-fold IEEE order as the HOF formulation and the DuckDB oracle);
  * the hyperplane sketch is likewise one fused expression instead of a
  * planeBits×dim column forest.
  */
object Similarity {

  /** (id, e double-vector, nrm) projection shared by both tiers. The
    * corpus is spread so the per-row vector math (and the nested-loop
    * probe against the broadcast query set) uses every core even when
    * the input is a single parquet split. */
  private def prep(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val ss = emb.sparkSession
    Par.spread(emb).select(col(idCol).as("id"), vecDouble(col(vecCol)).as("e"))
      .withColumn("nrm", VectorOps.norm(ss, col("e")))
  }

  /** Exact top-k neighbors for each query row (excluding self-matches).
    * Output: (query_id, rank, vec_id, cosine), rank 1..k by cosine desc
    * with id tiebreak. */
  def bruteForceTopK(
      emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val ss = emb.sparkSession
    val corpus = prep(emb, idCol, vecCol)
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    corpus.join(broadcast(q), col("query_id") =!= col("id"))
      .withColumn("cosine",
        VectorOps.dot(ss, col("qe"), col("e")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("vec_id"), col("cosine"))
  }

  /** Lloyd k-means coarse quantizer for [[ivfTopK]], trained
    * distributed: assignment is the native ivf_cells expression mapped
    * over the corpus; the update step is an exact decimal per-dimension
    * sum (order-independent — float summation order would otherwise
    * make centroids, and thus cell assignment, nondeterministic across
    * partitionings) collected as nlist×dim rows (KBs — same driver
    * footprint as any production coarse quantizer; the corpus itself is
    * never collected). Seeds are the nlist corpus vectors with smallest
    * xxhash64(id) — a deterministic uniform sample. */
  def trainIvfCentroids(corpus: DataFrame, nlist: Int,
      iters: Int = 2): Array[Array[Double]] = {
    val ss = corpus.sparkSession
    var cents: Array[Array[Double]] = corpus
      .orderBy(xxhash64(col("id")), col("id")).limit(nlist)
      .collect().map(_.getSeq[Double](1).toArray)
    var it = 0
    while (it < iters) {
      val rows = corpus
        .withColumn("cell",
          element_at(graft.functions.IvfOps.cells(ss, col("e"), cents, 1), 1))
        .select(col("cell"), posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x").cast("decimal(30,15)")).as("sx"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty cells keep their centroid
      rows.foreach { r =>
        val cell = r.getInt(0); val pos = r.getInt(1)
        val sx = r.getDecimal(2); val n = r.getLong(3)
        next(cell)(pos) = sx
          .divide(java.math.BigDecimal.valueOf(n), java.math.MathContext.DECIMAL128)
          .doubleValue()
      }
      cents = next
      it += 1
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k — the second scale tier next
    * to [[lshCosineTopK]]: a trained coarse quantizer partitions the
    * corpus into `nlist` inverted lists; each query probes its `nprobe`
    * nearest cells and exact-cosine re-ranks inside them. Cost per
    * query ≈ nprobe/nlist of brute force with recall set by nprobe —
    * the knob a 100 TB deployment turns, while the plan shape stays
    * identical: corpus mapped once to (cell, vec), query set broadcast,
    * equi-join on the cell id — never a cross join. */
  def ivfTopK(
      emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    val ss = emb.sparkSession
    val corpus = prep(emb, idCol, vecCol)
    corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = trainIvfCentroids(corpus.select(col("id"), col("e")), nlist, iters)
    val lists = corpus.withColumn("cell",
      element_at(graft.functions.IvfOps.cells(ss, col("e"), cents, 1), 1))
    val q = prep(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("e").as("qe"), col("nrm").as("qn"),
        explode(graft.functions.IvfOps.cells(ss, col("e"), cents, nprobe))
          .as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    lists.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine",
        VectorOps.dot(ss, col("qe"), col("e")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("vec_id"), col("cosine"))
  }

  /** Approximate top-k: candidates share the LSH bucket, exact cosine
    * re-rank within bucket. Output shape matches [[bruteForceTopK]]. */
  def lshCosineTopK(
      emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, planeBits: Int = 8): DataFrame = {
    val ss = emb.sparkSession
    val corpus = prep(emb, idCol, vecCol)
      .withColumn("bucket", VectorOps.hyperplaneSketch(ss, col("e"), planeBits))
    val q = prep(queries, idCol, vecCol)
      .withColumn("bucket", VectorOps.hyperplaneSketch(ss, col("e"), planeBits))
      .select(col("id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id"))
    corpus.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine",
        VectorOps.dot(ss, col("qe"), col("e")) / (col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("vec_id"), col("cosine"))
  }
}
