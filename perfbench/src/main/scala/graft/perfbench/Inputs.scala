package graft.perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed,
  * row index, salt) through `xxhash64`, so the same seed yields the same
  * rows, and — because each generator writes a fixed number of parquet
  * files from a fixed partitioning — the same bytes. The engine only
  * ever sees the parquet files written here. */
object Inputs {

  /** Deterministic 64-bit hash of (seed, index, salt). */
  def h(seed: Long, idx: Column, salt: Int): Column =
    xxhash64(lit(seed), idx, lit(salt))

  def uniform(seed: Long, idx: Column, salt: Int, n: Long): Column =
    pmod(h(seed, idx, salt), lit(n))

  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** TPC-H-shaped `orders` rows for `key`, with values salted by `ver`
    * (0 for the base table, the change version for later images). */
  def ordersCols(seed: Long, key: Column, ver: Column): Seq[Column] = {
    val k = key + ver * lit(1000003L)
    Seq(
      key.cast("long").as("o_orderkey"),
      (uniform(seed, k, 1, 15000) + 1).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")),
        (uniform(seed, k, 2, 3) + 1).cast("int")).as("o_orderstatus"),
      ((uniform(seed, k, 3, 50000000L) + 90000) / 100).cast("decimal(12,2)")
        .as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"),
        uniform(seed, k, 4, 2400).cast("int")).as("o_orderdate"),
      element_at(array(Priorities.map(lit): _*),
        (uniform(seed, k, 5, Priorities.size) + 1).cast("int")).as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((uniform(seed, k, 6, 1000) + 1).cast("string"), 9, "0"))
        .as("o_clerk"),
      lit(0).as("o_shippriority"),
      substring(sha2(concat_ws("/", lit(seed), k.cast("string")), 256), lit(1),
        (uniform(seed, k, 7, 40) + 19).cast("int")).as("o_comment"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(1, n + 1).select(ordersCols(seed, col("id"), lit(0L)): _*)

  /** `cdc_mor` change log: `batches` × `perBatch` rows with columns
    * `batch`, `seq` (global, unique — the tiebreak), `op` (U/D/I) and
    * the row image. 20 % deletes, 10 % inserts of fresh keys, 70 %
    * updates; 80 % of updates and deletes hit the first tenth of the
    * key space (the hot range). Keys repeat within a batch, so the
    * per-key winner is decided by `seq`. */
  def cdcChanges(spark: SparkSession, seed: Long, baseRows: Long,
      batches: Int, perBatch: Int): DataFrame = {
    val i = col("id")
    val kind = uniform(seed, i, 100, 100)
    val hot = uniform(seed, i, 101, 100) < 80
    val existing = when(hot, uniform(seed, i, 102, math.max(1L, baseRows / 10)) + 1)
      .otherwise(uniform(seed, i, 103, baseRows) + 1)
    val key = when(kind >= 90, lit(baseRows + 1) + i).otherwise(existing)
    val op = when(kind < 20, lit("D")).when(kind >= 90, lit("I")).otherwise(lit("U"))
    spark.range(0, batches.toLong * perBatch)
      .select((i / perBatch).cast("int").as("batch"), i.as("seq"), op.as("op"),
        key.as("key"))
      .select(Seq(col("batch"), col("seq"), col("op")) ++
        ordersCols(seed, col("key"), col("seq") + 1): _*)
  }

  /** `stream_sink_jdbc` change files: `files` × `perFile` upsert rows;
    * keys are distinct within a file (a stride walk over 1.1× the base
    * key space, so about a tenth are inserts). Column `f` is the file
    * index. */
  def streamChanges(spark: SparkSession, seed: Long, baseRows: Long,
      files: Int, perFile: Int): DataFrame = {
    val space = baseRows + baseRows / 10
    val i = col("id")
    val f = (i / perFile).cast("int")
    val r = pmod(i, lit(perFile.toLong))
    val key = pmod(r * lit(7919L) + uniform(seed, f.cast("long"), 200, space), lit(space)) + 1
    spark.range(0, files.toLong * perFile)
      .select(f.as("f"), key.as("key"), (f + 1).cast("long").as("ver"))
      .select(col("f") +: ordersCols(seed, col("key"), col("ver")): _*)
  }

  /** The reference's mock dataset (`id`, `group` A–D, `value1`,
    * `value2`) for ids in [from, until), values salted by `ver`. */
  def events(spark: SparkSession, seed: Long, from: Long, until: Long,
      ver: Int): DataFrame = {
    val id = col("id")
    spark.range(from, until).select(
      id.as("id"),
      element_at(array(lit("A"), lit("B"), lit("C"), lit("D")),
        (uniform(seed, id, 10, 4) + 1).cast("int")).as("group"),
      (uniform(seed, id, 11 + 2 * ver, 100000000L) / 1000.0).as("value1"),
      uniform(seed, id, 12 + 2 * ver, 1000).as("value2"))
  }

  /** Write `df` as at most `files` parquet files; `coalesce` merges the
    * range partitions in order, so the split is the same on every run. */
  def writeParquet(df: DataFrame, dir: Path, files: Int): Path = {
    df.coalesce(files).write.mode("overwrite").parquet(dir.toString)
    dir
  }

  def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else Files.walk(dir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)

  /** Fingerprint of the generated inputs: per directory, the files'
    * sizes and an order-independent digest of their rows. (parquet-mr
    * writes each column chunk's encoding list from a hash set, so file
    * bytes may differ between JVMs while sizes and rows do not.) */
  def fingerprint(spark: SparkSession, dirs: Seq[Path]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    dirs.foreach { d =>
      md.update(parquetFiles(d).map(Files.size).mkString(d.getFileName + ":", ",", ";").getBytes)
      md.update(Check.digest(spark.read.parquet(d.toString)).getBytes)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def bytesOf(dirs: Seq[Path]): Long = dirs.flatMap(parquetFiles).map(Files.size).sum
}
