package graft.util

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.DataFrame

/** Parallelism plumbing shared by the CPU-heavy operators and the
  * driver-side metadata I/O. */
object Par {

  /** `f` over `xs` in parallel on the global pool, each call marked
    * `blocking` (the pool grows past its core count while calls wait
    * on I/O) — footer probes and stats, Avro manifest reads — so a list
    * of N files costs one round-trip latency, not N. Results keep input
    * order; fails on the first exception, or after 30 minutes. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(xs)(x => Future(blocking(f(x)))), 30.minutes)
  }

  /** Decouple compute parallelism from input split count.
    *
    * A small table (one parquet file, one row-group) arrives as ONE
    * partition, which pins every downstream map-side stage — shingling,
    * hashing, vector math — to a single core no matter how many the
    * cluster has. `spread` repartitions UP to the session default
    * parallelism when (and only when) the plan has fewer partitions;
    * inputs that already carry enough splits (the 100 TB case) pass
    * through untouched, so no gratuitous shuffle is ever added.
    *
    * The split count is ESTIMATED from optimizer statistics
    * (size-in-bytes / maxPartitionBytes) rather than materializing
    * `df.rdd`: the RDD conversion forces full physical planning of the
    * upstream plan at build time for every spread call — cheap on toy
    * plans, avoidable overhead on 100×-complexity ones. The estimate
    * errs small only near the boundary, where an extra repartition of
    * an already-small input costs little.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val maxSplit = math.max(1L, spark.sessionState.conf.filesMaxPartitionBytes)
    val sizeBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estSplits = (sizeBytes / maxSplit).toLong + 1
    if (estSplits < p) df.repartition(p) else df
  }
}
