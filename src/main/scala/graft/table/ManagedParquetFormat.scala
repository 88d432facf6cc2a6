package graft.table

import java.nio.file.Path

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{BatchWrite, LogicalWriteInfo}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetWrite
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.types.FieldIds

/** Parquet written the managed way: field ids stamped and timestamps
  * INT64 micros ([[FieldIds.ManagedWriteConfs]]), whatever the session
  * says — the write twin of [[LogParquetFormat]].
  *
  * Spark reads both settings in one place: `prepareWrite` copies them
  * from the session conf into the write job's Hadoop conf, and the
  * tasks' `ParquetWriteSupport` reads them from there. Setting them in
  * that job conf, after the copy, scopes them to this one job: the
  * caller's session is never mutated or cloned, a foreign same-session
  * write keeps the user's settings, and concurrent managed writes need
  * no lock. Writing on the caller's own session also keeps Spark's
  * codegen cache (keyed by the session's class loader) warm.
  *
  * V1 writes use `df.write.format(ManagedParquetFormat.Name)…save(dir)`
  * (`.parquet(dir)` would reset the format to plain parquet); DSv2
  * writes use [[ManagedParquetFormat.batchWrite]]. */
class ManagedParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    ManagedParquetFormat.managed(job, super.prepareWrite(spark, job, options, dataSchema))
}

object ManagedParquetFormat {

  /** The V1 format name: this class's name. */
  val Name: String = classOf[ManagedParquetFormat].getName

  /** `factory`, with the managed confs set in the job conf it was
    * prepared against. */
  private def managed(job: Job, factory: OutputWriterFactory): OutputWriterFactory = {
    FieldIds.ManagedWriteConfs.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    factory
  }

  /** The DSv2 managed write of `info`'s rows into `stage`, under
    * `writeSchema` (the field-id-stamped schema of those rows). A
    * `ParquetWrite` reads only the query id, schema and options of its
    * write info, and checks column types with the same rule as the V1
    * format. */
  def batchWrite(stage: Path, writeSchema: StructType, info: LogicalWriteInfo): BatchWrite = {
    val winfo = new LogicalWriteInfo {
      override def queryId(): String = info.queryId()
      override def schema(): StructType = writeSchema
      override def options(): CaseInsensitiveStringMap = info.options()
    }
    new ParquetWrite(Seq(stage.toString), "Parquet",
        new ManagedParquetFormat().supportDataType, winfo) {
      override def prepareWrite(sqlConf: SQLConf, job: Job,
          options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
        managed(job, super.prepareWrite(sqlConf, job, options, dataSchema))
    }.toBatch
  }
}
