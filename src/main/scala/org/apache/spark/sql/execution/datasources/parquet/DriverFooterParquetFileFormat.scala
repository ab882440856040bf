package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Parquet whose schema inference reads one footer on the driver.
  *
  * `ParquetUtils.inferSchema` picks one footer when it does not merge
  * (`_common_metadata`, else `_metadata`, else the first data file by
  * path), then reads it through `mergeSchemasInParallel`, which is a
  * one-task Spark job per read. This override makes the same pick from
  * the files Spark listed and reads that footer on the driver with
  * Spark's own `readParquetFootersInParallel` and `readSchema`, so the
  * schema (session `nanosAsLong`/`inferTimestampNTZ` conversion, the Spark
  * row-metadata key) is the one the job would have returned.
  * `mergeSchema` and a listing with no parquet file (a `_SUCCESS`-only
  * directory's `UNABLE_TO_INFER_SCHEMA`) go to Spark's own inference
  * unchanged. Everything else, `shortName` and `toString` included, is
  * inherited, so plans still print `Scan parquet`.
  *
  * Lives in Spark's parquet package solely for access to those
  * `private[parquet]` helpers; no Spark internals are modified. Read
  * through `graft.sources.ParquetSource`, which names it by class.
  */
class DriverFooterParquetFileFormat extends ParquetFileFormat {

  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val summaries = Set(
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    val footer =
      if (new ParquetOptions(parameters, sparkSession.sessionState.conf).mergeSchema) None
      else named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(sorted.find(f => !summaries(f.getPath.getName)))
    footer match {
      case None => super.inferSchema(sparkSession, parameters, files)
      case Some(f) =>
        val footers = ParquetFileFormat.readParquetFootersInParallel(
          sparkSession.sessionState.newHadoopConfWithOptions(parameters), Seq(f),
          new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles)
        ParquetFileFormat.readSchema(footers, sparkSession)
    }
  }
}
