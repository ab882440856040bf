package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.DriverFooterParquetFileFormat

/** Parquet table source: the one parquet read in the library.
  *
  * The schema comes from the parquet footers, as with
  * `spark.read.parquet`, and is exactly the schema that call infers: the
  * same footer is picked from the same listing and converted under the
  * same session settings. The footer is read on the driver
  * ([[DriverFooterParquetFileFormat]]) instead of by a one-task Spark job,
  * so building a read launches no job. `mergeSchema` still merges every
  * footer through Spark's own job.
  *
  * Scale: one footer read per table read whatever the table's size; the
  * scan itself is Spark's parquet scan with its partition pruning and
  * predicate pushdown.
  */
object ParquetSource {

  private val parquet = classOf[DriverFooterParquetFileFormat].getName

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(parquet).load(path)

  /** A table in the columnar `format` a `Warehouse` is configured with:
    * parquet through [[read]], any other format (ORC already infers its
    * schema on the driver) through Spark's own reader.
    */
  def read(spark: SparkSession, path: String, format: String): DataFrame =
    if (format.equalsIgnoreCase("parquet")) read(spark, path)
    else spark.read.format(format).load(path)
}
