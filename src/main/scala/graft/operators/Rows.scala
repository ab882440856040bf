package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StructType

/** The one hand-written row transform: `f` maps each partition of `input`
  * to rows of `schema`. Spark's own `MapPartitions` node keeps the
  * transform inside the query's plan, above its source scan, so the
  * optimizer, AQE and plan statistics see the whole query, and nothing
  * runs while the query is still being built. The row encoder checks each
  * output row against `schema` as it serializes it.
  */
private[graft] object Rows {
  def mapPartitions(input: DataFrame, schema: StructType)(
      f: Iterator[Row] => Iterator[Row]): DataFrame =
    input.mapPartitions(f)(Encoders.row(schema))
}
