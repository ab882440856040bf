package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every operator module's oracle-checkable queries;
  * `oracleSql` carries the DuckDB-equivalent SQL for the driver's
  * correctness gate. Column names are aliased identically on both sides and
  * every query ends in a total ORDER BY (see [[QueryModule]] determinism
  * rules).
  */
object SparkEntry {

  private def modules: Seq[QueryModule] = Seq(
    operators.SearchHistory,
    operators.Transactions,
    operators.Relational,
    operators.Reporting,
    operators.Curation,
    operators.Dedup,
    operators.Similarity,
    operators.TextAnalysis,
    operators.Multimodal,
    operators.Crawl,
    operators.EventTime)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A join + agg touching the fact table and two dimensions.
    */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.queries("q3_join_topk")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracleSql).toMap
}
