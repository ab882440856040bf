package graft

import graft.sources.ParquetSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Readers for the driver-generated parquet fixtures (TESTDATA.md /
  * FIXTURES.md §A). Each table's schema is the one in its parquet footer:
  * [[graft.sources.ParquetSource]] reads that one footer on the driver,
  * giving the schema `spark.read.parquet` infers without its one-task
  * schema job.
  *
  * Scale posture: these are plain parquet scans — at 100 TB the
  * same call reads a date/key-partitioned parquet lake and Catalyst does
  * partition pruning + predicate pushdown for free, because every operator in
  * this library keeps filters and projections declarative.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
      // generations (Spark can't represent it — Sessions sets
      // spark.sql.legacy.parquet.nanosAsLong=true so it arrives as BIGINT
      // nanos) and as TIMESTAMP(MICROS) in others (arrives as
      // TIMESTAMP_NTZ). Normalize BOTH to the session-zone TimestampType
      // every downstream query was written against: integer div for nanos
      // (exact), ntz→ltz cast for micros (identity instant under the UTC
      // session zone Sessions pins).
      val raw = ParquetSource.read(spark, path(dir, name))
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", expr("CAST(ts AS TIMESTAMP)"))
        case _ => raw
      }
    } else {
      ParquetSource.read(spark, path(dir, name))
    }

  /** Register every fixture table as a temp view so the full engine surface
    * is reachable from `spark.sql(...)` text too (the reference's users
    * write SQL; `graft_dot`/`graft_cosine`/`graft_topk` resolve once the
    * session has graft's extensions).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Scale-adaptive spread before CPU-heavy per-row derivations (guide
    * §2.5 "input skew: one huge unsplittable file"). Parquet cannot split
    * below row-group granularity, so a small or single-row-group file
    * scans as ONE task and serializes md5/regex/codec work behind one core
    * while the rest of the machine idles. When the plan's scan yields
    * fewer partitions than the session's parallelism, hash-repartition on
    * the key columns up to parallelism; when the input already carries enough
    * splits (any production lake), the branch is off and NO shuffle is
    * added — partitioning derived from input size, never a constant tuned
    * for either local mode or the cluster. Callers put this immediately
    * below the expensive projection and above the scan-side filters, so
    * pushdown still reaches the parquet scan.
    *
    * `keys` must be a deterministic high-cardinality column (a doc/row
    * id): hash partitioning is retry-safe without the round-robin form's
    * local pre-sort (SPARK-23207), which on wide rows (word arrays,
    * payloads) costs more than the work being spread.
    */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p, keys: _*) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
