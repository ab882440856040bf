package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the driver-facing mains.
  *
  * One place for the settings every entry point needs:
  *  - shuffle partitions sized to the core count (local mode; at cluster
  *    scale this is sized to shuffle volume and AQE coalesces, SCALE.md);
  *  - AQE on (runtime re-planning, skew splitting);
  *  - UTC session timezone (oracle determinism);
  *  - `nanosAsLong` because the `events` fixture carries parquet
  *    TIMESTAMP(NANOS), which Spark 4 otherwise refuses
  *    (PARQUET_TYPE_ILLEGAL); `Tables.load` converts back to micros;
  *  - graft's extensions (native expressions + optimizer rule), so
  *    sessions built here resolve `graft_dot`/`graft_cosine`/`graft_topk`
  *    without the post-hoc `ensureRegistered` path;
  *  - a generated-code class cache that holds every registered query's
  *    classes. At Spark's default of 100 entries the 18 headline queries
  *    evicted each other, so every warm pass at sf0.01 recompiled 237 of
  *    their 250 classes, at 11–13 ms of Janino each, and re-JITted them.
  *    One session running all 315 registered queries twice at sf0.001
  *    compiles 5,005 distinct classes in the first pass and 114 more in
  *    the second.
  */
object Sessions {
  def base(master: String, shufflePartitions: Int): SparkSession = {
    var b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // List partitioned-table directories on the driver up to 4096 paths
      // (Spark default: 32) instead of launching a one-task-per-path
      // distributed listing job. Every partitioned table here has a
      // partition-directory count bounded by partition-KEY cardinality
      // (≤ a few hundred: code/cell × batch), not by data volume — the
      // same bound holds at 100 TB — and a ~250-task cluster job to stat
      // ~250 directories is pure scheduling overhead at any scale
      // (measured: 0.5-0.6 s wall for <60 ms of listing work, 3× per
      // serve query). Path sets that genuinely reach thousands still go
      // distributed; cluster profiles override via SPARK_GRAFT_CONF.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      // Hold every generated class the registered queries compile (Spark
      // default: 100): 5,119 distinct classes measured with an unbounded
      // cache over two passes of all 315 queries, so 8192 keeps headroom
      // for new ones. The cache lives in `object CodeGenerator` and is
      // sized once per JVM by the session active at the first compile, so
      // every session, specs included, comes from this builder.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
    // SPARK_GRAFT_CONF: semicolon-separated key=value pairs appended to the
    // session config — the parameterization hook for scale-dependent
    // settings (shuffle sizing, join strategy preferences) so cluster
    // profiles don't require a rebuild. Applied last: overrides the
    // defaults above.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry not key=value: $kv")
        b = b.config(kv.substring(0, i), kv.substring(i + 1))
      })
    val spark = b.withExtensions(new plans.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Session per SPARK_GRAFT_CPUS (driver contract default: 32). */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    base(s"local[$cpus]", cpus.toInt)
  }
}
