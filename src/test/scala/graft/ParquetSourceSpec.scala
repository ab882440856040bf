package graft

import graft.pipeline.Warehouse
import graft.sources.ParquetSource
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col

class ParquetSourceSpec extends SparkSuiteBase {
  import spark.implicits._

  // the sf0.01 fixture sits beside sf0.001
  private val sf001 = new java.io.File(sf0001).getParent + "/sf0.01"
  private val fixtures =
    for (dir <- Seq(sf0001, sf001); n <- Tables.names) yield (dir, n)

  /** One warehouse table of each write shape. */
  private lazy val wh: Warehouse = {
    val w = new Warehouse(tmpDir("pqsrc"))
    val df = Seq((1L, "a", "2024-01-01", 3), (2L, "b", "2024-01-02", 4))
      .toDF("id", "v", "d", "bucket")
    w.truncateWrite(df, "trunc")
    w.appendWrite(df, "app")
    w.appendWrite(df.withColumn("id", col("id") + 10), "app")
    w.partitionedUpsertWrite(df, "part", Seq("d", "bucket"))
    w.versionedWrite(df, "ver")
    w
  }
  private lazy val whPaths: Seq[String] =
    Seq("trunc", "app", "part").map(wh.tablePath) :+
      s"${wh.tablePath("ver")}/_v=${wh.currentVersion("ver").get}"

  private def dataFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.getName.endsWith(".parquet"))

  /** Jobs launched while building (not running) `build`. */
  private def jobsToBuild(build: => DataFrame): Long = QueryRun.watch(spark) { c =>
    val sc = spark.sparkContext
    sc.setJobGroup("parquet-source-build", "build", interruptOnCancel = false)
    try build.schema finally sc.clearJobGroup()
    c.of("parquet-source-build").jobs
  }

  test("fixture tables: the footer schema equals spark.read.parquet's, metadata included") {
    fixtures.foreach { case (dir, n) =>
      val p = Tables.path(dir, n)
      assert(ParquetSource.read(spark, p).schema == spark.read.parquet(p).schema, p)
    }
  }

  test("warehouse tables: truncate, multi-file append, partitioned upsert, versioned generation") {
    assert(dataFiles(wh.tablePath("app")) > 1, "append wrote one file")
    whPaths.foreach { p =>
      assert(ParquetSource.read(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    // partition columns come from the listing, appended with inferred types
    assert(wh.read(spark, "part").schema.fieldNames.toSeq == Seq("id", "v", "d", "bucket"))
    assert(wh.read(spark, "part").schema == spark.read.parquet(wh.tablePath("part")).schema)
    assert(wh.readVersion(spark, "ver").schema == spark.read.parquet(whPaths.last).schema)
    assert(wh.read(spark, "app").count() == 4)
  }

  test("building a table read runs no Spark job") {
    fixtures.foreach { case (dir, n) =>
      assert(jobsToBuild(Tables.load(spark, dir, n)) == 0, s"$dir/$n")
    }
    whPaths.foreach(p => assert(jobsToBuild(ParquetSource.read(spark, p)) == 0, p))
    Seq("trunc", "app", "part").foreach(n => assert(jobsToBuild(wh.read(spark, n)) == 0, n))
    assert(jobsToBuild(wh.readVersion(spark, "ver")) == 0)
  }

  test("mergeSchema still surfaces a late-added column") {
    val dir = tmpDir("pqsrc_evo") + "/t"
    val docs = Tables.documents(spark, sf0001)
    docs.select("doc_id", "lang").filter(col("doc_id") < 10).write.mode("append").parquet(dir)
    docs.select("doc_id", "lang", "n_chars").filter(col("doc_id").between(10, 19))
      .write.mode("append").parquet(dir)
    // unmerged: the same single footer Spark's own inference picks
    assert(ParquetSource.read(spark, dir).schema == spark.read.parquet(dir).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = ParquetSource.read(spark, dir)
      assert(merged.schema.fieldNames.toSet == Set("doc_id", "lang", "n_chars"))
      assert(merged.filter(col("doc_id") < 10 && col("n_chars").isNull).count() == 10)
      assert(merged.filter(col("doc_id") >= 10 && col("n_chars").isNotNull).count() == 10)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a _SUCCESS-only directory fails with spark.read.parquet's error condition") {
    val dir = new java.io.File(tmpDir("pqsrc_empty"), "t")
    assert(dir.mkdirs() && new java.io.File(dir, "_SUCCESS").createNewFile())
    val ours = intercept[AnalysisException](ParquetSource.read(spark, dir.getPath))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir.getPath))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getCondition == "UNABLE_TO_INFER_SCHEMA")
  }
}
