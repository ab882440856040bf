package graft.tools

import graft.Sessions
import graft.pipeline.Warehouse
import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._

/** The txt_bm25_hybrid fold-cadence fix, measured (round 18 — VERDICT
  * r17 task 4 / the 3.7x-at-100x SCALE.md row): builds the streamed
  * inverted index over the given corpus as 16 micro-batch fragments,
  * then times the 5-term hybrid BM25 serve under two maintenance
  * regimes —
  *  - FRAGMENTED (the r17 worst case): one early fold, 15 unfolded
  *    tail batches; every term probe opens ~15 fragment files per
  *    term bucket;
  *  - CADENCE (the r18 shape): [[StreamRunner.maintainPostings]] every
  *    4 batches, exactly what `postingsIngestToWarehouse(maintainEvery
  *    = 4)` runs in-loop — the tail at read time is ≤ 4 batches and
  *    the fold bill is reported separately (it amortizes at ingest
  *    cadence, off the read path).
  *
  * Usage: runMain graft.tools.Bm25CadenceLadder [sfDir]
  */
object Bm25CadenceLadder {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val toks = graft.Tables.documents(spark, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .localCheckpoint()
    def publishBatch(wh: Warehouse, b: Long): Unit = {
      val slice = toks.filter(pmod(col("doc_id"), lit(16L)) === b)
      wh.partitionedUpsertWrite(
        slice.groupBy(col("word"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("wb", graft.functions.TextFunctions.md5Bits(col("word"), 1))
          .withColumn("ingest_batch", lit(b)),
        "lex_postings", Seq("wb", "ingest_batch"))
      wh.noteLiveBatch("lex_postings", b)
      wh.partitionedUpsertWrite(
        slice.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
          .withColumn("ingest_batch", lit(b)),
        "lex_doclen", Seq("ingest_batch"))
      wh.noteLiveBatch("lex_doclen", b)
    }
    def serveSeconds(wh: Warehouse): Double = {
      val t0 = System.nanoTime()
      val postings = StreamRunner.hybridLakeRead(
        spark, wh, "lex_postings", "lex_postings_serve")
      val doclen = StreamRunner.hybridLakeRead(
        spark, wh, "lex_doclen", "lex_doclen_serve")
      val qterms = postings
        .filter(!col("word").isin(graft.operators.TextAnalysis.stop: _*))
        .groupBy(col("word")).agg(sum(col("tf")).as("cf"))
        .orderBy(desc("cf"), col("word")).limit(5).select(col("word"))
      graft.operators.TextAnalysis.bm25Score(
        postings.join(broadcast(qterms), "word"),
        doclen.select(col("doc_id"), col("dl"))).collect(): Unit
      (System.nanoTime() - t0) / 1e9
    }
    for (regime <- Seq("fragmented", "cadence")) {
      val root = java.nio.file.Files.createTempDirectory("bmcad").toString
      val wh = new Warehouse(root)
      var foldS = 0.0
      for (b <- 0L until 16L) {
        publishBatch(wh, b)
        val tick = regime match {
          case "cadence" => (b + 1) % 4 == 0
          case _ => b == 0 // one early fold, then 15 unfolded batches
        }
        if (tick) {
          val t0 = System.nanoTime()
          StreamRunner.maintainPostings(spark, wh, "lex",
            foldAtTailBatches = 1): Unit
          foldS += (System.nanoTime() - t0) / 1e9
        }
      }
      val warm = serveSeconds(wh) // first read pays listing warmup
      val s1 = serveSeconds(wh)
      val s2 = serveSeconds(wh)
      val tail = wh.liveBatches("lex_postings").size
      println(f"[bmcad] sf=$d%s regime=$regime%-10s serve_s=${math.min(s1, s2)}%6.2f " +
        f"(warm=$warm%6.2f) fold_bill_s=$foldS%6.2f tail_batches=$tail%2d")
      Warehouse.deleteRecursively(new java.io.File(root))
    }
    spark.stop()
  }
}
