package graft.tools

import graft.Sessions
import graft.pipeline.Warehouse
import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._

/** Ingest-cost ladder for the LSM-shaped perceptual signature index
  * (round 17 — VERDICT r16 task 1's "sf10 ingest ladder row"): measures
  * the per-batch PUBLISH cost of [[StreamRunner.perceptualPublishHashed]]
  * as the accumulated index grows, which is exactly the number the LSM
  * rewrite changes. The old layout dynamic-overwrote every touched `sb`
  * bucket, so a batch whose adds landed in all 64 buckets paid a write
  * proportional to INDEX mass; the delta layout appends one
  * `ingest_batch` partition per batch, so publish cost must stay FLAT in
  * index mass (and a periodic [[StreamRunner.compactPerceptual]] +
  * [[StreamRunner.gcLake]] keeps the match-corpus read bounded).
  *
  * Batches are synthetic hash frames (the post-decode shape — decode
  * cost is the modality codecs' business, priced in their own rows):
  * each batch carries `batchRows` distinct signatures spread uniformly
  * over all 64 buckets (the old layout's worst case) plus a 10% slice of
  * count-adds against already-indexed keepers (cross-batch dup mass).
  *
  * Usage: runMain graft.tools.PerceptualLadder [nBatches] [batchRows]
  * Prints one line per batch: batch id, accumulated index rows, publish
  * seconds — plus fold/vacuum timings at the end.
  */
object PerceptualLadder {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.nonEmpty) args(0).toInt else 12
    val batchRows = if (args.length > 1) args(1).toInt else 20000
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val root = java.nio.file.Files.createTempDirectory("plad").toString
    val wh = new Warehouse(root)
    def hashedBatch(b: Long) = {
      // distinct new signatures (ids disjoint per batch) + 10% exact
      // re-occurrences of batch-0 signatures (count-add traffic)
      val fresh = spark.range(batchRows)
        .select((col("id") + lit(b * batchRows)).as("doc_id"),
          (col("id") * 2654435761L + lit(b * 1e9.toLong)).as("hash_hi"),
          (col("id") * 40503L + lit(b * 7919L)).as("hash_lo"))
      val dups = spark.range(batchRows / 10)
        .select((col("id") + lit((b + 100) * batchRows)).as("doc_id"),
          (col("id") * 2654435761L).as("hash_hi"),
          (col("id") * 40503L).as("hash_lo"))
      if (b == 0) fresh else fresh.unionByName(dups)
    }
    for (b <- 0L until nBatches.toLong) {
      val t0 = System.nanoTime()
      StreamRunner.perceptualPublishHashed(
        hashedBatch(b), b, wh, "plad", _ => None, maxHamming = 0)
      val sec = (System.nanoTime() - t0) / 1e9
      val mass = StreamRunner.perceptualSigsView(spark, wh, "plad").count()
      println(f"[plad] batch=$b%2d index_rows=$mass%8d publish_s=$sec%6.2f")
    }
    val tF = System.nanoTime()
    val v = StreamRunner.compactPerceptual(spark, wh, "plad")
    println(f"[plad] fold -> v$v in ${(System.nanoTime() - tF) / 1e9}%.2f s")
    val tG = System.nanoTime()
    val gone = StreamRunner.gcLake(spark, wh, "plad_sigs", "plad_sigs_serve",
      slackGenerations = 0)
    println(f"[plad] vacuum ${gone.size} delta partitions in ${(System.nanoTime() - tG) / 1e9}%.2f s")
    val t9 = System.nanoTime()
    StreamRunner.perceptualPublishHashed(
      hashedBatch(nBatches.toLong), nBatches.toLong, wh, "plad", _ => None, 0)
    println(f"[plad] post-fold batch publish_s=${(System.nanoTime() - t9) / 1e9}%6.2f")
    Warehouse.deleteRecursively(new java.io.File(root))
    spark.stop()
  }
}
