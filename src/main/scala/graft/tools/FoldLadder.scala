package graft.tools

import graft.Sessions
import graft.pipeline.Warehouse
import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._

/** Fold-cost ladder for the PARTITION-SCOPED fold (round 18 — VERDICT
  * r17 task 1's "sf10 ladder row showing fold cost flat in lake mass at
  * fixed tail"): measures [[StreamRunner.foldForward]]'s wall time as
  * the FOLDED lake grows while the tail stays fixed. The old fold
  * rewrote the whole generation (cost ∝ lake mass); the manifest fold
  * rewrites only partitions holding tail rows and carries untouched
  * partition directories forward by sidecar reference, so fold cost
  * must track the TAIL-TOUCHED partition mass, not the lake.
  *
  * Experiment shape: a `wb`-bucketed lake (64 buckets, the postings
  * layout) whose base generation holds `mass` rows spread over buckets
  * 1..63 plus a FIXED 1k rows in bucket 0; every rung's tail is 1k rows
  * landing in bucket 0 only. A partition-scoped fold therefore reads
  * and rewrites ~2k rows regardless of `mass`; a full-generation
  * rewrite pays `mass`. Rungs at 1x/4x/12x base mass — flat publish
  * seconds across rungs is the pass grade.
  *
  * Usage: runMain graft.tools.FoldLadder [baseMass]
  */
object FoldLadder {
  def main(args: Array[String]): Unit = {
    val baseMass = if (args.nonEmpty) args(0).toInt else 20000
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    for (mult <- Seq(1, 4, 12)) {
      val mass = baseMass * mult
      val root = java.nio.file.Files.createTempDirectory("flad").toString
      val wh = new Warehouse(root)
      // batch 0: `mass` rows over buckets 1..63 + fixed 1k in bucket 0
      val bulk = spark.range(mass).select(
        col("id").as("doc_id"),
        (pmod(col("id"), lit(63L)) + lit(1L)).as("wb"),
        lit(0L).as("ingest_batch"))
      val hot0 = spark.range(1000).select(
        (col("id") + lit(mass.toLong)).as("doc_id"),
        lit(0L).as("wb"), lit(0L).as("ingest_batch"))
      wh.partitionedUpsertWrite(bulk.unionByName(hot0), "lk",
        Seq("wb", "ingest_batch"))
      def fold() = StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
        t => Right(t), Seq("wb"))
      val t0 = System.nanoTime()
      fold(): Unit
      val fullS = (System.nanoTime() - t0) / 1e9
      // the measured rung: a FIXED 1k-row tail in bucket 0 folding over
      // the now-committed base generation
      val tail = spark.range(1000).select(
        (col("id") + lit(mass.toLong + 1000L)).as("doc_id"),
        lit(0L).as("wb"), lit(1L).as("ingest_batch"))
      wh.partitionedUpsertWrite(tail, "lk", Seq("wb", "ingest_batch"))
      val t1 = System.nanoTime()
      val v = fold()
      val incrS = (System.nanoTime() - t1) / 1e9
      val logical = wh.readVersion(spark, "lk_serve", Some(v)).count()
      val fresh = Option(new java.io.File(s"$root/lk_serve/_v=$v").listFiles())
        .getOrElse(Array.empty).count(f =>
          f.isDirectory && f.getName.startsWith("wb="))
      println(f"[flad] mass=$mass%8d first_fold_s=$fullS%6.2f " +
        f"incr_fold_s=$incrS%6.2f rewritten_partitions=$fresh%2d " +
        f"logical_rows=$logical%8d")
      Warehouse.deleteRecursively(new java.io.File(root))
    }
    spark.stop()
  }
}
