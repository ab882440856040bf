package graft

import org.apache.spark.sql.execution.LogicalRDD

/** Hand-written row transforms (media and crawl decode, their fixture
  * builders, robots verdicts, HTML fixtures, the skyline's partial pass)
  * stay inside the query's plan as `MapPartitions` nodes over their source
  * scans: no registered query leaves the plan through an RDD. The only
  * `LogicalRDD`s left are deliberate `localCheckpoint` lineage cuts, which
  * Spark plans as a scan of the checkpointed RDD.
  */
class RowSeamSpec extends SparkSuiteBase {

  /** Every registered query whose analyzed plan held a `LogicalRDD` built
    * by an `.rdd` → `createDataFrame` round trip.
    */
  private val roundTripQueries = Seq(
    "crawl_charset_extract", "crawl_frontier_incr", "crawl_gzip_members",
    "crawl_jsonl_gz", "crawl_redirects", "crawl_robots_gate", "dedup_clusters",
    "dedup_clusters_stars", "dedup_kcore", "dedup_keep_canonical",
    "dedup_keeper_centrality", "dedup_pagerank", "mm_binary_meta",
    "mm_dhash_incr", "mm_dhash_neardup", "mm_frame_sample", "mm_jpeg_decode",
    "mm_jpeg_resize", "mm_png_decode", "mm_png_resize", "mm_video_decode",
    "mm_video_fingerprint", "mm_video_meta", "mm_video_neardup",
    "mm_wav_decode", "mm_wav_features", "mm_wav_fingerprint",
    "mm_wav_fingerprint60", "mm_wav_meta", "mm_wav_overmerge",
    "pipe_crawl_budget", "pipe_crawl_e2e", "pipe_crawl_files_e2e",
    "pipe_frontier_gated", "pipe_frontier_merge", "pipe_image_dedup_e2e",
    "pipe_media_dedup_cut", "pipe_media_dedup_e2e", "pipe_media_dedup_incr",
    "pipe_multimodal_e2e", "pipe_semantic_e2e", "q_skyline",
    "sim_semantic_dedup", "txt_html_extract")

  private val components = "connected-components rounds cut lineage per round"
  private val redirectWalk = "the redirect walk checkpoints each hop round"

  /** Queries that keep a `localCheckpoint`, and why. */
  private val lineageCuts: Map[String, String] = Map(
    "crawl_frontier_incr" -> redirectWalk,
    "crawl_redirects" -> redirectWalk,
    "dedup_clusters" -> components,
    "dedup_clusters_stars" -> components,
    "dedup_kcore" -> "k-core peeling rounds cut lineage per round",
    "dedup_keep_canonical" -> components,
    "dedup_keeper_centrality" -> "one pair set feeds components and PageRank",
    "dedup_pagerank" -> "power-iteration rounds cut lineage per round",
    "mm_wav_overmerge" -> "one fixture feeds both fingerprint widths",
    "pipe_crawl_budget" -> "one verdict pass feeds two rollups",
    "pipe_frontier_merge" -> s"one decode pass feeds two rollups; $redirectWalk",
    "pipe_image_dedup_e2e" -> components,
    "pipe_media_dedup_cut" -> s"one signature pass feeds three modalities; $components",
    "pipe_media_dedup_incr" -> s"one signature pass feeds three modalities; $components",
    "pipe_semantic_e2e" -> components,
    "sim_semantic_dedup" -> components)

  test("decodes stay in the plan: no LogicalRDD left but deliberate lineage cuts") {
    roundTripQueries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001).queryExecution.analyzed
      val rdds = plan.collectWithSubqueries { case r: LogicalRDD => r }
      lineageCuts.get(name) match {
        case Some(why) =>
          assert(rdds.nonEmpty, s"$name keeps no lineage cut ($why); drop it from the list")
          assert(rdds.forall(_.rdd.isCheckpointed),
            s"$name: a LogicalRDD that is not a checkpoint in\n${plan.treeString}")
        case None =>
          assert(rdds.isEmpty, s"$name: ${rdds.size} LogicalRDD in\n${plan.treeString}")
      }
    }
  }
}
