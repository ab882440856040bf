package graft.tools

import graft.Sessions

/** Recall-vs-k×nprobe measurement for the trained coarse quantizer
  * (round 18 — VERDICT r17 task 3): runs the capped 16-query panel
  * ([[graft.operators.Similarity.quantizerKPanel]]) at every
  * k ∈ {8, 16, 32} × nprobe ∈ {1, 2, 4} over the deduplicated
  * semantic lake, printing one line per combination. The table this
  * produces (SCALE.md) is what justifies the √N k-growth rule the
  * auto-k serves use ([[graft.operators.Similarity.chooseK]]).
  *
  * Usage: runMain graft.tools.QuantizerPanel [sfDir]
  */
object QuantizerPanel {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val rows = graft.operators.Similarity
      .quantizerKPanel(spark, d, Seq(8, 16, 32), Seq(1, 2, 4))
      .collect()
    rows.foreach { r =>
      println(f"[qpanel] sf=$d%s k=${r.getLong(0)}%2d " +
        f"nprobe=${r.getLong(1)}%d hits=${r.getLong(2)}%3d/${r.getLong(3)}%3d " +
        f"recall_pct=${r.getLong(2) * 100.0 / r.getLong(3)}%5.1f")
    }
    spark.stop()
  }
}
