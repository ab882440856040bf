package graft.tools

import graft.Sessions
import graft.sources.ParquetSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up fixture generator for beyond-sf0.1 smoke runs (VERDICT r5
  * "What's missing #2": every 100 TB claim was argued, never measured past
  * sf0.1). Replicates a source SF directory `factor`× with key-shifted
  * copies, preserving the per-copy distributions the operators are
  * sensitive to:
  *
  *  - fact keys (orderkey/custkey/event ids/doc ids/vec ids) shift by
  *    copy·max(key), so joins match within a copy and never across copies
  *    — the join fan-outs scale exactly linearly, like ingesting ten
  *    disjoint days of the same upstream.
  *  - dimensions (region/nation/part/supplier) stay 1×: broadcast sides
  *    stay broadcast-able, as in a real star lake.
  *  - document TEXT is decorrelated between copies by suffixing the copy
  *    id onto every 3rd word: every 3-word shingle overlaps a modified
  *    position, so NO cross-copy shingle (or minhash band) collides —
  *    the duplicate-cluster structure replicates per copy instead of
  *    fusing into factor-sized mega-clusters, keeping the dup RATE (the
  *    thing LSH cost scales with) constant. Exact-dup groups likewise.
  *  - embeddings rotate by copy index (norm-preserving): ANN neighbor
  *    structure replicates per copy; hyperplane/query-vector conventions
  *    (vec_id 0..8) exist only in copy 0, as sim_* queries expect.
  *
  * Usage: runMain graft.tools.GenScale <srcDir> <outDir> <factor> [--grow-blocks]
  * (the output is THROWAWAY smoke input — never checked against the
  * oracle, which is why synthetic-copy data is acceptable here; see
  * SCALE.md "measured at sf1").
  *
  * `--grow-blocks` additionally grows the BLOCK-KEY value spaces with the
  * copy index (documents.source gets a per-copy suffix; embeddings.label
  * shifts by copy·10) — modeling a real lake, where key cardinality grows
  * with the data and per-block membership stays bounded. Without it the
  * fixture's fixed label/source spaces make block density grow with SF —
  * the deliberately-pessimistic default SCALE.md's sf1 table uses.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: GenScale <srcDir> <outDir> <factor> [--grow-blocks]")
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val growBlocks = args.drop(3).contains("--grow-blocks")
    val spark = Sessions.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    scaleAll(spark, src, out, factor, growBlocks)
    spark.stop()
  }

  def scaleAll(spark: SparkSession, src: String, out: String, factor: Int,
      growBlocks: Boolean = false): Unit = {
    def read(name: String): DataFrame = ParquetSource.read(spark, s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // dimensions: 1x
    Seq("region", "nation", "part", "supplier").foreach(n => write(read(n), n))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    def copies(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => tx(df, i)).reduce(_ unionAll _)

    val cust = read("customer")
    val custOff = maxOf(cust, "c_custkey")
    write(copies(cust)((d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(i * custOff))), "customer")

    val ord = read("orders")
    val ordOff = maxOf(ord, "o_orderkey")
    write(copies(ord)((d, i) => d
      .withColumn("o_orderkey", col("o_orderkey") + lit(i * ordOff))
      .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))), "orders")

    val li = read("lineitem")
    write(copies(li)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordOff))), "lineitem")

    val ev = read("events")
    val evOff = maxOf(ev, "event_id")
    val userOff = maxOf(ev, "user_id")
    write(copies(ev)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * evOff))
      .withColumn("user_id", col("user_id") + lit(i * userOff))), "events")

    val docs = read("documents")
    val docOff = maxOf(docs, "doc_id")
    write(copies(docs)((d, i) => {
      val txt =
        if (i == 0) col("text")
        else expr(s"concat_ws(' ', transform(split(text, ' '), " +
          s"(w, j) -> IF(j % 3 = 0, concat(w, '_$i'), w)))")
      val srcCol =
        if (growBlocks && i > 0) concat(col("source"), lit(s"_$i"))
        else col("source")
      d.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
        .withColumn("source", srcCol)
    }), "documents")

    val emb = read("embeddings")
    val vecOff = maxOf(emb, "vec_id")
    write(copies(emb)((d, i) => {
      // rotate by i MOD dim: factors beyond the embedding dimension would
      // otherwise drive slice() to a negative length (ANSI error). Copies
      // i and i+dim share a rotation, which only introduces exact
      // cross-copy ties in throwaway-smoke ANN rankings — timing, the
      // thing this fixture measures, is unaffected.
      val rot =
        if (i == 0) col("embedding")
        else expr(s"concat(slice(embedding, ($i % size(embedding)) + 1, " +
          s"size(embedding) - ($i % size(embedding))), " +
          s"slice(embedding, 1, $i % size(embedding)))")
      val labelCol =
        if (growBlocks && i > 0) col("label") + lit(i * 10)
        else col("label")
      d.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding", rot)
        .withColumn("label", labelCol)
    }), "embeddings")
  }
}
