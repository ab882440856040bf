package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** graft_cms / graft_cms_merge — cell-map invariants, partitioning
  * determinism, the merge==direct rollup contract, and the CMS bound
  * (estimates never undercount).
  */
class CmsSpec extends SparkSuiteBase {

  private def hashed(n: Int) = {
    spark.range(n).select(
      (col("id") % 5).cast("int").as("g"),
      // id % 100 → 100 distinct keys with n/100 true frequency each,
      // colliding in the 64-bucket rows — the min-over-rows must matter
      graft.functions.TextFunctions.md5Bits((col("id") % 100).cast("string"), 15).as("h"))
  }

  private def cells(df: org.apache.spark.sql.DataFrame): Array[(Int, Seq[(Int, Long)])] =
    df.collect()
      .map(r => (r.getInt(0),
        r.getSeq[Row](1).map(e => (e.getInt(0), e.getLong(1)))))
      .sortBy(_._1)

  test("cells are identical under any partitioning (merge-order determinism)") {
    def sketch(parts: Int) = cells(
      hashed(20000).repartition(parts)
        .groupBy(col("g")).agg(call_function("graft_cms", col("h")).as("sk"))
        .select(col("g"), col("sk")))
    assert(sketch(1).toSeq == sketch(13).toSeq)
  }

  test("cell counts match the lane rule: row i buckets on (h >>> 15i) & 63") {
    val rows = hashed(5000).collect().map(r => (r.getInt(0), r.getLong(1)))
    val expected = rows
      .flatMap { case (g, h) =>
        (0 until plans.CmsAggregate.D).map(i =>
          ((g, i * 64 + ((h >>> (15 * i)) & 63L).toInt), 1L))
      }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
    val got = cells(
      hashed(5000).groupBy(col("g")).agg(call_function("graft_cms", col("h")).as("sk"))
        .select(col("g"), col("sk")))
      .flatMap { case (g, entries) => entries.map { case (c, n) => ((g, c), n) } }
      .toMap
    assert(got == expected)
    // every row's cells sum to the group's arrival count
    val arrivals = rows.groupBy(_._1).map { case (g, vs) => (g, vs.size.toLong) }
    for (g <- arrivals.keys; i <- 0 until plans.CmsAggregate.D) {
      val rowSum = got.collect {
        case ((gg, c), n) if gg == g && c >= i * 64 && c < (i + 1) * 64 => n
      }.sum
      assert(rowSum == arrivals(g), s"row $i of group $g")
    }
  }

  test("merging per-shard sketches is bit-identical to sketching raw (rollup contract)") {
    val direct = cells(
      hashed(20000).groupBy(col("g")).agg(call_function("graft_cms", col("h")).as("sk"))
        .select(col("g"), col("sk")))
    val rolled = cells(
      hashed(20000)
        .withColumn("shard", pmod(col("h"), lit(7L)))
        .groupBy(col("g"), col("shard"))
        .agg(call_function("graft_cms", col("h")).as("sk_shard"))
        .groupBy(col("g"))
        .agg(call_function("graft_cms_merge", col("sk_shard")).as("sk"))
        .select(col("g"), col("sk")))
    assert(direct.toSeq == rolled.toSeq)
  }

  test("point estimates never undercount, and are exact when no key collides in some row") {
    // replay the estimate in Scala from the emitted sketch: est(key) =
    // min over rows of the keyed cell — compare against true frequency.
    // 300 distinct keys in ONE sketch: with 64 buckets per row a key
    // collides in any given row w.p. ~0.99, in all 4 rows w.p. ~0.96 —
    // the min-over-rows genuinely decides, not a trivially exact case.
    val dense = spark.range(20000).select(
      graft.functions.TextFunctions.md5Bits((col("id") % 300).cast("string"), 15).as("h"))
    val sk = dense.agg(call_function("graft_cms", col("h")).as("sk"))
      .collect()(0).getSeq[Row](0).map(e => (e.getInt(0), e.getLong(1))).toMap
    val hs = dense.collect().map(_.getLong(0))
    val trueFreq = hs.groupBy(identity).map { case (h, vs) => (h, vs.size.toLong) }
    val est = trueFreq.keys.map { h =>
      val e = (0 until plans.CmsAggregate.D).map(i =>
        sk.getOrElse(i * 64 + ((h >>> (15 * i)) & 63L).toInt, 0L)).min
      (h, e)
    }.toMap
    assert(trueFreq.size == 300)
    trueFreq.foreach { case (h, f) =>
      assert(est(h) >= f, s"undercount at $h: est ${est(h)} < true $f")
    }
    assert(trueFreq.exists { case (h, f) => est(h) > f })
  }
}
