package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** graft_hll / graft_hll_merge — register-map invariants, partitioning
  * determinism, the merge==direct rollup contract, and the ~6.5% (p=8)
  * accuracy band on a cardinality large enough for the raw estimator.
  */
class HllSpec extends SparkSuiteBase {

  private def hashed(n: Int) = {
    spark.range(n).select(
      (col("id") % 7).cast("int").as("g"),
      graft.functions.TextFunctions.md5Bits(col("id").cast("string"), 15).as("h"))
  }

  private def regs(df: org.apache.spark.sql.DataFrame): Array[(Int, Seq[(Int, Int)])] =
    df.collect()
      .map(r => (r.getInt(0),
        r.getSeq[Row](1).map(e => (e.getInt(0), e.getInt(1)))))
      .sortBy(_._1)

  test("registers are identical under any partitioning (merge-order determinism)") {
    def sketch(parts: Int) = regs(
      hashed(20000).repartition(parts)
        .groupBy(col("g")).agg(call_function("graft_hll", col("h")).as("sk"))
        .select(col("g"), col("sk")))
    assert(sketch(1).toSeq == sketch(13).toSeq)
  }

  test("register values match the 53 - bitLength(h >>> 8) rule") {
    val rows = hashed(5000).collect().map(r => (r.getInt(0), r.getLong(1)))
    val byGroupBucket = rows
      .map { case (g, h) =>
        val w = h >>> 8
        val rho = if (w == 0L) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
        ((g, (h & 255L).toInt), rho)
      }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }
    val got = regs(
      hashed(5000).groupBy(col("g")).agg(call_function("graft_hll", col("h")).as("sk"))
        .select(col("g"), col("sk")))
      .flatMap { case (g, entries) => entries.map { case (b, r) => ((g, b), r) } }
      .toMap
    assert(got == byGroupBucket)
    assert(got.values.forall(r => r >= 1 && r <= 53))
  }

  test("merging fine-grain sketches is bit-identical to sketching raw (rollup contract)") {
    val withDay = hashed(20000).withColumn("day", (col("h") % 11).cast("int"))
    val direct = regs(
      withDay.groupBy(col("g")).agg(call_function("graft_hll", col("h")).as("sk"))
        .select(col("g"), col("sk")))
    val rolled = regs(
      withDay.groupBy(col("g"), col("day"))
        .agg(call_function("graft_hll", col("h")).as("sk_fine"))
        .groupBy(col("g"))
        .agg(call_function("graft_hll_merge", col("sk_fine")).as("sk"))
        .select(col("g"), col("sk")))
    assert(direct.toSeq == rolled.toSeq)
  }

  test("sketch survives a parquet round-trip into graft_hll_merge") {
    val dir = tmpDir("hll_rt")
    hashed(20000).groupBy(col("g"), (col("h") % 5).as("fine"))
      .agg(call_function("graft_hll", col("h")).as("sk_fine"))
      .write.mode("overwrite").parquet(dir)
    val direct = regs(
      hashed(20000).groupBy(col("g")).agg(call_function("graft_hll", col("h")).as("sk"))
        .select(col("g"), col("sk")))
    val reread = regs(
      spark.read.parquet(dir).groupBy(col("g"))
        .agg(call_function("graft_hll_merge", col("sk_fine")).as("sk"))
        .select(col("g"), col("sk")))
    assert(direct.toSeq == reread.toSeq)
  }

  test("estimate lands in the p=8 accuracy band on 50k distinct keys") {
    import graft.operators.Relational
    // one group, 50k distinct ids; raw HLL (no bias correction) at
    // n >> 2.5m should land well within 4 standard errors (4 * 1.04/16)
    val est = spark.range(50000)
      .select(graft.functions.TextFunctions.md5Bits(col("id").cast("string"), 15).as("h"))
      .agg(call_function("graft_hll", col("h")).as("sk"))
      .select(Relational.hllEst("sk").as("est"))
      .collect()(0).getDouble(0)
    assert(math.abs(est - 50000.0) / 50000.0 < 0.26, s"estimate $est too far from 50000")
  }
}
