package graft

import graft.operators.Reporting
import org.apache.spark.sql.functions.col

/** Semantic traps in the decision-support reports that the DuckDB oracle
  * alone would not localize if they regressed: Q13's zero-order customers,
  * Q15's tie-keeping max, Q17's exact 0.2·avg comparison, Q18's pre-join
  * HAVING, Q22's anti-join exclusion.
  */
class ReportingSpec extends SparkSuiteBase {

  test("q13_custdist: distribution covers every customer (zeros kept by the left join)") {
    val dist = Reporting.queries("q13_custdist")(spark, sf0001)
      .agg(org.apache.spark.sql.functions.sum(col("n_custs"))).head.getLong(0)
    val nCust = Tables.customer(spark, sf0001).count()
    assert(dist == nCust,
      s"per-count distribution sums to $dist but there are $nCust customers — " +
        "zero-order customers fell out of the left join")
  }

  test("q15_top_supplier: every returned supplier has the same (max) revenue") {
    val rows = Reporting.queries("q15_top_supplier")(spark, sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getDouble(2)).distinct.length == 1,
      "tie rows must all carry the max revenue")
  }

  test("q17_small_qty: survivors are strictly below 0.2x their part's average quantity") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf0001)
    val perPart = li.groupBy(col("l_partkey").as("k"))
      .agg(avg(col("l_quantity")).as("avg_q"))
    val bad = li
      .join(Tables.part(spark, sf0001).filter(col("p_type") === "PROMO"),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("k"))
      .filter(col("l_quantity") < col("avg_q") * 0.2)
      .count()
    val reported = Reporting.queries("q17_small_qty")(spark, sf0001)
      .head.getLong(1)
    assert(reported == bad,
      s"exact integer cross-multiplication selected $reported rows; " +
        s"double-avg semantics selects $bad — they must agree on integral quantities")
  }

  test("q18_large_orders: the pre-join HAVING matches a post-join group-filter") {
    import org.apache.spark.sql.functions._
    val viaJoin = Tables.lineitem(spark, sf0001)
      .join(Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey").as("ok"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 260.0)
      .count()
    val q = Reporting.queries("q18_large_orders")(spark, sf0001).count()
    assert(q == math.min(viaJoin, 100L))
  }

  test("q22_balance: no returned nation bucket contains an urgent-order customer") {
    import org.apache.spark.sql.functions._
    val urgentCusts = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct()
    // reconstruct the selected customer set with the same predicate and
    // assert the anti join removed every urgent customer
    val pos = Tables.customer(spark, sf0001).filter(col("c_acctbal") > 0)
      .agg(sum(round(col("c_acctbal") * 100).cast("bigint")).as("sum_c"),
        count(lit(1)).as("n_c"))
    val selected = Tables.customer(spark, sf0001).crossJoin(broadcast(pos))
      .filter(round(col("c_acctbal") * 100).cast("bigint") * col("n_c") > col("sum_c"))
      .join(urgentCusts, col("c_custkey") === col("o_custkey"), "left_semi")
      .count()
    val withUrgent = Reporting.queries("q22_balance")(spark, sf0001)
      .agg(sum(col("n_custs"))).head.getLong(0)
    val allSelected = Tables.customer(spark, sf0001).crossJoin(broadcast(pos))
      .filter(round(col("c_acctbal") * 100).cast("bigint") * col("n_c") > col("sum_c"))
      .count()
    assert(withUrgent == allSelected - selected)
  }

  test("q_skyline: window formulation equals the brute-force domination definition") {
    import org.apache.spark.sql.functions._
    val pts = Tables.part(spark, sf0001)
      .select(round(col("p_retailprice") * 100).cast("bigint").as("pc"), col("p_size"))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    val brute = pts.filter { case (p, s) =>
      !pts.exists { case (p2, s2) =>
        p2 <= p && s2 >= s && (p2 < p || s2 > s)
      }
    }.map { case (p, s) => (p / 100.0, s) }.sortBy(identity).toSeq
    val got = graft.operators.Reporting.queries("q_skyline")(spark, sf0001)
      .collect().map(r => (r.getDouble(0), r.getInt(1))).toSeq
    assert(got == brute, s"window skyline $got != brute-force $brute")
  }

  test("skylineFrontier: partial-union decomposition equals brute force across partitionings") {
    import spark.implicits._
    // deterministic pseudo-random point cloud; dominated points everywhere,
    // frontier points scattered across partitions
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(2000)((rnd.nextInt(1000).toLong, rnd.nextInt(1000))).distinct
    val brute = pts.filter { case (p, s) =>
      !pts.exists { case (p2, s2) => p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.toSet
    // the decomposition must be partitioning-invariant: a frontier point can
    // never be eliminated by the partial pass, whatever partition it lands in
    for (nPart <- Seq(1, 3, 16)) {
      val df = pts.toDF("price_c", "p_size").repartition(nPart)
      val got = operators.Reporting.skylineFrontier(df)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == brute, s"partial-union skyline at $nPart partitions != brute force")
    }
  }

  test("report joins: broadcast hints only on fixed-cardinality dims") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    def hinted(name: String): Int =
      Reporting.queries(name)(spark, sf0001)
        .queryExecution.optimizedPlan.collect { case j: Join =>
          Seq(j.hint.leftHint, j.hint.rightHint).flatten
            .count(_.strategy.contains(BROADCAST))
        }.sum
    // q7: two nation sides; q9: one nation side; q13/q17/q18: none
    // (customer/part/supplier grow with SF — AQE must decide by size)
    assert(hinted("q7_volume") == 2)
    assert(hinted("q9_profit") == 1)
    assert(hinted("q13_custdist") == 0)
    assert(hinted("q17_small_qty") == 0)
    assert(hinted("q18_large_orders") == 0)
  }
}
