package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.DateFilters
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Classic decision-support report shapes (TPC-H Q7/Q8/Q9/Q12/Q13/Q14/Q15/
  * Q17/Q18/Q19/Q22 families), adapted to the fixture's columns (no
  * partsupp/shipmode/phone — cost uses `p_retailprice`, lateness uses the
  * ship−order date lag, Q22's "country code" is `c_nationkey`). The
  * reference delegates every report to BigQuery SQL (SURVEY.md §2.3-§2.8);
  * these pin the multi-join / conditional-aggregate / correlated-filter
  * surface a warehouse user actually writes, each against a DuckDB oracle.
  *
  * Scale posture (same policy as [[Relational]]):
  *  - nation/region are fixed-cardinality at ANY SF → explicit broadcast;
  *    supplier/customer/part grow with SF → NO hint, AQE decides by size.
  *  - Dimension predicates (the two Q7 nations, ASIA, PROMO parts) are
  *    applied to the dimension BEFORE its join, so the fact side shrinks at
  *    the earliest join, not in a post-join filter.
  *  - Every money aggregate is integer cents (×(100−disc_pct) → 1e-4 units)
  *    in a DECIMAL(38,0) accumulator — partition-order independent, and the
  *    one IEEE division at the end is spelled identically in the oracle.
  *  - Correlated "vs my group's average" predicates are written as exact
  *    integer cross-multiplication (q·5·n < Σq for "q < 0.2·avg"), never a
  *    double avg() both engines could tie-break differently.
  */
object Reporting extends QueryModule {

  /** Distributed 2-D skyline over `(price_c: BIGINT, p_size: INT)` points
    * (minimize price, maximize size, non-null, exact duplicates already
    * removed). Decomposed the way a 100 TB skyline must be:
    *
    *  1. partial pass — sort each partition locally (no exchange) by
    *     (price asc, size desc) and keep a row iff its size beats the
    *     partition's running max of everything cheaper. Narrow mapPartitions;
    *     every globally non-dominated point survives its partition (a point
    *     dominated by nothing overall is dominated by nothing local), so the
    *     union of partial frontiers is a superset of the answer.
    *  2. final pass — the same running-max rule, windowed, over ONLY the
    *     surviving frontier points (≤ frontier-per-partition × partitions —
    *     thousands, not the lake). The single-partition window that a naive
    *     formulation would run over ALL rows here sees only this tiny union,
    *     the same bounded-input justification as q_mom_yoy's monthly window.
    */
  private[graft] def skylineFrontier(pts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val canon = pts.select(col("price_c").cast("bigint").as("price_c"),
      col("p_size").cast("int").as("p_size"))
    val sorted = canon.sortWithinPartitions(col("price_c"), desc("p_size"))
    val partial = Rows.mapPartitions(sorted, sorted.schema) { it =>
      var best = Long.MinValue
      it.filter { r =>
        val sz = r.getInt(1).toLong
        if (sz > best) { best = sz; true } else false
      }
    }
    val before = Window.orderBy(col("price_c"), desc("p_size"))
      .rowsBetween(Window.unboundedPreceding, -1)
    partial.withColumn("max_before", max(col("p_size")).over(before))
      .filter(col("max_before").isNull || col("p_size") > col("max_before"))
      .drop("max_before")
  }

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  private def cents(c: Column): Column = round(c * 100).cast("bigint")
  private def wide(c: Column): Column = c.cast(DecimalType(38, 0))
  /** Revenue term in 1e-4 dollar units, summed exactly. */
  private def rev4(price: Column, disc: Column): Column =
    sum(wide(cents(price) * (lit(100L) - cents(disc))))
  private val rev4Sql =
    "CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))"

  def queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(

    // ---- Q7 family: bilateral trade volume between two nations, by ship
    // year. The nation filter lands on BOTH broadcast dimension sides
    // before their joins, so only fact rows touching the two nations
    // survive past the supplier/customer joins; the one fact-fact shuffle
    // (lineitem⋈orders) carries the date-pruned remainder. ----
    "q7_volume" -> ((s, d) => {
      // both nations have suppliers at every SF incl. the 10-supplier
      // sf0.001 fixture (non-degeneracy pinned by OperatorSmokeSpec)
      val pair = Seq("NATION_18", "NATION_19")
      val sn = broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      val cn = broadcast(Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation")))
      Tables.lineitem(s, d)
        .filter(DateFilters.betweenDays(col("l_shipdate"), "1996-01-01", "1997-12-31"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_nk"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(cn, col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(to_date(col("l_shipdate"))).cast("bigint").as("l_year"))
        .agg((rev4(col("l_extendedprice"), col("l_discount"))
          .cast("double") / 10000.0).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // ---- Q8 family: one nation's market share inside one region's customer
    // base, by order year. Numerator and denominator are conditional sums in
    // the SAME exact-integer aggregation — one pass, one shuffle, and the
    // share is a single IEEE division of two exact decimals. ----
    "q8_market_share" -> ((s, d) => {
      val asiaN = broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk")))
      val sn = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation")))
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(DateFilters.betweenDays(col("o_orderdate"), "1996-01-01", "1997-12-31")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(asiaN, col("c_nationkey") === col("c_nk"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_nk"))
        .withColumn("r4", wide(cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))))
        .groupBy(year(to_date(col("o_orderdate"))).cast("bigint").as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_5", col("r4")).otherwise(lit(0)))
            .cast("double") / sum(col("r4")).cast("double"), 6).as("mkt_share"),
          (sum(col("r4")).cast("double") / 10000.0).as("total_revenue"))
        .orderBy(col("o_year"))
    }),

    // ---- Q9 family: product-line profit by supplier nation and year.
    // No partsupp in the fixture, so cost = p_retailprice·quantity; profit
    // stays all-integer in 1e-4 units (cents(price)·(100−disc_pct) −
    // cents(retail)·cents(qty)). The part filter (name contains 'red')
    // prunes the part dimension BEFORE its join. ----
    "q9_profit" -> ((s, d) => {
      val sn = broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation")))
      Tables.lineitem(s, d)
        .join(Tables.part(s, d).filter(col("p_name").contains("red")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(sn, col("s_nationkey") === col("s_nk"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .withColumn("profit4",
          wide(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
            - cents(col("p_retailprice")) * cents(col("l_quantity"))))
        .groupBy(col("nation"), year(to_date(col("o_orderdate"))).cast("bigint").as("o_year"))
        .agg((sum(col("profit4")).cast("double") / 10000.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year"))
    }),

    // ---- Q12 family: shipping-lag service levels per order priority (no
    // shipmode column; the lag ship−order in days IS the service metric).
    // One fact-fact join, then a conditional count — partial aggregation
    // shrinks each map task to ≤ 5 rows before the shuffle. ----
    "q12_ship_lag" -> ((s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .withColumn("lag_days",
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("lag_days") > 365, 1L).otherwise(0L)).cast("bigint").as("n_late"),
          sum(when(col("lag_days") <= 365, 1L).otherwise(0L)).cast("bigint").as("n_ontime"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- Q13 family: distribution of per-customer order counts, keeping
    // zero-order customers via the LEFT join with the order predicate in
    // the JOIN condition (a WHERE would silently drop the zeros — the
    // classic Q13 trap). Two aggregations: per-customer (fact-sized
    // shuffle), then per-count (≤ distinct-counts rows). ----
    "q13_custdist" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "4-NOT SPECIFIED"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("n_custs"))
        .orderBy(desc("n_custs"), desc("c_count"))
    }),

    // ---- Q14 family: promo revenue share in one month. Numerator CASE +
    // denominator in one exact-integer pass; the date filter reaches the
    // parquet scan, the part join prunes to the month's partkeys first. ----
    "q14_promo" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(DateFilters.betweenDays(col("l_shipdate"), "1997-03-01", "1997-03-31"))
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .withColumn("r4", wide(cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount")))))
        .agg(
          round(lit(100.0) * sum(when(col("p_type") === "PROMO", col("r4")).otherwise(lit(0)))
            .cast("double") / sum(col("r4")).cast("double"), 6).as("promo_pct"),
          (sum(col("r4")).cast("double") / 10000.0).as("total_revenue"))
    }),

    // ---- Q15 family: top supplier(s) by quarterly revenue, ties kept.
    // The max is a window over the ALREADY-AGGREGATED per-supplier rows
    // (supplier-dimension cardinality, not fact cardinality), so the
    // empty-frame window is bounded at any SF — same argument as
    // q_revenue_share's percent-of-total. ----
    "q15_top_supplier" -> ((s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(DateFilters.betweenDays(col("l_shipdate"), "1997-01-01", "1997-03-31"))
        .groupBy(col("l_suppkey"))
        .agg(rev4(col("l_extendedprice"), col("l_discount")).as("r4"))
      rev.withColumn("max4", max(col("r4")).over(Window.partitionBy()))
        .filter(col("r4") === col("max4"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("r4").cast("double") / 10000.0).as("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    // ---- Q17 family: revenue lost to small-quantity orders. "quantity <
    // 0.2 × this part's average" is decorrelated into ONE per-part
    // aggregate joined back (never a per-row rescan), and the comparison
    // is exact integer cross-multiplication: 100·q·5·n < 100·Σq. ----
    "q17_small_qty" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val perPart = li.groupBy(col("l_partkey").as("pq_key"))
        .agg(sum(cents(col("l_quantity"))).as("sum_q100"), count(lit(1)).as("n_q"))
      li.join(Tables.part(s, d).filter(col("p_type") === "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .join(perPart, col("l_partkey") === col("pq_key"))
        .filter(cents(col("l_quantity")) * lit(5L) * col("n_q") < col("sum_q100"))
        .agg(
          round(sum(wide(cents(col("l_extendedprice")))).cast("double") / 700.0, 4)
            .as("avg_yearly"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- Q18 family: large-volume orders (Σ quantity > 260 ≈ top 1%).
    // The HAVING pre-aggregates lineitem to per-order totals FIRST — the
    // expensive join only sees the ~1% survivors; TakeOrderedAndProject
    // caps the output without a global sort. ----
    "q18_large_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("g_key"))
        .agg(sum(cents(col("l_quantity"))).as("sum_q100"))
        .filter(col("sum_q100") > 26000L)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("g_key"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          to_date(col("o_orderdate")).as("o_date"), col("o_totalprice"),
          (col("sum_q100").cast("double") / 100.0).as("sum_qty"))
        .orderBy(desc("sum_qty"), col("o_orderkey"))
        .limit(100)
    }),

    // ---- Q19 family: disjunctive predicate blocks (brand/type × size ×
    // quantity OR-arms) over the part⋈lineitem join — the shape that
    // exercises CNF extraction: Catalyst pulls the common join key and
    // per-side conjunct candidates out of the OR instead of evaluating a
    // cartesian filter. ----
    "q19_disjunctive" -> ((s, d) => {
      val arm1 = col("p_type") === "PROMO" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)
      val arm2 = col("p_type") === "SMALL" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 30)
      val arm3 = col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
        col("l_quantity") >= 40
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(arm1 || arm2 || arm3)
        .agg(
          (rev4(col("l_extendedprice"), col("l_discount"))
            .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- Q21 family: suppliers who kept a finished multi-supplier order
    // waiting — the last classic correlated-subquery shape not yet pinned:
    // one EXISTS and one NOT EXISTS, both correlated on the outer row's
    // order AND excluding its supplier. Written as SQL text so the plan is
    // what a user's hand-written query gets: Catalyst decorrelates both
    // into a left-semi and a left-anti join on l_orderkey (the NOT EXISTS
    // side carries its own orders join — decorrelated too, never a
    // per-row rescan). "Late" = shipped > 365 days after order date.
    // Temp views are per-invocation unique (and dropped as soon as the
    // plan is analyzed — spark.sql resolves eagerly), so two invocations
    // on the same session with different data dirs, or concurrent tests,
    // can't clobber each other's view bindings. ----
    "q21_waiting" -> ((s, d) => {
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val (li, or, su) = (s"lineitem_q21_$tag", s"orders_q21_$tag", s"supplier_q21_$tag")
      Tables.lineitem(s, d).createOrReplaceTempView(li)
      Tables.orders(s, d).createOrReplaceTempView(or)
      Tables.supplier(s, d).createOrReplaceTempView(su)
      try s.sql(
        s"""SELECT s_name, count(*) AS numwait
          |FROM $li l1
          |JOIN $or o ON o.o_orderkey = l1.l_orderkey
          |JOIN $su ON s_suppkey = l1.l_suppkey
          |WHERE o.o_orderstatus = 'F'
          |  AND CAST(l1.l_shipdate AS DATE) > date_add(CAST(o.o_orderdate AS DATE), 365)
          |  AND EXISTS (
          |    SELECT 1 FROM $li l2
          |    WHERE l2.l_orderkey = l1.l_orderkey
          |      AND l2.l_suppkey <> l1.l_suppkey)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM $li l3
          |    JOIN $or o3 ON o3.o_orderkey = l3.l_orderkey
          |    WHERE l3.l_orderkey = l1.l_orderkey
          |      AND l3.l_suppkey <> l1.l_suppkey
          |      AND CAST(l3.l_shipdate AS DATE) > date_add(CAST(o3.o_orderdate AS DATE), 365))
          |GROUP BY s_name
          |ORDER BY numwait DESC, s_name
          |LIMIT 10""".stripMargin)
      finally Seq(li, or, su).foreach(s.catalog.dropTempView(_))
    }),

    // ---- period-over-period report: monthly revenue with MoM and YoY
    // ratios. The lag windows run over the ALREADY-AGGREGATED ~30 monthly
    // rows (the q_revenue_share argument — an unpartitioned window over a
    // dimension-sized aggregate is a non-issue at any scale); revenue is
    // exact integer cents, the ratios are single IEEE divisions of exact
    // decimals. ----
    "q_mom_yoy" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(to_date(date_trunc("month", to_date(col("o_orderdate"))))
          .as("month_start"))
        .agg(sum(wide(cents(col("o_totalprice")))).as("rev4"))
      val w = Window.orderBy(col("month_start"))
      monthly
        .withColumn("prev1", lag(col("rev4"), 1).over(w))
        .withColumn("prev12", lag(col("rev4"), 12).over(w))
        .select(col("month_start"),
          (col("rev4").cast("double") / 100.0).as("revenue"),
          round(col("rev4").cast("double") / col("prev1").cast("double"), 6)
            .as("mom_ratio"),
          round(col("rev4").cast("double") / col("prev12").cast("double"), 6)
            .as("yoy_ratio"))
        .orderBy(col("month_start"))
    }),

    // ---- datetime scalar-function surface, exercised as one aggregate
    // per quarter: date_trunc (quarter/month), last_day, ISO weekday and
    // week-of-year, add_months. Portability notes baked in: Spark
    // weekday() is 0=Monday vs DuckDB isodow 1=Monday (+1 aligns);
    // Spark dayofweek (1=Sunday) is deliberately NOT used. A narrow
    // scan→project→agg — function breadth costs no extra shuffle. ----
    "q_datetime_functions" -> ((s, d) => {
      val od = to_date(col("o_orderdate"))
      Tables.orders(s, d)
        .groupBy(to_date(date_trunc("quarter", od)).as("q_start"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(date_trunc("month", od)).as("n_months"),
          max(dayofmonth(last_day(od))).cast("bigint").as("last_dom_max"),
          sum(weekday(od) + 1).cast("bigint").as("sum_isodow"),
          min(weekofyear(od)).cast("bigint").as("wk_min"),
          min(add_months(od, 3)).as("plus3_min"))
        .orderBy(col("q_start"))
    }),

    // ---- array / higher-order-function surface per document: size,
    // array_distinct, array_sort (+ negative indexing), filter lambda,
    // slice + array_join. Shuffle-free projection; only sizes, sorted
    // endpoints, and joined prefixes are emitted, so the oracle compares
    // scalar digests instead of whole arrays. ----
    "q_array_functions" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("w", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("w")).cast("bigint").as("n_words"),
          size(array_distinct(col("w"))).cast("bigint").as("n_distinct"),
          element_at(array_sort(col("w")), 1).as("first_sorted"),
          element_at(array_sort(col("w")), -1).as("last_sorted"),
          expr("CAST(size(filter(w, x -> length(x) > 5)) AS BIGINT)").as("n_long"),
          array_join(slice(array_sort(col("w")), 1, 3), "-").as("first3_joined"))
        .orderBy(col("doc_id"))
    }),

    // ---- string scalar-function surface per brand: split/element_at,
    // lpad+length, regexp_extract, regexp containment, instr, reverse.
    // Same shape: one partial-agg shuffle regardless of how many string
    // functions run in the projection. ----
    "q_string_functions" -> ((s, d) => {
      Tables.part(s, d)
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_parts"),
          countDistinct(element_at(split(col("p_name"), " "), 1)).as("n_first_words"),
          sum(length(lpad(col("p_name"), 20, "*"))).cast("bigint").as("sum_padded_len"),
          sum(when(col("p_name").rlike("[aeiou]"), 1L).otherwise(0L)).cast("bigint")
            .as("n_with_vowel"),
          min(regexp_extract(col("p_name"), "^([a-z]+)", 1)).as("first_word_min"),
          sum(when(instr(col("p_name"), " ") > 0, 1L).otherwise(0L)).cast("bigint")
            .as("n_multiword"),
          max(reverse(col("p_type"))).as("rev_type_max"))
        .orderBy(col("p_brand"))
    }),

    // ---- 2-D skyline (Pareto frontier): parts not dominated on
    // (cheaper-or-equal price, larger-or-equal size, strict in one).
    // NOT the naive O(n²) correlated NOT EXISTS (which plans a nested-loop
    // anti join), and NOT a single global sort: see [[skylineFrontier]] —
    // per-partition running-max partial skylines (narrow), then one final
    // small skyline over the union of the tiny frontiers. ----
    "q_skyline" -> ((s, d) => {
      val pts = Tables.part(s, d)
        .select(cents(col("p_retailprice")).as("price_c"), col("p_size"))
        .distinct()
      skylineFrontier(pts)
        .select((col("price_c").cast("double") / 100.0).as("price"), col("p_size"))
        .orderBy(col("price"), col("p_size"))
    }),

    // ---- per-group least-squares fit (closed form) — the "fit a small
    // model per group" pattern done declaratively instead of a per-group
    // UDF: ONE pass of integer moment sums (n, Σx, Σy, Σxy, Σx²) in
    // DECIMAL(38,0), then slope/intercept as exact-integer ratios with a
    // single IEEE division each. No mapGroups, no per-group collect;
    // partial aggregation shrinks the shuffle to 5 numbers per group. ----
    "q_group_regression" -> ((s, d) => {
      val x = col("doc_id")
      val y = col("n_chars")
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n"),
          sum(wide(x)).as("sx"), sum(wide(y)).as("sy"),
          sum(wide(x * y)).as("sxy"), sum(wide(x * x)).as("sxx"))
        .select(col("source"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("slope"),
          round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
            .as("intercept"))
        .orderBy(col("source"))
    }),

    // ---- per-group Pearson correlation from the same exact integer
    // moments (quantity vs price in cents): numerator and both variance
    // terms are exact decimals; only the final r = num/√(vx·vy) runs in
    // IEEE doubles — identical on both engines because the inputs are
    // identical integers. A library corr() would accumulate doubles in
    // partition order and hash-mismatch. ----
    "q_corr_stats" -> ((s, d) => {
      val x = cents(col("l_quantity"))
      val y = cents(col("l_extendedprice"))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(wide(x)).as("sx"), sum(wide(y)).as("sy"),
          sum(wide(x * y)).as("sxy"),
          sum(wide(x * x)).as("sxx"), sum(wide(y * y)).as("syy"))
        .select(col("l_returnflag"), col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                 (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("pearson_r"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- Q22 family: well-funded customers with no urgent orders, by
    // nation. "above the average positive balance" is the exact
    // cross-multiplied comparison against a broadcast 1-row aggregate;
    // the urgent-order exclusion is a left-anti join (the null-immune
    // form — NOT IN would empty on a null key). ----
    "q22_balance" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val pos = c.filter(col("c_acctbal") > 0)
        .agg(sum(wide(cents(col("c_acctbal")))).as("sum_c"), count(lit(1)).as("n_c"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      c.crossJoin(broadcast(pos))
        .filter(wide(cents(col("c_acctbal"))) * col("n_c") > col("sum_c"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_custs"),
          sum(dec(col("c_acctbal"))).cast("double").as("total_bal"))
        .orderBy(col("c_nationkey"))
    }))

  def oracleSql: Map[String, String] = Map(
    "q7_volume" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
         |  CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS l_year,
         |  CAST(SUM($rev4Sql) AS DOUBLE) / 10000.0 AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         |  AND sn.n_name IN ('NATION_18', 'NATION_19')
         |  AND cn.n_name IN ('NATION_18', 'NATION_19')
         |  AND sn.n_name <> cn.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q8_market_share" ->
      s"""WITH rows_ AS (
         |  SELECT CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
         |    sn.n_name AS supp_nation, $rev4Sql AS r4
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN region ON cn.n_regionkey = r_regionkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey
         |  WHERE r_name = 'ASIA'
         |    AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
         |)
         |SELECT o_year,
         |  round(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN r4 ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(r4) AS DOUBLE), 6) AS mkt_share,
         |  CAST(SUM(r4) AS DOUBLE) / 10000.0 AS total_revenue
         |FROM rows_ GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q9_profit" ->
      """SELECT n_name AS nation,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |           - CAST(round(p_retailprice * 100) AS BIGINT) * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q12_ship_lag" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 365 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 365 THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q13_custdist" ->
      """WITH co AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey
        |)
        |SELECT c_count, count(*) AS n_custs
        |FROM co GROUP BY c_count ORDER BY n_custs DESC, c_count DESC""".stripMargin,
    "q14_promo" ->
      s"""SELECT
         |  round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $rev4Sql ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM($rev4Sql) AS DOUBLE), 6) AS promo_pct,
         |  CAST(SUM($rev4Sql) AS DOUBLE) / 10000.0 AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-03-01' AND DATE '1997-03-31'""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey, SUM($rev4Sql) AS r4
         |  FROM lineitem
         |  WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
         |  GROUP BY l_suppkey
         |)
         |SELECT s_suppkey, s_name, CAST(r4 AS DOUBLE) / 10000.0 AS total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE r4 = (SELECT max(r4) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,
    "q17_small_qty" ->
      """WITH pq AS (
        |  SELECT l_partkey AS pq_key,
        |    SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_q100,
        |    COUNT(*) AS n_q
        |  FROM lineitem GROUP BY l_partkey
        |)
        |SELECT
        |  round(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 700.0, 4) AS avg_yearly,
        |  count(*) AS n_rows
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pq ON l_partkey = pq_key
        |WHERE p_type = 'PROMO'
        |  AND CAST(round(l_quantity * 100) AS BIGINT) * 5 * n_q < sum_q100""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey AS g_key,
        |    SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sum_q100
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(round(l_quantity * 100) AS BIGINT)) > 26000
        |)
        |SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  o_totalprice, CAST(sum_q100 AS DOUBLE) / 100.0 AS sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = g_key
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive" ->
      s"""SELECT
         |  CAST(SUM($rev4Sql) AS DOUBLE) / 10000.0 AS revenue,
         |  count(*) AS n_rows
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_type = 'PROMO' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_type = 'SMALL' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity >= 40)""".stripMargin,
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT CAST(round(p_retailprice * 100) AS BIGINT) AS price_c, p_size
        |  FROM part
        |), w AS (
        |  SELECT price_c, p_size,
        |    max(p_size) OVER (ORDER BY price_c, p_size DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_before
        |  FROM pts
        |)
        |SELECT CAST(price_c AS DOUBLE) / 100.0 AS price, p_size
        |FROM w WHERE max_before IS NULL OR p_size > max_before
        |ORDER BY price, p_size""".stripMargin,
    "q21_waiting" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE o.o_orderstatus = 'F'
        |  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 365 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND CAST(l3.l_shipdate AS DATE) > CAST(o3.o_orderdate AS DATE) + INTERVAL 365 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin,
    "q_mom_yoy" ->
      """WITH monthly AS (
        |  SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev4
        |  FROM orders GROUP BY 1
        |)
        |SELECT month_start,
        |  CAST(rev4 AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(rev4 AS DOUBLE) /
        |        CAST(lag(rev4, 1) OVER (ORDER BY month_start) AS DOUBLE), 6) AS mom_ratio,
        |  round(CAST(rev4 AS DOUBLE) /
        |        CAST(lag(rev4, 12) OVER (ORDER BY month_start) AS DOUBLE), 6) AS yoy_ratio
        |FROM monthly ORDER BY month_start""".stripMargin,
    "q_group_regression" ->
      """WITH m AS (
        |  SELECT source, count(*) AS n,
        |    SUM(doc_id) AS sx, SUM(n_chars) AS sy,
        |    SUM(doc_id * n_chars) AS sxy, SUM(doc_id * doc_id) AS sxx
        |  FROM documents GROUP BY source
        |)
        |SELECT source, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  round(CAST(sy * sxx - sx * sxy AS DOUBLE) /
        |        CAST(n * sxx - sx * sx AS DOUBLE), 6) AS intercept
        |FROM m ORDER BY source""".stripMargin,
    "q_corr_stats" ->
      """WITH v AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem
        |), m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |    SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM v GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |        sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |             CAST(n * syy - sy * sy AS DOUBLE)), 6) AS pearson_r
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_datetime_functions" ->
      """SELECT CAST(date_trunc('quarter', CAST(o_orderdate AS DATE)) AS DATE) AS q_start,
        |  count(*) AS n_orders,
        |  CAST(count(DISTINCT date_trunc('month', CAST(o_orderdate AS DATE))) AS BIGINT) AS n_months,
        |  CAST(max(day(last_day(CAST(o_orderdate AS DATE)))) AS BIGINT) AS last_dom_max,
        |  CAST(SUM(isodow(CAST(o_orderdate AS DATE))) AS BIGINT) AS sum_isodow,
        |  CAST(min(week(CAST(o_orderdate AS DATE))) AS BIGINT) AS wk_min,
        |  CAST(min(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH) AS DATE) AS plus3_min
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_array_functions" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |  list_sort(w)[1] AS first_sorted,
        |  list_sort(w)[-1] AS last_sorted,
        |  CAST(len(list_filter(w, x -> length(x) > 5)) AS BIGINT) AS n_long,
        |  array_to_string(list_slice(list_sort(w), 1, 3), '-') AS first3_joined
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_string_functions" ->
      """SELECT p_brand,
        |  count(*) AS n_parts,
        |  CAST(count(DISTINCT string_split(p_name, ' ')[1]) AS BIGINT) AS n_first_words,
        |  CAST(SUM(length(lpad(p_name, 20, '*'))) AS BIGINT) AS sum_padded_len,
        |  CAST(SUM(CASE WHEN regexp_matches(p_name, '[aeiou]') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_vowel,
        |  min(regexp_extract(p_name, '^([a-z]+)', 1)) AS first_word_min,
        |  CAST(SUM(CASE WHEN instr(p_name, ' ') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_multiword,
        |  max(reverse(p_type)) AS rev_type_max
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q22_balance" ->
      """WITH pos AS (
        |  SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_c, COUNT(*) AS n_c
        |  FROM customer WHERE c_acctbal > 0
        |)
        |SELECT c_nationkey, count(*) AS n_custs,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer, pos
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_c > sum_c
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
}
