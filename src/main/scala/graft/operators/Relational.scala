package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.DateFilters
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Star-schema relational layer: joins, aggregations, windows, top-k, set
  * ops, JSON extraction. The reference delegates all of this to BigQuery
  * (SURVEY.md §2.3-§2.8 — its SQL surface has no joins/GROUP BY, but the
  * engine must offer them as first-class capability, SURVEY.md §7.2 step 3).
  *
  * Scale design:
  *  - Fixed-cardinality dimensions (region=5, nation=25 rows at ANY SF) are
  *    broadcast explicitly — no shuffle of the fact table for those joins.
  *    SF-growing sides (customer/supplier/part) get NO hint: AQE picks
  *    broadcast at small SF by measured size and shuffle join at scale.
  *  - Fact-fact joins (lineitem⋈orders) shuffle on the join key once; AQE
  *    handles skew at runtime.
  *  - All aggregates are partial-aggregation friendly (sum/count/min/max) —
  *    map-side combine shrinks shuffle data before the exchange.
  *  - Global top-k uses orderBy+limit which Catalyst plans as
  *    TakeOrderedAndProject: per-partition heap, no full sort.
  *
  * Determinism for the DuckDB oracle: double aggregates run in exact DECIMAL
  * then cast back to DOUBLE (see QueryModule scaladoc).
  */
object Relational extends QueryModule {

  /** Order-independent money arithmetic: DOUBLE column -> DECIMAL(18,2).
    * The fixture's money doubles are NOT all exactly 2-decimal, so this cast
    * rounds — but Spark and DuckDB round a double→DECIMAL(18,2) cast
    * identically (half-up on the decimal expansion), and from there on the
    * decimal sums are exact and aggregation-order-independent, which is what
    * the hash oracle needs (double sums would drift with partitioning).
    */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Scaled-integer (cents) money math — the convention you'd actually run
    * at 100 TB: round each money double to integer cents ONCE per row (both
    * engines round identically at scale 0 for non-negative values), then
    * sum. Per-row values stay int64; the ACCUMULATOR widens to
    * DECIMAL(38,0) (128-bit integer) because a plain BIGINT sum of per-row
    * cents×(100-disc) terms would wrap silently around SF~8000. DuckDB's
    * BIGINT SUM already returns HUGEINT, so only the Spark side needs the
    * explicit widening (the oracle then casts the result to DOUBLE).
    */
  private def cents(c: Column): Column = round(c * 100).cast("bigint")
  private def wide(c: Column): Column = c.cast(DecimalType(38, 0))

  /** Rank walk over a graft_qsketch array (see QuantileSketchAggregate):
    * first bucket whose cumulative count reaches rank `r`, decoded to its
    * integer midpoint (v < 32 exact, else (33 + 2s)·2^(L-6) for id =
    * 16L + s), in value units (cents / 100). All integer arithmetic — the
    * DuckDB oracles run the identical walk as a window cumsum.
    */
  private[operators] def sketchEst(sk: String, r: String): Column = expr(
    s"""round(aggregate($sk,
       |  named_struct('cum', 0L, 'mid', -1L),
       |  (a, x) -> named_struct(
       |    'cum', a.cum + x.cnt,
       |    'mid', IF(a.mid >= 0L, a.mid,
       |      IF(a.cum + x.cnt >= $r,
       |        IF(x.b < 32, CAST(x.b AS BIGINT),
       |          shiftleft(CAST(33 + 2 * (x.b % 16) AS BIGINT),
       |            CAST(x.b DIV 16 AS INT) - 6)),
       |        -1L))),
       |  a -> a.mid) / 100.0D, 6)""".stripMargin)

  /** [[sketchEst]] without the cents→value presentation scaling: the raw
    * BIGINT bucket midpoint at rank `r` — the form quantile CUTS consume
    * (evt_rfm_segments_sketch compares metric values against it).
    */
  private[operators] def sketchEstRaw(sk: String, r: String): Column = expr(
    s"""aggregate($sk,
       |  named_struct('cum', 0L, 'mid', -1L),
       |  (a, x) -> named_struct(
       |    'cum', a.cum + x.cnt,
       |    'mid', IF(a.mid >= 0L, a.mid,
       |      IF(a.cum + x.cnt >= $r,
       |        IF(x.b < 32, CAST(x.b AS BIGINT),
       |          shiftleft(CAST(33 + 2 * (x.b % 16) AS BIGINT),
       |            CAST(x.b DIV 16 AS INT) - 6)),
       |        -1L))),
       |  a -> a.mid)""".stripMargin)

  /** HLL estimate over a graft_hll register set (`ARRAY<STRUCT<b,r>>`):
    * S = Σ 2^(53−r) over all 256 registers (absent ⇒ r=0 ⇒ 2^53; max
    * 256·2^53 = 2^61, no overflow), est = α·m²·2^53/S with α spelled as
    * the same IEEE expression both engines evaluate identically. Integer
    * walk + one double division — no libm, so the oracle hashes the
    * ESTIMATE itself (see [[graft.plans.HllAggregate]]).
    */
  private[graft] def hllEst(sk: String): Column = {
    val s = expr(s"aggregate($sk, 0L, (a, x) -> a + shiftleft(1L, 53 - x.r))") +
      (lit(256L) - size(col(sk)).cast("long")) * lit(9007199254740992L)
    round(
      (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) *
        lit(65536.0) * lit(9007199254740992.0) / s.cast("double"), 4)
  }

  /** DuckDB twin of the graft_hll register walk + [[hllEst]] estimate:
    * bucket = low 8 hash bits, rho = 53 − bit_length(h >> 8) via the
    * length of `bin()` (zero lane ⇒ 53), register = max(rho) per bucket,
    * then the same integer S-sum and IEEE α·m²·2^53/S division. Literals
    * are CAST to DOUBLE because DuckDB parses decimal literals as DECIMAL.
    */
  private val hllOracle: String =
    """WITH hashed AS (
      |  SELECT event_type,
      |    try_cast('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM events WHERE user_id IS NOT NULL
      |), regs AS (
      |  SELECT event_type, h & 255 AS b,
      |    max(CASE WHEN h >> 8 = 0 THEN 53 ELSE 53 - length(bin(h >> 8)) END) AS r
      |  FROM hashed GROUP BY event_type, h & 255
      |), agg AS (
      |  SELECT event_type, count(*) AS n_regs,
      |    sum(1::BIGINT << (53 - r)) + (256 - count(*)) * (1::BIGINT << 53) AS s
      |  FROM regs GROUP BY event_type
      |)
      |SELECT event_type, CAST(n_regs AS BIGINT) AS n_regs,
      |  round((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
      |    * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE) / CAST(s AS DOUBLE), 4) AS est_distinct
      |FROM agg ORDER BY event_type""".stripMargin

  /** Revenue term in 1e-4 units: cents × (100 − disc_pct), summed wide. */
  private def revenueCents(price: Column, disc: Column): Column =
    sum(wide(cents(price) * (lit(100L) - cents(disc)))).cast("double") / 10000.0

  /** Bucketed lake layout for the repeated fact-fact join: lineitem and
    * orders written once per session, bucketed AND sorted on the join key
    * with the same bucket count (graft.pipeline.Warehouse.bucketedWrite),
    * then read back through the catalog. Every later join/aggregation on
    * orderkey runs with ZERO exchange — the shuffle is paid once at write
    * time instead of per query, which is the 100 TB answer to "this join is
    * on every dashboard". The input is pre-repartitioned into the bucket
    * hash layout so each bucket lands in one file and the scan keeps the
    * sort order (no Sort before the merge join either).
    *
    * First use in a session pays the write; subsequent uses (e.g. bench
    * runs 2..n) hit the catalog — exactly the pay-once economics the layout
    * exists for.
    */
  private def bucketedFacts(s: SparkSession, d: String): (DataFrame, DataFrame) =
    synchronized {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val (liTbl, oTbl) = (s"bkt_lineitem_$tag", s"bkt_orders_$tag")
      if (!s.catalog.tableExists(liTbl) || !s.catalog.tableExists(oTbl)) {
        val root = java.nio.file.Files.createTempDirectory("graft_bkt").toString
        val wh = new graft.pipeline.Warehouse(root)
        wh.bucketedWrite(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice", "l_discount")
            .repartition(8, col("l_orderkey")),
          liTbl, "l_orderkey", 8)
        wh.bucketedWrite(
          Tables.orders(s, d)
            .select("o_orderkey", "o_orderdate", "o_orderpriority")
            .repartition(8, col("o_orderkey")),
          oTbl, "o_orderkey", 8)
      }
      (s.table(liTbl), s.table(oTbl))
    }

  /** Skew-mitigation join for hot keys that AQE's size-based skew split
    * can't fix (e.g. one key holding >spill-size rows on BOTH sides, or a
    * sort-merge join whose skew sits in the sort): the probe side gets a
    * per-row salt derived from `saltSrc` (any row-level column(s) — NOT the
    * join key, which would make the salt constant per key), the build side
    * is replicated `buckets` times, and the join key becomes
    * (key, salt) — splitting each hot key's rows across `buckets` tasks.
    * Result is exactly the plain join (salts match by construction).
    * Cost: build side inflates ×buckets, so size `buckets` to the skew
    * factor, not higher.
    */
  def saltedJoin(
      left: DataFrame, leftKey: String, saltSrc: Column,
      right: DataFrame, rightKey: String, buckets: Int): DataFrame =
    if (buckets <= 1)
      // the skip-salting decision: no replication, no salt columns — the
      // plain join IS the salted join at factor 1
      left.join(right, col(leftKey) === col(rightKey))
    else
      left.withColumn("__salt", pmod(saltSrc.cast("bigint"), lit(buckets.toLong)))
        .join(
          right.withColumn("__salt_r",
            explode(sequence(lit(0L), lit(buckets.toLong - 1)))),
          col(leftKey) === col(rightKey) && col("__salt") === col("__salt_r"))
        .drop("__salt", "__salt_r")

  /** Data-derived salt sizing — closes the q_skew_report → [[saltedJoin]]
    * loop: the probe side's group-size distribution is collapsed to the
    * same count-of-counts histogram q_skew_report builds (per-key counts →
    * (size, #keys) rows — |distinct group sizes| rows total, bounded by
    * the max group size, so the collect is metadata-sized at any corpus
    * scale), and the skew→factor rule mirrors how AQE sizes a skew split:
    *
    *   skew_x100 = 100·max_n/p50  (q_skew_report's decision number)
    *   skew_x100 ≤ threshX100     → factor 1: SKIP salting — the build-side
    *                                ×buckets replication costs more than
    *                                the mild skew (AQE's
    *                                skewedPartitionFactor default of 2
    *                                would not split either, hence
    *                                threshX100 = 200)
    *   otherwise                  → factor ⌈max_n/p50⌉ capped at
    *                                `maxBuckets`: the hot key's rows split
    *                                into median-sized shares, exactly the
    *                                per-partition share AQE's splitter
    *                                targets
    *
    * One partial-agg'd pass over the probe side per decision; at 100 TB a
    * lake keeps this histogram as ingest-time metadata (the q_skew_report
    * output persisted) instead of recomputing per query — the rule is the
    * same either way.
    */
  /** Session-lifetime memo over [[persistedSaltFactor]] per (data dir,
    * key) — avoids even the 1-row artifact read on repeat invocations.
    */
  private val saltFactorCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Integer]()

  /** The PERSISTED ingest-time skew decision — [[saltFactorFor]]'s
    * histogram collapsed to its factor and stored as a 1-row
    * Artifacts table keyed on the source's fingerprint. A fresh
    * JVM (the driver's bench, a new cluster session) READS the decision
    * instead of re-scanning the probe side; the sizing scan runs once per
    * ingest generation, exactly when a lake would compute it (the
    * q_skew_report output persisted as table metadata — the 100 TB design
    * the saltFactorFor scaladoc prescribes). Staleness is handled by the
    * fingerprint: a regenerated source re-derives the decision.
    */
  def persistedSaltFactor(s: SparkSession, d: String, source: String,
      key: String, probe: => DataFrame): Int =
    // memo key mirrors the artifact key exactly — (dir, source, key) —
    // so two sources sharing a key-column name never share a decision
    saltFactorCache.computeIfAbsent((d, s"$source:$key"), _ =>
      Artifacts.table(s, d, source, s"salt_factor_$key") {
        import s.implicits._
        Seq(saltFactorFor(probe, key)).toDF("factor")
      }.collect()(0).getInt(0)) // 1-row metadata read

  def saltFactorFor(df: DataFrame, key: String,
      threshX100: Long = 200L, maxBuckets: Int = 16): Int = {
    val hist = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("keys_at"))
      .orderBy(col("n")).collect()
    if (hist.isEmpty) 1
    else {
      val nKeys = hist.map(_.getLong(1)).sum
      val maxN = hist.last.getLong(0)
      // p50 = smallest size with cumulative keys ≥ ⌈n_keys/2⌉ (the exact
      // integer rule q_skew_report publishes)
      val target = (nKeys + 1) / 2
      var cum = 0L
      var p50 = maxN
      var i = 0
      while (i < hist.length && { cum += hist(i).getLong(1); cum < target }) i += 1
      if (i < hist.length) p50 = hist(i).getLong(0)
      val skewX100 = 100L * maxN / math.max(p50, 1L)
      if (skewX100 <= threshX100) 1
      else math.min(maxBuckets.toLong, (maxN + p50 - 1) / p50).toInt
    }
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- TPC-H Q1 style pricing summary (groupBy agg, filter pushdown) ----
    "q1_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(DateFilters.onOrBefore(col("l_shipdate"), "1999-12-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- q1 in scaled-integer (cents) money math: round each money double
    // to integer cents ONCE per row (both engines round identically at
    // scale 0 for non-negative values), then sum — exact and
    // order-independent. Per-row values stay int64; the ACCUMULATOR widens
    // to DECIMAL(38,0) (128-bit integer) because a plain BIGINT sum of
    // ~3.6e8-per-row disc_price terms would wrap silently around SF~8000 —
    // far below the 100 TB target. DuckDB's BIGINT SUM already returns
    // HUGEINT, so only the Spark side needs the explicit widening.
    // disc_price runs in 1e-4 units: cents × (100 - disc_pct).
    // Semantically q1_agg with the rounding applied at cents rather than
    // DECIMAL(18,2) — kept as a separate oracle row so both conventions
    // stay verified; at 100 TB the integer form is what you'd run. ----
    "q1_agg_cents" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(DateFilters.onOrBefore(col("l_shipdate"), "1999-12-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          (sum(wide(cents(col("l_quantity")))).cast("double") / 100.0).as("sum_qty"),
          (sum(wide(cents(col("l_extendedprice")))).cast("double") / 100.0).as("sum_base_price"),
          (sum(wide(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))))
            .cast("double") / 10000.0).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- TPC-H Q3 style: 3-way join + agg + top-k ----
    "q3_join_topk" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d)
        .filter(DateFilters.before(col("o_orderdate"), "1998-06-01"))
      val li = Tables.lineitem(s, d)
        .filter(DateFilters.after(col("l_shipdate"), "1998-06-01"))
      // customer grows with SF (at a 100 TB lake it is hundreds of GB), so no
      // broadcast hint — AQE picks broadcast at small SF by size, shuffle hash
      // join at scale. Only fixed-cardinality dims get explicit hints.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(revenueCents(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    }),

    // ---- TPC-H Q5 style: 5-way star join, broadcast dims ----
    "q5_star_join" -> ((s, d) => {
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val o = Tables.orders(s, d)
        .filter(DateFilters.betweenDays(col("o_orderdate"), "1996-01-01", "1997-12-31"))
      val li = Tables.lineitem(s, d)
      // supplier/customer grow linearly with SF — no broadcast hints (AQE
      // decides by runtime size). nation/region are fixed 25/5 rows at any
      // SF, so those hints are safe at 100 TB.
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(c,
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(revenueCents(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // ---- q3 over the bucketed lake layout: same orders⋈lineitem revenue
    // top-k, but both facts are read from tables bucketed+sorted on the
    // join key — the merge-hinted join AND the groupBy(o_orderkey, ...)
    // run with zero Exchange (HashPartitioning on the bucket key satisfies
    // both the join and the grouping distribution). The merge hint keeps
    // the exchange-free sort-merge shape visible at every SF instead of
    // letting AQE broadcast the small side at sf0.01 (at 100 TB SMJ is
    // what you'd get anyway). PLANS.md carries the dump. ----
    "q3_join_bucketed" -> ((s, d) => {
      val (liB, oB) = bucketedFacts(s, d)
      val li = liB.filter(DateFilters.after(col("l_shipdate"), "1998-06-01"))
      val o = oB.filter(DateFilters.before(col("o_orderdate"), "1998-06-01"))
      li.hint("merge").join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("o_orderpriority"))
        .agg(revenueCents(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(desc("revenue"), col("o_orderkey"))
        .limit(10)
    }),

    // ---- left outer join: every nation, with customer count ----
    "q_join_left" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val c = Tables.customer(s, d)
      n.join(c, col("n_nationkey") === col("c_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_customers"))
        .orderBy(col("n_nationkey"))
    }),

    // ---- left semi join: customers that have at least one order ----
    "q_join_semi" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---- left anti join: customers with no orders ----
    "q_join_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d).select(col("o_custkey"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ---- distinct aggregates ----
    "q_agg_distinct" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- rollup (grouping sets) ----
    "q_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg((sum(wide(cents(col("l_quantity")))).cast("double") / 100.0).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // ---- window: top-3 orders per customer by totalprice ----
    "q_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rn").cast("bigint").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- grouped top-k via graft's bounded-buffer aggregate: same rows as
    // q_window_rank but partial-agg friendly — mappers emit ≤k rows per
    // group instead of shuffling and sorting every row (see
    // plans/TopKAggregate.scala). ----
    "q_topk_grouped_agg" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(call_function("graft_topk",
          col("o_totalprice"), col("o_orderkey"), lit(3)).as("top"))
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"),
          col("col.id").as("o_orderkey"),
          col("col.score").as("o_totalprice"),
          (col("pos") + 1).cast("bigint").as("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // ---- window-function variety: lead, ntile, bounded-frame running
    // count — one customer-partitioned pass ----
    "q_window_suite" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("running_n"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- analytic window functions: percent_rank / cume_dist / first /
    // last over a UNIQUE ordering (totalprice, orderkey) so the rank-based
    // doubles are deterministic; both are integer-derived divisions —
    // identical IEEE results in both engines. ----
    "q_window_analytics" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          first(col("o_orderkey")).over(w).as("cheapest_order"),
          last(col("o_orderkey")).over(wFull).as("priciest_order"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- unpivot (inverse of q_pivot): widen per-flag status columns back
    // to rows with stack() — which keeps NULL cells (a flag with no rows in
    // a status), matching the UNION ALL oracle exactly. Same single-pass
    // grouped aggregate underneath; the unpivot is a zero-shuffle
    // projection. ----
    "q_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          (sum(wide(cents(when(col("l_linestatus") === "F", col("l_quantity")))))
            .cast("double") / 100.0).as("qty_f"),
          (sum(wide(cents(when(col("l_linestatus") === "O", col("l_quantity")))))
            .cast("double") / 100.0).as("qty_o"))
        .select(col("l_returnflag"),
          expr("stack(2, 'F', qty_f, 'O', qty_o) AS (l_linestatus, sum_qty)"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- global top-k (TakeOrderedAndProject, no full sort) ----
    "q_topk_global" -> ((s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(10)
    }),

    // ---- union all of two batch slices (S6 append-as-union, SURVEY §2.7) ----
    "q_union_append" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val b1 = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), lit("batch_1").as("batch_id"))
      val b2 = o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderstatus"), lit("batch_2").as("batch_id"))
      b1.unionAll(b2).orderBy(col("o_orderkey"))
    }),

    // ---- KMV (k-minimum-values) distinct-count sketch: per group keep the
    // k smallest DISTINCT 60-bit md5 hashes of the key; estimate =
    // (k-1)·M/kth_min. Streaming/mergeable-sketch math with a deterministic
    // hash, so unlike HLL the estimate is bit-reproducible across engines —
    // the oracle checks the ESTIMATE itself.
    //
    // State is graft's bounded graft_bottomk aggregate
    // (plans/BottomKAggregate.scala): map-side partials cap at k rows per
    // group, so the shuffle carries ≤ k·mappers rows per group. The previous
    // row_number()-window form shuffled EVERY distinct hash into ~|groups|
    // partitions — maximal skew at scale with a handful of event types. ----
    "q_kmv_distinct" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val m = math.pow(2.0, 60).toLong // hash domain size
      Tables.events(s, d)
        .select(col("event_type"),
          graft.functions.TextFunctions.md5Bits(col("user_id").cast("string"), 15).as("h"))
        .groupBy(col("event_type"))
        .agg(call_function("graft_bottomk", col("h"), lit(0.0), lit(32)).as("ks"))
        .select(col("event_type"),
          size(col("ks")).cast("bigint").as("n_kept"),
          // guard the all-NULL-keys group (empty sketch): emit null kth /
          // estimate, as the window form did, instead of element_at(_, 0)
          when(size(col("ks")) > 0,
            element_at(col("ks"), size(col("ks"))).getField("h")).as("kth"))
        .withColumn("est_distinct",
          round((col("n_kept") - 1).cast("double") * lit(m.toDouble) / col("kth").cast("double"), 6))
        .select(col("event_type"), col("n_kept"), col("est_distinct"))
        .orderBy(col("event_type"))
    }),

    // ---- KMV sketch SET OPERATIONS: estimated distinct-user overlap
    // between two event types by inclusion-exclusion over three KMV
    // sketches (A, B, A∪B) built in ONE narrow pass — the union sketch is
    // just the same bounded aggregate fed both sides, because bottom-k
    // sketches are mergeable (that merge() is also the 100 TB deployment
    // path: per-day/per-partition sketches unioned later without touching
    // raw data again). State is 3 × 32 entries regardless of scale; the
    // conditional per-set sketches ride the same shuffle as the union.
    // Deterministic (md5 hash, user-supplied) so the oracle checks the
    // ESTIMATES themselves. ----
    "q_kmv_overlap" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val m = 1152921504606846976.0 // 2^60 hash domain
      // n > 0 (not n > 1): a 1-entry sketch estimates (1-1)·M/kth = 0.0,
      // which is what the oracle's arithmetic yields too — only an EMPTY
      // sketch is null on both sides (same convention as q_kmv_distinct)
      def est(ks: Column): Column = {
        val n = size(ks)
        when(n > 0, round((n - 1).cast("double") * lit(m)
          / element_at(ks, n).getField("h").cast("double"), 6))
      }
      Tables.events(s, d)
        .filter(col("event_type").isin("click", "view"))
        .select(col("event_type"),
          graft.functions.TextFunctions.md5Bits(col("user_id").cast("string"), 15).as("h"))
        .agg(
          call_function("graft_bottomk",
            when(col("event_type") === "click", col("h")), lit(0.0), lit(32)).as("ka"),
          call_function("graft_bottomk",
            when(col("event_type") === "view", col("h")), lit(0.0), lit(32)).as("kb"),
          call_function("graft_bottomk", col("h"), lit(0.0), lit(32)).as("ku"))
        .select(
          size(col("ka")).cast("bigint").as("n_click"),
          size(col("kb")).cast("bigint").as("n_view"),
          size(col("ku")).cast("bigint").as("n_union"),
          est(col("ka")).as("est_click"),
          est(col("kb")).as("est_view"),
          est(col("ku")).as("est_union"))
        .withColumn("est_overlap",
          round(col("est_click") + col("est_view") - col("est_union"), 6))
    }),

    // ---- HLL distinct-count sketch: CONSTANT 256-byte register state per
    // group (p=8, ~6.5% error at any cardinality), vs KMV's k·16 bytes and
    // COUNT(DISTINCT)'s full distinct-key shuffle. Registers are integer
    // bit-arithmetic over the same deterministic md5 hash as the KMV
    // sketch, so — unlike library HLLs — the estimate itself is
    // bit-reproducible and oracle-hashed. No linear-counting small-range
    // correction in checked columns (needs ln(); libm isn't bit-portable):
    // n_regs is emitted so a consumer can apply it. ----
    "q_hll_distinct" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      Tables.events(s, d)
        .select(col("event_type"),
          graft.functions.TextFunctions.md5Bits(col("user_id").cast("string"), 15).as("h"))
        .groupBy(col("event_type"))
        .agg(call_function("graft_hll", col("h")).as("sk"))
        .select(col("event_type"),
          size(col("sk")).cast("bigint").as("n_regs"),
          hllEst("sk").as("est_distinct"))
        .orderBy(col("event_type"))
    }),

    // ---- the re-aggregation half of the HLL contract (same shape as
    // q_percentiles_rollup): build per-(type, day) register sets — the
    // persisted per-partition summaries a 100 TB lake would keep — then
    // answer the per-type question by graft_hll_merge over the ~256-byte
    // summaries, never re-reading raw rows. Register union is element-wise
    // max, so the rollup is bit-identical to sketching raw per type, which
    // is exactly what the oracle checks (its SQL buckets raw straight to
    // the type grain). ----
    "q_hll_rollup" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      Tables.events(s, d)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          graft.functions.TextFunctions.md5Bits(col("user_id").cast("string"), 15).as("h"))
        .groupBy(col("event_type"), col("day"))
        .agg(call_function("graft_hll", col("h")).as("sk_fine"))
        .groupBy(col("event_type"))
        .agg(call_function("graft_hll_merge", col("sk_fine")).as("sk"))
        .select(col("event_type"),
          size(col("sk")).cast("bigint").as("n_regs"),
          hllEst("sk").as("est_distinct"))
        .orderBy(col("event_type"))
    }),

    // ---- approximate percentiles via a deterministic bottom-k-by-hash
    // sample (same graft_bottomk state as the KMV sketch): hash a unique row
    // key, keep the k=1024 smallest per group — a uniform sample identical
    // under any partitioning and in any engine — then interpolate exact
    // percentiles over the sample. Error ~1/sqrt(k) ≈ 3%; the full-sort
    // exact form (q_percentiles) stays as the exact answer. At 100 TB the
    // exact form is a full sort per group; this is one narrow pass with
    // bounded per-group state. ----
    "q_percentiles_approx" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      // linear interpolation at p over an ascending ARRAY<DOUBLE>, written
      // as vlo + (vhi - vlo)*frac on BOTH engines (DuckDB's quantile_cont
      // uses a different fp expression, so the oracle interpolates
      // explicitly too)
      def qc(arr: Column, n: Column, p: Double): Column = {
        val idx = (n.cast("double") - lit(1.0)) * lit(p)
        val lo = floor(idx).cast("int")
        val frac = idx - lo.cast("double")
        val vlo = element_at(arr, lo + lit(1))
        val vhi = element_at(arr, least(lo + lit(2), n.cast("int")))
        vlo + (vhi - vlo) * frac
      }
      // Sample key: a portable INTEGER mix of the unique row identity
      // (l_orderkey, l_linenumber, l_partkey, l_suppkey) — the fixture has
      // duplicate (orderkey, linenumber) pairs, so all four columns are
      // needed, exactly as round 2's md5 key did. Two independent chained
      // LCG lanes mod 2^31 (odd multipliers), concatenated to a 62-bit
      // hash: ~16 codegen'd integer ops per row instead of building a
      // 4-column string and md5-ing it (round 2's hot path: 7.1 s vs the
      // exact form's 3.7 s at sf0.1). Every intermediate stays < 2^63 so
      // the identical arithmetic runs overflow-free in DuckDB. Collisions
      // (~n²/2⁶²) don't diverge the engines either: graft_bottomk keeps the
      // MIN payload per distinct hash and the oracle dedupes (group, hh)
      // with min() the same way, so both sides define the sample identically
      // even on a collision.
      val mixCols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      def lane(a: Long, b: Long): Column =
        mixCols.foldLeft(lit(0L): Column)((h, c) =>
          ((h + col(c).cast("long") % lit(2147483648L)) * lit(a) + lit(b)) % lit(2147483648L))
      val mixed = lane(1103515245L, 12345L) * lit(2147483648L) + lane(69069L, 1L)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), mixed.as("h"),
          col("l_quantity"), col("l_extendedprice"))
        .groupBy(col("l_returnflag"))
        .agg(
          call_function("graft_bottomk", col("h"), col("l_quantity"), lit(1024)).as("sq"),
          call_function("graft_bottomk", col("h"), col("l_extendedprice"), lit(1024)).as("sp"))
        .select(col("l_returnflag"),
          array_sort(expr("transform(sq, s -> s.v)")).as("vq"),
          array_sort(expr("transform(sp, s -> s.v)")).as("vp"),
          size(col("sq")).as("n"))
        .select(col("l_returnflag"),
          round(qc(col("vq"), col("n"), 0.5), 6).as("median_qty"),
          round(qc(col("vq"), col("n"), 0.95), 6).as("p95_qty"),
          round(qc(col("vp"), col("n"), 0.99), 6).as("p99_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- exact percentiles (sort-based, interpolated — identical
    // definition in both engines; rounded as fp belt-and-braces) ----
    "q_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          // one percentile state for both quantity cut points
          expr("percentile(l_quantity, array(0.5, 0.95))").as("qs"),
          round(expr("percentile(l_extendedprice, 0.99)"), 6).as("p99_price"))
        .select(col("l_returnflag"),
          round(element_at(col("qs"), 1), 6).as("median_qty"),
          round(element_at(col("qs"), 2), 6).as("p95_qty"),
          col("p99_price"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- MERGEABLE quantile sketch (graft_qsketch): integer-exact
    // DDSketch-style log-linear buckets, CONSTANT ~8 KB state per group —
    // the at-scale replacement for q_percentiles' O(rows) sort state
    // (which stays as the exact twin). Estimates carry a hard <= 1/32
    // (3.1%) relative-error bound; QuantileSketchSpec pins the bound and
    // merge-order invariance. Quantile extraction is a rank walk over the
    // sketch array: n = total count, r = (n-1)*pct DIV 100 + 1 (integer
    // nearest-lower rank), estimate = midpoint of the first bucket whose
    // cumulative count reaches r — all integer arithmetic, so the DuckDB
    // oracle reproduces it exactly (window cumsum over the same buckets). ----
    "q_percentiles_sketch" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          cents(col("l_quantity")).as("vq"),
          cents(col("l_extendedprice")).as("vp"))
        .groupBy(col("l_returnflag"))
        .agg(
          call_function("graft_qsketch", col("vq")).as("skq"),
          call_function("graft_qsketch", col("vp")).as("skp"))
        .withColumn("nq", expr("aggregate(skq, 0L, (a, x) -> a + x.cnt)"))
        .withColumn("np", expr("aggregate(skp, 0L, (a, x) -> a + x.cnt)"))
        .select(col("l_returnflag"),
          sketchEst("skq", "(nq - 1L) * 50 DIV 100 + 1L").as("median_qty_est"),
          sketchEst("skq", "(nq - 1L) * 95 DIV 100 + 1L").as("p95_qty_est"),
          sketchEst("skp", "(np - 1L) * 99 DIV 100 + 1L").as("p99_price_est"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- the re-aggregation half of the mergeable-sketch contract: build
    // graft_qsketch summaries at a FINE grain ((flag, status) — stand-in
    // for per-day/per-source ingest sketches), then answer the coarser
    // per-flag report by MERGING the ~8 KB summaries with
    // graft_qsketch_merge — the raw rows are never re-read. Because merge
    // is element-wise bucket addition, the rollup is bit-identical to
    // sketching raw per flag, which is exactly what the oracle checks
    // (its SQL buckets raw rows straight to the flag grain). ----
    "q_percentiles_rollup" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_quantity")).as("vq"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(call_function("graft_qsketch", col("vq")).as("sk_fine"))
        .groupBy(col("l_returnflag"))
        .agg(call_function("graft_qsketch_merge", col("sk_fine")).as("skq"))
        .withColumn("nq", expr("aggregate(skq, 0L, (a, x) -> a + x.cnt)"))
        .select(col("l_returnflag"),
          sketchEst("skq", "(nq - 1L) * 50 DIV 100 + 1L").as("median_qty_est"),
          sketchEst("skq", "(nq - 1L) * 95 DIV 100 + 1L").as("p95_qty_est"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- one-pass table profiler: the pre-training lake health check
    // (null rates, value ranges, key cardinalities) as ONE aggregation over
    // one scan — the two COUNT(DISTINCT)s share a single Expand pass (same
    // machinery q_multi_distinct pins), so profiling 100 TB costs one read,
    // not one job per column. ----
    "q_profile" -> ((s, d) => {
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("qty_nulls"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        min(col("l_extendedprice")).as("price_min"),
        max(col("l_extendedprice")).as("price_max"),
        countDistinct(col("l_returnflag")).as("flag_n_distinct"),
        countDistinct(col("l_orderkey")).as("orderkey_n_distinct"),
        min(to_date(col("l_shipdate"))).cast("string").as("shipdate_min"),
        max(to_date(col("l_shipdate"))).cast("string").as("shipdate_max"))
    }),

    // ---- PII anonymization (training-data release prep): the three
    // standard primitives in one narrow projection — pseudonymization
    // (stable md5 surrogate key, so joins still work across releases),
    // masking (digits of the natural identifier), and generalization
    // (balance coarsened to 1000-unit buckets, k-anonymity style). Zero
    // shuffles, one codegen'd scan→project stage at any scale. ----
    "q_pii_mask" -> ((s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          concat(lit("cust_"), substring(md5(col("c_name").cast("binary")), 1, 12))
            .as("pseudonym"),
          regexp_replace(col("c_name"), "[0-9]", "X").as("name_masked"),
          (floor(col("c_acctbal") / 1000.0).cast("bigint") * 1000).as("bal_bucket"),
          col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---- scalar subquery: orders above the global average price. The
    // aggregate is a 1-row broadcast; the comparison runs in exact decimal
    // (price·count > total) so both engines decide identically. ----
    "q_scalar_subquery" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val tot = o.agg(
        sum(dec(col("o_totalprice"))).as("sum_total"),
        count(lit(1)).as("n_total"))
      o.crossJoin(broadcast(tot))
        .filter(dec(col("o_totalprice")) * col("n_total") > col("sum_total"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_above_avg"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- cube: all grouping-set combinations with grouping flags ----
    "q_cube" -> ((s, d) => {
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(wide(cents(col("l_quantity")))).cast("double") / 100.0).as("sum_qty"),
          grouping(col("l_returnflag")).cast("bigint").as("g_flag"),
          grouping(col("l_linestatus")).cast("bigint").as("g_status"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // ---- RECURSIVE CTE (new SQL surface in Spark 4): the classic
    // hierarchy-traversal workload — documents arranged as an implicit
    // binary forest (parent(n) = n DIV 2, roots 0 and 1) walked to a
    // per-depth census with each node's ROOT carried down the recursion.
    // IDENTICAL SQL text on both engines (modulo `DIV` vs `//`); Spark
    // plans the iterative UnionLoop with the default recursion-level
    // guard (spark.sql.cteRecursionLevelLimit) bounding runaway depth.
    // At 100 TB each recursion level is one equi-join of the frontier
    // against the lake — the same per-round shape as the CC/PageRank
    // iterative family, with depth bounded by the hierarchy (log n
    // here), not the corpus. ----
    "q_recursive_tree" -> ((s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("docs_rec")
      s.sql(
        """WITH RECURSIVE tree(doc_id, depth, root) AS (
          |  SELECT doc_id, 0 AS depth, doc_id AS root
          |  FROM docs_rec WHERE doc_id < 2
          |  UNION ALL
          |  SELECT d.doc_id, t.depth + 1, t.root
          |  FROM docs_rec d JOIN tree t ON d.doc_id DIV 2 = t.doc_id
          |  WHERE d.doc_id >= 2
          |)
          |SELECT depth, COUNT(*) AS n_docs,
          |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
          |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
          |  CAST(SUM(CASE WHEN root = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_under_root0
          |FROM tree GROUP BY depth ORDER BY depth""".stripMargin)
        .withColumn("depth", col("depth").cast("long"))
    }),

    // ---- explicit GROUPING SETS (the general form rollup/cube sugar over):
    // per-flag totals, per-status totals, and the grand total in ONE pass —
    // Catalyst plans a single Expand + aggregate, not three scans. ----
    "q_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
          |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    // ---- value-based (RANGE) window frame: for each order, how many of the
    // same customer's orders fall within 1000.0 of its price — RANGE frames
    // include peers and bound by the ORDER BY VALUE, not row position. ----
    "q_window_range" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(col("o_custkey") <= 100)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          expr("count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice " +
            "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW)").as("n_within_1k_below"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- pivot: per-returnflag quantity matrix by linestatus ----
    "q_pivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(wide(cents(col("l_quantity")))).cast("double") / 100.0)
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy(col("l_returnflag"))
    }),

    // ---- salted fact-fact join (skew mitigation; result == plain join).
    // The salt factor is DATA-DERIVED ([[saltFactorFor]]): the probe key's
    // skew_x100 decides both whether to salt at all and how many ways —
    // on TPC-H-shaped l_orderkey (max group ≈ 2× median) the rule returns
    // 1 and the join runs plain, exactly as AQE's skew splitter would
    // decide; a planted hot key flips it to >1 (AqeSkewSpec pins both
    // branches). The decision is MEMOIZED per (dir, key) — the sizing
    // histogram is ingest-time table metadata, not a per-query cost (the
    // Artifacts amortization precedent; at 100 TB it's the
    // persisted q_skew_report output, via persistedSaltFactor). ----
    "q_join_salted" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))
      val factor = persistedSaltFactor(s, d, "lineitem", "l_orderkey", li)
      saltedJoin(
        li, "l_orderkey", xxhash64(col("l_orderkey"), col("l_partkey"), col("l_suppkey")),
        o, "o_orderkey", buckets = factor)
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- full outer join: customer activity across two years, with both
    // one-sided and matched rows kept. The reconciliation-report shape:
    // coalesced key, zero-filled counts, a status discriminator. ----
    "q_join_full" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def yearly(y: Int, alias: String) =
        o.filter(DateFilters.betweenDays(col("o_orderdate"), s"$y-01-01", s"$y-12-31"))
          .groupBy(col("o_custkey").as(s"k_$alias"))
          .agg(count(lit(1)).as(s"n_$alias"))
      yearly(1996, "a").join(yearly(1997, "b"),
          col("k_a") === col("k_b"), "full_outer")
        .select(
          coalesce(col("k_a"), col("k_b")).as("o_custkey"),
          coalesce(col("n_a"), lit(0L)).as("n_1996"),
          coalesce(col("n_b"), lit(0L)).as("n_1997"),
          when(col("k_a").isNull, lit("only_1997"))
            .when(col("k_b").isNull, lit("only_1996"))
            .otherwise(lit("both")).as("status"))
        .orderBy(col("o_custkey"))
    }),

    // ---- bag-semantics set op: 1996 order-custkeys EXCEPT ALL 1997 —
    // duplicate occurrences are SUBTRACTED, not collapsed (a customer with
    // 3 orders in 1996 and 1 in 1997 survives twice). Catalyst plans the
    // count-difference aggregate, not a distinct + anti join. ----
    "q_except_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def year(y: Int) = o.filter(
        DateFilters.betweenDays(col("o_orderdate"), s"$y-01-01", s"$y-12-31"))
        .select(col("o_custkey"))
      year(1996).exceptAll(year(1997)).orderBy(col("o_custkey"))
    }),

    // ---- NOT IN (subquery): written as SQL text because NOT IN carries
    // three-valued-logic semantics (one NULL in the list empties the
    // result) that the DataFrame leftanti join does not. Catalyst proves
    // both key columns non-null here and legally simplifies to a plain
    // broadcast anti join (see PLANS.md); with nullable keys the same
    // query plans the null-aware anti join variant instead. ----
    "q_not_in" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_ni")
      Tables.customer(s, d).createOrReplaceTempView("customer_ni")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders_ni
          |WHERE o_custkey NOT IN (
          |  SELECT c_custkey FROM customer_ni WHERE c_acctbal < 0)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- rank vs dense_rank over REAL ties (l_quantity is integral in
    // the fixture): rank leaves gaps after tie groups, dense_rank doesn't.
    // Rank values are tie-deterministic by definition; the output ORDER BY
    // adds the unique key so row order is total. ----
    "q_window_dense" -> ((s, d) => {
      val w = Window.partitionBy(col("l_returnflag")).orderBy(desc("l_quantity"))
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 100)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"),
          rank().over(w).cast("bigint").as("rk"),
          dense_rank().over(w).cast("bigint").as("drk"))
        .orderBy(col("l_returnflag"), desc("l_quantity"),
          col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- set ops: customers ordering in both/only-first of two years ----
    "q_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def year(y: Int) = o.filter(
        DateFilters.betweenDays(col("o_orderdate"), s"$y-01-01", s"$y-12-31"))
        .select(col("o_custkey"))
      year(1996).intersect(year(1997)).orderBy(col("o_custkey"))
    }),
    "q_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def year(y: Int) = o.filter(
        DateFilters.betweenDays(col("o_orderdate"), s"$y-01-01", s"$y-12-31"))
        .select(col("o_custkey"))
      year(1996).except(year(1997)).orderBy(col("o_custkey"))
    }),

    // ---- TPC-H Q6 style: highly selective scan-filter-agg, no join, no
    // groupBy — the canonical predicate-pushdown showcase. All three
    // predicates reach the parquet reader (PushedFilters); the agg is a
    // single partial+final sum of integer cents (revenue in 1e-4 units:
    // cents(price) × discount-pct), DECIMAL(38,0) accumulator as in q1_cents.
    // At 100 TB this is the query shape where row-group statistics skip
    // most of the lake before a single byte of l_extendedprice is decoded. ----
    "q6_selective" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(DateFilters.betweenDays(col("l_shipdate"), "1997-01-01", "1997-12-31") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(
          (sum(wide(cents(col("l_extendedprice")) * cents(col("l_discount"))))
            .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- correlated EXISTS (TPC-H Q4 style), deliberately written as SQL
    // text: Catalyst decorrelates the subquery into a left-semi join — the
    // plan a user's hand-written EXISTS actually gets. The DataFrame
    // leftsemi equivalent is q_join_semi; this pins the SQL-surface path. ----
    // ---- CORRELATED scalar subqueries (per-row "vs my group's aggregate"
    // — the classic report predicate): orders strictly above their own
    // customer's average order value. Catalyst decorrelates both correlated
    // aggregates into ONE grouped aggregation joined back on o_custkey —
    // never a per-row re-scan (the plan-policy spec family pins broadcast
    // hygiene; at 100 TB this is a fact-fact shuffle join on the customer
    // key). The comparison is exact integer arithmetic (cents × count vs
    // summed cents), so both engines decide ties identically — an avg()
    // of doubles would be partition-order dependent. ----
    "q_correlated_scalar" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_qcs")
      s.sql(
        """SELECT o_orderkey, o_custkey, o_totalprice
          |FROM orders_qcs o
          |WHERE CAST(round(o_totalprice * 100) AS DECIMAL(38, 0))
          |      * (SELECT COUNT(*) FROM orders_qcs i WHERE i.o_custkey = o.o_custkey)
          |    > (SELECT SUM(CAST(round(i.o_totalprice * 100) AS DECIMAL(38, 0)))
          |       FROM orders_qcs i WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // ---- LATERAL correlated subquery with ORDER BY + LIMIT — the
    // SQL-standard spelling of top-N-per-group: each low-key customer's
    // two most expensive orders. Catalyst decorrelates the limited
    // lateral into ONE co-keyed plan — WindowGroupLimit (a MAP-SIDE
    // partial top-2-per-key before the exchange, then the final group
    // limit) feeding a broadcast join with the filtered customer keys
    // (see PLANS.md) — never a per-outer-row re-scan of orders, which is
    // what a naive executor would do and what makes this worth pinning
    // at 100 TB. The inner ORDER BY carries the unique o_orderkey
    // tiebreak so both engines pick identical rows. ----
    "q_lateral_topn" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_lat")
      Tables.orders(s, d).createOrReplaceTempView("orders_lat")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM customer_lat c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM orders_lat o
          |         WHERE o.o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c.c_custkey <= 200
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    }),

    "q4_exists" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_q4")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q4")
      s.sql(
        """SELECT o_orderpriority, count(*) AS n_orders
          |FROM orders_q4 o
          |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
          |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
          |  AND EXISTS (
          |    SELECT 1 FROM lineitem_q4 l
          |    WHERE l.l_orderkey = o.o_orderkey
          |      AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),

    // ---- TPC-H Q10 style: returned-item revenue per customer, top 20.
    // Three-table join with the customer dimension joined AFTER the
    // selective lineitem/orders filters shrink the fact side; nation is a
    // fixed-cardinality dim (explicit broadcast per the policy), customer
    // grows with SF so AQE decides its join strategy by size. ----
    "q10_returned" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
        .filter(DateFilters.betweenDays(col("o_orderdate"), "1997-01-01", "1997-03-31"))
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val n = Tables.nation(s, d)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(revenueCents(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    }),

    // ---- percent-of-total (ratio-to-report): each nation's share of
    // global revenue. The per-nation rollup is the only data-sized
    // shuffle; the share window runs over the ALREADY-AGGREGATED ~25-row
    // result, so the empty-frame window is a non-issue at any scale. The
    // total is an exact DECIMAL(38,0) sum of integer-cents terms — a
    // windowed DOUBLE sum would be partition-order dependent. ----
    "q_revenue_share" -> ((s, d) => {
      val per = Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(wide(cents(col("l_extendedprice"))
          * (lit(100L) - cents(col("l_discount"))))).as("rev4"))
      per
        .withColumn("total4", sum(col("rev4")).over(Window.partitionBy()))
        .select(col("n_name"),
          (col("rev4").cast("double") / 10000.0).as("revenue"),
          round(col("rev4").cast("double") / col("total4").cast("double"), 6).as("share"))
        .orderBy(col("n_name"))
    }),

    // ---- fixed-width histogram: integer bucket arithmetic (floor before
    // cast — Spark truncates, DuckDB rounds) so both engines bucket
    // identically; one narrow scan, partial-agg-friendly groupBy. ----
    "q_histogram" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(floor(col("o_totalprice") / 25000.0).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          round(min(col("o_totalprice")), 6).as("min_price"),
          round(max(col("o_totalprice")), 6).as("max_price"))
        .orderBy(col("bucket"))
    }),

    // ---- multiple COUNT(DISTINCT) in one aggregate: Catalyst plans ONE
    // Expand (row replicated per distinct column) + two-phase aggregate —
    // not N self-joins. The shape to reach for when a report needs several
    // distinct counts of the same fact table in one pass. ----
    "q_multi_distinct" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- JSON extraction on events.props (beyond-reference, SURVEY §2.8) ----
    "q_json_extract" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }))

  override def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1999-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q1_agg_cents" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) <= DATE '1999-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join_topk" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND CAST(o_orderdate AS DATE) < DATE '1998-06-01'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q5_star_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q3_join_bucketed" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE CAST(o_orderdate AS DATE) < DATE '1998-06-01'
        |  AND CAST(l_shipdate AS DATE) > DATE '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_join_left" ->
      """SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_customers
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_nationkey, n_name
        |ORDER BY n_nationkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_agg_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
        |  COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        |  lead(o_orderkey, 1) OVER w AS next_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                 ROWS UNBOUNDED PRECEDING) AS running_n
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_window_analytics" ->
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(o_orderkey) OVER w AS cheapest_order,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_order
        |FROM orders WHERE o_custkey <= 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_unpivot" ->
      """WITH p AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_f,
        |    CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_o
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l_returnflag, 'F' AS l_linestatus, qty_f AS sum_qty FROM p
        |UNION ALL
        |SELECT l_returnflag, 'O' AS l_linestatus, qty_o AS sum_qty FROM p
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_topk_grouped_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_union_append" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderstatus, 'batch_1' AS batch_id FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, 'batch_2' AS batch_id FROM orders WHERE o_orderstatus = 'O'
        |) ORDER BY o_orderkey""".stripMargin,
    "q_kmv_distinct" ->
      """WITH hashed AS (
        |  SELECT DISTINCT event_type,
        |    try_cast('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events
        |), ranked AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM hashed
        |), kept AS (
        |  SELECT event_type, max(h) AS kth, count(*) AS n_kept
        |  FROM ranked WHERE rn <= 32 GROUP BY event_type
        |)
        |SELECT event_type, n_kept,
        |  round(CAST(n_kept - 1 AS DOUBLE) * 1152921504606846976.0 / CAST(kth AS DOUBLE), 6) AS est_distinct
        |FROM kept ORDER BY event_type""".stripMargin,
    // one oracle serves both: register union is element-wise max, so the
    // per-(type,day)→type rollup is bit-identical to sketching per type
    "q_hll_distinct" -> hllOracle,
    "q_hll_rollup" -> hllOracle,
    "q_pii_mask" ->
      """SELECT c_custkey,
        |  'cust_' || substr(md5(c_name), 1, 12) AS pseudonym,
        |  regexp_replace(c_name, '[0-9]', 'X', 'g') AS name_masked,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) * 1000 AS bal_bucket,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_kmv_overlap" ->
      """WITH hashed AS (
        |  SELECT DISTINCT event_type,
        |    try_cast('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM events WHERE event_type IN ('click', 'view')
        |), ca AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hashed WHERE event_type = 'click'
        |), cb AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hashed WHERE event_type = 'view'
        |), cu AS (
        |  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (SELECT DISTINCT h FROM hashed)
        |), ea AS (SELECT count(*) AS n, max(h) AS kth FROM ca WHERE rn <= 32
        |), eb AS (SELECT count(*) AS n, max(h) AS kth FROM cb WHERE rn <= 32
        |), eu AS (SELECT count(*) AS n, max(h) AS kth FROM cu WHERE rn <= 32
        |), ests AS (
        |  SELECT
        |    CAST(ea.n AS BIGINT) AS n_click, CAST(eb.n AS BIGINT) AS n_view,
        |    CAST(eu.n AS BIGINT) AS n_union,
        |    round(CAST(ea.n - 1 AS DOUBLE) * 1152921504606846976.0 / CAST(ea.kth AS DOUBLE), 6) AS est_click,
        |    round(CAST(eb.n - 1 AS DOUBLE) * 1152921504606846976.0 / CAST(eb.kth AS DOUBLE), 6) AS est_view,
        |    round(CAST(eu.n - 1 AS DOUBLE) * 1152921504606846976.0 / CAST(eu.kth AS DOUBLE), 6) AS est_union
        |  FROM ea, eb, eu
        |)
        |SELECT n_click, n_view, n_union, est_click, est_view, est_union,
        |  round(est_click + est_view - est_union, 6) AS est_overlap
        |FROM ests""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
        |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_percentiles_approx" -> {
      def interp(arr: String, p: Double): String = {
        val idx = s"(CAST(n - 1 AS DOUBLE) * $p)"
        val lo = s"CAST(floor($idx) AS INT)"
        s"($arr[$lo + 1] + ($arr[least($lo + 2, CAST(n AS INT))] - $arr[$lo + 1]) * ($idx - floor($idx)))"
      }
      // identical two-lane LCG mix as the Spark side, generated by the same
      // fold so the nesting can't drift
      def laneSql(a: Long, b: Long): String =
        Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
          .foldLeft("0")((h, c) =>
            s"((($h + CAST($c AS BIGINT) % 2147483648) * $a + $b) % 2147483648)")
      // hd mirrors graft_bottomk's distinct-on-hash rule EXACTLY: one row
      // per (group, hh) keeping the MIN of each payload independently —
      // so even on a hash collision both engines define the same sample
      s"""WITH h AS (
         |  SELECT l_returnflag,
         |    ${laneSql(1103515245L, 12345L)} * 2147483648 + ${laneSql(69069L, 1L)} AS hh,
         |    l_quantity, l_extendedprice
         |  FROM lineitem
         |), hd AS (
         |  SELECT l_returnflag, hh,
         |    min(l_quantity) AS l_quantity, min(l_extendedprice) AS l_extendedprice
         |  FROM h GROUP BY l_returnflag, hh
         |), kept AS (
         |  SELECT l_returnflag, l_quantity, l_extendedprice FROM (
         |    SELECT l_returnflag, l_quantity, l_extendedprice,
         |      row_number() OVER (PARTITION BY l_returnflag ORDER BY hh) AS rn
         |    FROM hd) WHERE rn <= 1024
         |), arrs AS (
         |  SELECT l_returnflag,
         |    list(l_quantity ORDER BY l_quantity) AS vq,
         |    list(l_extendedprice ORDER BY l_extendedprice) AS vp,
         |    count(*) AS n
         |  FROM kept GROUP BY l_returnflag
         |)
         |SELECT l_returnflag,
         |  round(${interp("vq", 0.5)}, 6) AS median_qty,
         |  round(${interp("vq", 0.95)}, 6) AS p95_qty,
         |  round(${interp("vp", 0.99)}, 6) AS p99_price
         |FROM arrs ORDER BY l_returnflag""".stripMargin
    },
    "q_percentiles_sketch" -> {
      // the identical integer log-linear bucket map + rank walk as
      // graft_qsketch: bit length via length(bin(v)) (exact, no libm),
      // sub-bucket = 4 bits after the leading 1, midpoint decode
      // (33 + 2s) << (L-6); rank r = (n-1)*pct // 100 + 1 over a window
      // cumsum in bucket order. Bucket ids are monotone in v, so the
      // first bucket with cum >= r is the rank's bucket.
      def bexpr(v: String): String =
        s"CASE WHEN $v < 1 THEN 0 WHEN $v < 32 THEN CAST($v AS INT) " +
          s"ELSE CAST(length(bin($v)) * 16 + CAST(($v >> (length(bin($v)) - 5)) & 15 AS INT) AS INT) END"
      val mid = "CASE WHEN b < 32 THEN CAST(b AS BIGINT) " +
        "ELSE CAST(33 + 2 * (b % 16) AS BIGINT) << (b // 16 - 6) END"
      s"""WITH v AS (
         |  SELECT l_returnflag,
         |    CAST(round(l_quantity * 100) AS BIGINT) AS vq,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS vp
         |  FROM lineitem
         |), bq AS (
         |  SELECT l_returnflag, ${bexpr("vq")} AS b, count(*) AS cnt
         |  FROM v GROUP BY 1, 2
         |), cq AS (
         |  SELECT l_returnflag, b,
         |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum,
         |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM bq
         |), eq AS (
         |  SELECT l_returnflag,
         |    min(CASE WHEN cum >= ((n - 1) * 50) // 100 + 1 THEN $mid END) AS m50,
         |    min(CASE WHEN cum >= ((n - 1) * 95) // 100 + 1 THEN $mid END) AS m95
         |  FROM cq GROUP BY l_returnflag
         |), bp AS (
         |  SELECT l_returnflag, ${bexpr("vp")} AS b, count(*) AS cnt
         |  FROM v GROUP BY 1, 2
         |), cp AS (
         |  SELECT l_returnflag, b,
         |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum,
         |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM bp
         |), ep AS (
         |  SELECT l_returnflag,
         |    min(CASE WHEN cum >= ((n - 1) * 99) // 100 + 1 THEN $mid END) AS m99
         |  FROM cp GROUP BY l_returnflag
         |)
         |SELECT eq.l_returnflag,
         |  round(m50 / 100.0, 6) AS median_qty_est,
         |  round(m95 / 100.0, 6) AS p95_qty_est,
         |  round(m99 / 100.0, 6) AS p99_price_est
         |FROM eq JOIN ep ON eq.l_returnflag = ep.l_returnflag
         |ORDER BY eq.l_returnflag""".stripMargin
    },
    "q_profile" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
        |  min(l_quantity) AS qty_min,
        |  max(l_quantity) AS qty_max,
        |  min(l_extendedprice) AS price_min,
        |  max(l_extendedprice) AS price_max,
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT) AS flag_n_distinct,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS orderkey_n_distinct,
        |  CAST(min(CAST(l_shipdate AS DATE)) AS VARCHAR) AS shipdate_min,
        |  CAST(max(CAST(l_shipdate AS DATE)) AS VARCHAR) AS shipdate_max
        |FROM lineitem""".stripMargin,
    "q_percentiles_rollup" -> {
      // the Spark side sketches at (flag, status) grain then MERGES the
      // summaries up to flag; bucket-count merge is associative addition,
      // so the oracle buckets raw rows directly at the flag grain — any
      // difference would mean the merge aggregate is wrong
      def bexpr(v: String): String =
        s"CASE WHEN $v < 1 THEN 0 WHEN $v < 32 THEN CAST($v AS INT) " +
          s"ELSE CAST(length(bin($v)) * 16 + CAST(($v >> (length(bin($v)) - 5)) & 15 AS INT) AS INT) END"
      val mid = "CASE WHEN b < 32 THEN CAST(b AS BIGINT) " +
        "ELSE CAST(33 + 2 * (b % 16) AS BIGINT) << (b // 16 - 6) END"
      s"""WITH v AS (
         |  SELECT l_returnflag, CAST(round(l_quantity * 100) AS BIGINT) AS vq
         |  FROM lineitem
         |), bq AS (
         |  SELECT l_returnflag, ${bexpr("vq")} AS b, count(*) AS cnt
         |  FROM v GROUP BY 1, 2
         |), cq AS (
         |  SELECT l_returnflag, b,
         |    sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY b) AS cum,
         |    sum(cnt) OVER (PARTITION BY l_returnflag) AS n
         |  FROM bq
         |)
         |SELECT l_returnflag,
         |  round(min(CASE WHEN cum >= ((n - 1) * 50) // 100 + 1 THEN $mid END) / 100.0, 6) AS median_qty_est,
         |  round(min(CASE WHEN cum >= ((n - 1) * 95) // 100 + 1 THEN $mid END) / 100.0, 6) AS p95_qty_est
         |FROM cq GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin
    },
    "q6_selective" ->
      """SELECT
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_correlated_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT)
        |      * (SELECT COUNT(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |    > (SELECT SUM(CAST(round(i.o_totalprice * 100) AS BIGINT))
        |       FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey <= 200
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q10_returned" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-03-31'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q_revenue_share" ->
      """WITH per AS (
        |  SELECT n_name,
        |    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
        |        * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev4
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name
        |)
        |SELECT n_name,
        |  CAST(rev4 AS DOUBLE) / 10000.0 AS revenue,
        |  round(CAST(rev4 AS DOUBLE) / CAST(SUM(rev4) OVER () AS DOUBLE), 6) AS share
        |FROM per ORDER BY n_name""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |  count(*) AS n_orders,
        |  round(min(o_totalprice), 6) AS min_price,
        |  round(max(o_totalprice), 6) AS max_price
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_multi_distinct" ->
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderpriority) AS n_prio,
        |  count(*) AS n_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_scalar_subquery" ->
      """WITH t AS (
        |  SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS sum_total, COUNT(*) AS n_total
        |  FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n_above_avg
        |FROM orders, t
        |WHERE CAST(o_totalprice AS DECIMAL(18,2)) * n_total > sum_total
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    // the same recursion, DuckDB spelling (`//` integer division)
    "q_recursive_tree" ->
      """WITH RECURSIVE tree(doc_id, depth, root) AS (
        |  SELECT doc_id, 0 AS depth, doc_id AS root
        |  FROM documents WHERE doc_id < 2
        |  UNION ALL
        |  SELECT d.doc_id, t.depth + 1, t.root
        |  FROM documents d JOIN tree t ON d.doc_id // 2 = t.doc_id
        |  WHERE d.doc_id >= 2
        |)
        |SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n_docs,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS max_doc,
        |  CAST(SUM(CASE WHEN root = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_under_root0
        |FROM tree GROUP BY depth ORDER BY depth""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
        |                 RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_within_1k_below
        |FROM orders WHERE o_custkey <= 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_f,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(round(l_quantity * 100) AS BIGINT) END) AS DOUBLE) / 100.0 AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_full" ->
      """WITH a AS (
        |  SELECT o_custkey AS k_a, count(*) AS n_a FROM orders
        |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  GROUP BY o_custkey
        |), b AS (
        |  SELECT o_custkey AS k_b, count(*) AS n_b FROM orders
        |  WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
        |  GROUP BY o_custkey
        |)
        |SELECT coalesce(k_a, k_b) AS o_custkey,
        |  CAST(coalesce(n_a, 0) AS BIGINT) AS n_1996,
        |  CAST(coalesce(n_b, 0) AS BIGINT) AS n_1997,
        |  CASE WHEN k_a IS NULL THEN 'only_1997'
        |       WHEN k_b IS NULL THEN 'only_1996'
        |       ELSE 'both' END AS status
        |FROM a FULL OUTER JOIN b ON k_a = k_b
        |ORDER BY o_custkey""".stripMargin,
    "q_except_all" ->
      """SELECT o_custkey FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |EXCEPT ALL
        |SELECT o_custkey FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
        |ORDER BY o_custkey""".stripMargin,
    "q_not_in" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_custkey NOT IN (
        |  SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_window_dense" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity,
        |  CAST(rank() OVER w AS BIGINT) AS rk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drk
        |FROM lineitem WHERE l_orderkey <= 100
        |WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
        |ORDER BY l_returnflag, l_quantity DESC, l_orderkey, l_linenumber""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
        |ORDER BY o_custkey""".stripMargin,
    "q_except" ->
      """SELECT o_custkey FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-12-31'
        |ORDER BY o_custkey""".stripMargin,
    "q_join_salted" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, CAST(SUM(k) AS BIGINT) AS sum_k, COUNT(k) AS n, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}
