package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Pins the runtime skew defense the scale notes lean on (SCALE.md, LSH
  * hot-bucket story): AQE detects a skewed shuffle partition at execution
  * time and splits it, WITHOUT any query rewrite. Thresholds are lowered
  * to make local-scale data trigger the same code path a 100 TB hot key
  * would; confs are restored afterwards (shared session).
  */
class AqeSkewSpec extends SparkSuiteBase {
  import spark.implicits._

  test("AQE splits a skewed sort-merge-join partition at runtime") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // a partition is "skewed" if > factor * median AND > threshold bytes;
      // shrink both so the hot key below qualifies at test scale
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // force a shuffle join: broadcast would hide the skew path entirely
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

      // 90% of fact rows share key 0 (the hot LSH band / hot join key
      // shape). Payloads are md5-derived so shuffle blocks don't compress
      // away beneath the skew threshold.
      val fact = (0 until 40000).map { i =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(i.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
        (if (i % 10 == 0) (i % 97) + 1 else 0, h * 4)
      }.toDF("k", "payload")
      val dim = (0 to 98).map(k => (k, s"dim_$k")).toDF("k", "name")

      val joined = fact.join(dim, "k")
      // collect() executes joined's OWN QueryExecution (count() would build
      // and finalize a different one, leaving this plan un-adapted)
      assert(joined.collect().length == 40000)

      val finalPlan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val planText = finalPlan.toString
      // the splitter marks the join and reader: SMJ prints "skew=true",
      // the shuffle reader prints its skew-split partition specs
      assert(planText.contains("skew=true"),
        s"expected a skew-handled join in the final adaptive plan:\n$planText")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("saltFactorFor: uniform keys skip salting, a planted hub salts to its skew ratio") {
    import graft.operators.Relational
    // uniform: every key appears exactly 3 times -> max/p50 = 1 -> no salt
    val uniform = (0 until 300).map(i => (i % 100, i)).toDF("k", "v")
    assert(Relational.saltFactorFor(uniform, "k") == 1)
    // mild TPC-H-shaped skew (max = 2x median) stays below the AQE-default
    // threshold: replication would cost more than it saves
    val mild = ((0 until 100).flatMap(i => Seq((i, 2 * i), (i, 2 * i + 1))) ++
      Seq((0, 1000), (0, 1001))).toDF("k", "v")
    assert(Relational.saltFactorFor(mild, "k") == 1)
    // planted hub: one key holds 100 rows vs median 2 -> factor = 16 (cap)
    val hub = ((0 until 100).map(i => (-1, i)) ++
      (0 until 200).map(i => (i % 100, i))).toDF("k", "v")
    assert(Relational.saltFactorFor(hub, "k") == 16)
    // the cap is configurable; uncapped the hub needs ceil(100/2) = 50
    assert(Relational.saltFactorFor(hub, "k", maxBuckets = 64) == 50)
    // salted-at-derived-factor result == plain join on the hub data
    val dim = (0 until 100).map(i => (i, s"d$i")).toDF("rk", "name")
    val factor = Relational.saltFactorFor(hub, "k")
    val salted = Relational.saltedJoin(hub, "k", xxhash64(col("v")), dim, "rk", factor)
      .groupBy("rk").count().orderBy("rk").collect().map(r => (r.getInt(0), r.getLong(1)))
    val plain = hub.join(dim, col("k") === col("rk"))
      .groupBy("rk").count().orderBy("rk").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(salted.sameElements(plain))
    // factor 1 short-circuits: no __salt machinery, no build replication
    val plan1 = Relational.saltedJoin(uniform, "k", xxhash64(col("v")), dim, "rk", 1)
      .queryExecution.optimizedPlan.toString
    assert(!plan1.contains("__salt") && !plan1.contains("explode"))
  }

  test("persistedSaltFactor: the decision is written once as an ingest-time artifact and re-read") {
    import graft.operators.Relational
    // first call computes the histogram and persists the 1-row decision;
    // it must agree with the direct computation on the same source
    val li = Tables.lineitem(spark, sf0001)
    val direct = Relational.saltFactorFor(li, "l_orderkey")
    val persisted = Relational.persistedSaltFactor(
      spark, sf0001, "lineitem", "l_orderkey", li)
    assert(persisted == direct)
    // the artifact landed on disk, fingerprint-keyed (a fresh JVM would
    // READ this instead of re-scanning the probe side)
    val store = graft.operators.Artifacts
    val artifact = store.published("salt_factor_l_orderkey")
    assert(artifact.nonEmpty, "the decision must persist as a store artifact")
    assert(artifact.forall(k =>
      new java.io.File(store.wh.tablePath(k), "_SUCCESS").exists()))
    // a probe that would EXPLODE if scanned proves the re-read path: the
    // memo serves the second call without touching the probe expression
    val second = Relational.persistedSaltFactor(
      spark, sf0001, "lineitem", "l_orderkey",
      sys.error("probe side must not be re-scanned"))
    assert(second == direct)
  }
}
