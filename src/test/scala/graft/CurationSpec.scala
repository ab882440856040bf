package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

/** Semantics the oracle hash alone would not localize: the split's
  * contamination-safety invariant, the quality gate's exact-quartile cut,
  * MERGE row accounting, LOCF carry correctness (replayed in Scala), and
  * attribution's credit conservation.
  */
class CurationSpec extends SparkSuiteBase {

  test("pipe_dataset_card recomposes from txt_split_assign and a per-split Scala replay") {
    val card = Curation.queries("pipe_dataset_card")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(card.keySet == Set("train", "val", "test"))
    val split = Curation.queries("txt_split_assign")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long"), col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    docs.groupBy { case (id, _, _, _) => split(id) }.foreach { case (sp, ds) =>
      val r = card(sp)
      assert(r.getLong(1) == ds.length.toLong)
      val tokens = ds.map(_._4.split(" ", -1).length.toLong)
      assert(r.getLong(2) == tokens.sum)
      assert(r.getLong(3) == ds.map(_._3).sum)
      assert(r.getLong(4) == ds.map(_._2).distinct.length.toLong)
      assert(r.getLong(5) == ds.count(_._2 == "en").toLong)
      assert(r.getLong(6) == ds.length - ds.map(d => md5hex(d._4)).distinct.length,
        s"split $sp exact-dup count")
      assert(r.getLong(7) == tokens.sum / ds.length)
    }
  }

  test("txt_split_assign: byte-identical documents always share a split") {
    val perText = Curation.queries("txt_split_assign")(spark, sf0001)
      .join(Tables.documents(spark, sf0001), "doc_id")
      .groupBy(col("text"))
      .agg(countDistinct(col("split")).as("n_splits"))
    assert(perText.filter(col("n_splits") > 1).count() == 0,
      "an exact duplicate pair straddles train/test — the split key must be content, not id")
    // and the split is total: every doc assigned
    assert(Curation.queries("txt_split_assign")(spark, sf0001).count() ==
      Tables.documents(spark, sf0001).count())
  }

  test("q_zorder_layout: interleave is bijective and every file bounds both dims to 32") {
    // Scala replay of the generated expression: bit i of x -> 2i, of y -> 2i+1
    def z(x: Long, y: Long): Long = (0 until 8).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.sum
    // bijective over the full 256x256 domain, image exactly [0, 65536)
    val all = for (x <- 0L until 256L; y <- 0L until 256L) yield z(x, y)
    assert(all.toSet.size == 65536 && all.min == 0L && all.max == 65535L)
    // the Spark-side generated expression computes the same key
    import spark.implicits._
    val sample = Seq((0L, 0L), (255L, 255L), (1L, 2L), (170L, 85L), (200L, 13L))
    val got = sample.toDF("ub", "db")
      .withColumn("z", expr(Curation.zorderExpr("ub", "db", 8, "div")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    sample.foreach { case (x, y) => assert(got((x, y)) == z(x, y)) }
    // dropping the 10 low z-bits leaves 5 high bits per dim: spans <= 32
    val rep = Curation.queries("q_zorder_layout")(spark, sf0001)
    val bad = rep.filter(col("ub_span") > 32 || col("db_span") > 32).count()
    assert(bad == 0, "a zkey-range file spans more than 32 values of a dimension")
    assert(rep.count() > 1, "fixture should spread events over multiple z files")
  }

  test("txt_quality_topp: value-cut quartile — ≥ floor(n/4) kept, minimal, strictly separated") {
    val kept = Curation.queries("txt_quality_topp")(spark, sf0001).cache()
    try {
      val docs = Tables.documents(spark, sf0001)
      val keptRows = kept.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val bySrc = docs.select(col("doc_id"), col("source"), col("n_chars"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .groupBy(_._2)
      bySrc.foreach { case (src, rows) =>
        val n = rows.length
        val k = keptRows.filter(_._2 == src)
        if (n < 4) assert(k.isEmpty, s"$src: n=$n < 4 must keep nothing")
        else {
          // the cut keeps at least the top quarter, overshooting only by
          // the tie group AT the cut value (kept whole by design) —
          // dropping that group would fall below floor(n/4): minimality
          assert(k.length >= n / 4, s"$src: kept ${k.length} < ${n / 4}")
          val t1 = k.map(_._3).min
          assert(k.count(_._3 > t1) < n / 4,
            s"$src: cut not minimal — strictly-above-cut already covers n/4")
          // keep is EXACTLY the value threshold, and separation is strict
          val expected = rows.filter(_._3 >= t1).map(_._1).toSet
          assert(k.map(_._1).toSet == expected,
            s"$src: kept set != {n_chars >= $t1}")
          val dropMax = rows.filter(r => !expected(r._1)).map(_._3)
            .maxOption.getOrElse(Long.MinValue)
          assert(dropMax < t1,
            s"$src: a dropped doc ties/beats the cut value $t1")
        }
      }
    } finally kept.unpersist(): Unit
  }

  test("txt_domain_cap: graft_topk cap equals the window row_number recomputation") {
    import org.apache.spark.sql.expressions.Window
    val sf = "/root/testdata/sf0.01"
    val w = Window.partitionBy(col("source")).orderBy(desc("n_chars"), col("doc_id"))
    val expected = Tables.documents(spark, sf)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 10)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = Curation.queries("txt_domain_cap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      "bounded-buffer top-k must agree with the full window sort it replaces")
    // the cap is hard: no source exceeds 10 docs
    val perSrc = Curation.queries("txt_domain_cap")(spark, sf)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(perSrc.nonEmpty && perSrc.forall(_ <= 10))
  }

  test("pipe_snapshot_diff: classes partition the id union and match set algebra") {
    val sf = "/root/testdata/sf0.01"
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val a = ids.filter(_ % 10 != 0)
    val b = ids.filter(_ % 23 != 0)
    val expected = Map(
      "added" -> (b -- a).size.toLong,
      "removed" -> (a -- b).size.toLong,
      "changed" -> (a & b).count(_ % 37 == 0).toLong,
      "unchanged" -> (a & b).count(_ % 37 != 0).toLong)
    val got = Curation.queries("pipe_snapshot_diff")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected.filter(_._2 > 0L),
      s"diff classes must partition |A union B|: got $got expected $expected")
    assert(got.values.sum == (a ++ b).size.toLong)
  }

  test("pipe_compaction_plan equals a sequential greedy-binning replay and conserves bytes") {
    val sf = "/root/testdata/sf0.01"
    val files = Tables.documents(spark, sf)
      .groupBy(col("source"), (col("doc_id") % 50).as("file_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val placed: Seq[(String, Long, Long, Long, Long)] =
      files.toSeq.groupBy(_._1).toSeq.flatMap { case (src, fs) =>
        var off = 0L
        fs.sortBy(_._2).map { case (_, fid, nd, bytes) =>
          val bin = off / 2048; off += bytes; (src, bin, fid, nd, bytes)
        }
      }
    val expected = placed.groupBy(t => (t._1, t._2)).map { case ((src, bin), rows) =>
      (src, bin) -> ((rows.size.toLong, rows.map(_._4).sum, rows.map(_._5).sum,
        rows.map(_._3).min, rows.map(_._3).max))
    }
    val got = Curation.queries("pipe_compaction_plan")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected, "plan must equal the sequential greedy assignment")
    // byte conservation: the plan rewrites exactly the corpus, nothing dropped
    assert(got.values.map(_._3).sum == files.map(_._4).sum)
    // bins are contiguous from 0 per source (no empty bins in the plan)
    got.keys.groupBy(_._1).foreach { case (_, ks) =>
      val bins = ks.map(_._2).toSeq.sorted
      assert(bins == (0L until bins.size).toSeq, s"bins not contiguous: $bins")
    }
  }

  test("q_kanon_audit: published classes hold k, counts conserve, ladder is real") {
    val sf = "/root/testdata/sf0.01"
    val rows = Curation.queries("q_kanon_audit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_._4).sum == total, "audit classes must partition the corpus")
    // every non-suppressed class meets the k=5 floor
    rows.filter(_._5 <= 2).foreach { r => assert(r._4 >= 5, s"class below k published: $r") }
    // level-1 rows are exactly the direct group-by's >= k classes
    val direct = Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source"), expr("n_chars DIV 200").cast("bigint").as("b"))
      .count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expectedL1 = direct.filter(_._4 >= 5).map(t => (t._1, t._2, t._3, t._4, 1L)).toSet
    assert(rows.filter(_._5 == 1).toSet == expectedL1)
    // the fixture actually exercises the generalization step
    assert(direct.exists(_._4 < 5) && rows.exists(_._5 == 2),
      "fixture must have below-k classes that generalize")
  }

  test("pipe_mv_refresh: merged state+delta equals the full recompute at both SFs") {
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val got = Curation.queries("pipe_mv_refresh")(spark, sf).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val full = Tables.documents(spark, sf).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("bigint").as("t"),
          max(col("n_chars")).as("m"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(2) / r.getLong(1)))).toMap
      assert(got == full, s"incremental merge must be exact at $sf")
    }
  }

  test("pipe_drift_report: exact integer drift arithmetic replays sequentially") {
    val sf = "/root/testdata/sf0.01"
    val ids = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val aCnt = ids.filter(_._1 % 10 != 0).groupBy(_._2).map { case (l, v) => l -> v.size.toLong }
    val bCnt = ids.filter(_._1 % 23 != 0).groupBy(_._2).map { case (l, v) => l -> v.size.toLong }
    val totA = aCnt.values.sum
    val totB = bCnt.values.sum
    val expected = (aCnt.keySet ++ bCnt.keySet).toSeq.sorted.map { l =>
      val na = aCnt.getOrElse(l, 0L); val nb = bCnt.getOrElse(l, 0L)
      val exp = na * totB / totA
      val drift = 1000L * math.abs(nb - exp) / math.max(exp, 1L)
      (l, na, nb, exp, drift, drift > 100L)
    }
    val got = Curation.queries("pipe_drift_report")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5))).toSeq
    assert(got == expected, "drift report must equal the integer replay")
    assert(got.nonEmpty && got.map(_._1) == got.map(_._1).sorted)
  }

  test("q_fk_audit: clean fixture has zero orphans and full row counts") {
    val rows = Curation.queries("q_fk_audit")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nLi = Tables.lineitem(spark, sf0001).count()
    val nOrd = Tables.orders(spark, sf0001).count()
    assert(rows("lineitem->orders") == (nLi, 0L))
    assert(rows("lineitem->part") == (nLi, 0L))
    assert(rows("orders->customer") == (nOrd, 0L))
  }

  test("q_expectations_audit: every rule equals a sequential replay; both outcomes present") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q_expectations_audit")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(got.size == 6)
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).cast("string").as("od"))
      .collect()
    val custKeys = Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val n = orders.length.toLong
    val vNn = orders.count(_.isNullAt(1)).toLong
    val vPos = orders.count(r => !r.isNullAt(3) && r.getDouble(3) <= 0.0).toLong
    val vSet = orders.count(r =>
      !r.isNullAt(2) && !Set("O", "F", "P").contains(r.getString(2))).toLong
    val vRng = orders.count(r =>
      r.isNullAt(4) || r.getString(4) < "1995-01-01" || r.getString(4) > "2000-12-31").toLong
    val vUniq = n - orders.map(_.getLong(0)).distinct.length.toLong
    val vFk = orders.count(r => r.isNullAt(1) || !custKeys(r.getLong(1))).toLong
    val expected = Map(
      "o_custkey not_null" -> vNn,
      "o_totalprice positive" -> vPos,
      "o_orderstatus accepted_set" -> vSet,
      "o_orderdate in_range" -> vRng,
      "o_orderkey unique" -> vUniq,
      "o_custkey fk_customer" -> vFk)
    expected.foreach { case (rule, v) =>
      val (gn, gv, gp) = got(rule)
      assert(gn == n, s"$rule n_checked")
      assert(gv == v, s"$rule violations")
      assert(gp == (v == 0L), s"$rule pass flag")
    }
    // the report genuinely shows both outcomes on the fixture
    assert(got.values.exists(_._3), "no passing rule")
    assert(got.values.exists(!_._3), "no failing rule")
  }

  test("q_expectations_audit unique rule: k planted NULL keys are k violations, not k-1") {
    // The pathological input a uniqueness check exists to catch: NULL keys.
    // Oracle semantics are count(*) − count(DISTINCT key) — all NULL-keyed
    // rows are violations (count(DISTINCT) ignores NULLs). A bare groupBy
    // would under-count them by one (NULL forms a single group).
    val tmp = java.nio.file.Files.createTempDirectory("graft_nullkey").toString
    val base = Tables.orders(spark, sf0001).limit(100).cache()
    val planted = base.unionByName(
      base.limit(3).withColumn("o_orderkey", lit(null).cast("bigint")))
    planted.write.mode("overwrite").parquet(s"$tmp/orders.parquet")
    Tables.customer(spark, sf0001)
      .write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val rows = planted.collect()
    val n = rows.length.toLong
    val nNull = rows.count(_.isNullAt(rows.head.fieldIndex("o_orderkey"))).toLong
    val distinctNonNull = rows.filterNot(_.isNullAt(rows.head.fieldIndex("o_orderkey")))
      .map(_.getLong(rows.head.fieldIndex("o_orderkey"))).distinct.length.toLong
    assert(nNull == 3L)
    val got = SparkEntry.queries("q_expectations_audit")(spark, tmp)
      .filter(col("rule") === "o_orderkey unique").collect().head
    assert(got.getLong(1) == n, "n_checked")
    assert(got.getLong(2) == n - distinctNonNull,
      s"violations must include all $nNull NULL keys (count(*) - count(DISTINCT))")
    base.unpersist()
  }

  test("q_merge_upsert: row accounting — target + inserts, updates reclassified") {
    val o = Tables.orders(spark, sf0001)
    val nOrders = o.count()
    val nUpd = o.filter(col("o_orderkey") % 7 === 0).count()
    val nIns = o.filter(col("o_orderkey") % 1000 === 0).count()
    val res = Curation.queries("q_merge_upsert")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res.values.sum == nOrders + nIns, "MERGE must keep every target row and add inserts")
    assert(res("U") == nUpd)
    assert(res("I") == nIns)
  }

  test("evt_locf: carry replayed row-by-row in Scala matches") {
    val ev = Tables.events(spark, sf0001)
      .filter(col("user_id").isNotNull && col("user_id") % 50 === 0 &&
        col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(col("user_id"), to_date(col("ts")).as("od"))
      .agg(max(col("value")).as("v"))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (u, rs) =>
        u -> rs.map(r => r.getDate(1).toLocalDate -> r.getDouble(2)).sortBy(_._1.toEpochDay)
      }
    val out = Curation.queries("evt_locf")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (u, day) = (r.getLong(0), r.getDate(1).toLocalDate)
      val expected = ev.get(u).flatMap(obs =>
        obs.takeWhile(!_._1.isAfter(day)).lastOption.map(_._2))
      val got = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(got == expected, s"user $u day $day: got $got expected $expected")
    }
  }

  test("evt_multi_touch: per-purchase credit conserves value up to integer-division loss") {
    val res = Curation.queries("evt_multi_touch")(spark, sf0001).collect()
    assert(res.nonEmpty)
    val credited = res.map(_.getDouble(2)).sum
    // total purchase value of purchases WITH >= 1 touch bounds the credit
    val ev = Tables.events(spark, sf0001).filter(col("user_id").isNotNull)
    val p = ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        unix_micros(col("ts")).as("p_ts"), col("value").as("v"))
    val t = ev.filter(col("event_type").isin("view", "click"))
      .select(col("user_id").as("t_user"), unix_micros(col("ts")).as("t_ts"))
    val touched = p.join(t, col("p_user") === col("t_user") &&
        col("t_ts") < col("p_ts") && col("t_ts") >= col("p_ts") - lit(259200000000L))
      .select(col("p_id"), col("v")).distinct()
    val totalTouched = touched.agg(sum(col("v"))).head.getDouble(0)
    assert(credited <= totalTouched + 1e-6)
    // loss is < 1e-6 dollars per touch row (floor division drops < 1 of 1e-8 units per touch)
    val nTouches = res.map(_.getLong(1)).sum
    assert(credited >= totalTouched - nTouches * 1e-6 - 1e-6)
  }

  test("q_skew_report: percentiles match a brute-force sort of the group sizes") {
    val row = Curation.queries("q_skew_report")(spark, sf0001).head
    val sizes = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_orderkey")).count()
      .collect().map(_.getLong(1)).sorted
    val nKeys = sizes.length.toLong
    // p_q = smallest size covering ceil(q * n_keys) keys = the
    // ceil(q*n)-th order statistic (1-indexed) of the sorted sizes
    def pct(num: Long, den: Long): Long =
      sizes(((num * nKeys + den - 1) / den).toInt - 1)
    assert(row.getLong(0) == nKeys)
    assert(row.getLong(1) == sizes.sum)
    assert(row.getLong(2) == sizes.last)
    assert(row.getLong(3) == pct(1, 2), "p50")
    assert(row.getLong(4) == pct(9, 10), "p90")
    assert(row.getLong(5) == pct(99, 100), "p99")
    assert(row.getLong(6) == 100 * sizes.last / pct(1, 2), "skew_x100")
  }

  test("pipe_export_shards: manifest covers the whole corpus; shard reads prune partitions") {
    val manifest = SparkEntry.queries("pipe_export_shards")(spark, sf0001).collect()
    val docs = Tables.documents(spark, sf0001)
    // completeness: shard doc counts sum to the corpus, id range sane
    assert(manifest.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(manifest.map(_.getAs[Long]("total_chars")).sum ==
      docs.agg(sum(col("n_chars"))).collect()(0).getLong(0))
    // every shard id in [0, 8)
    assert(manifest.map(_.getAs[Long]("shard")).toSet.subsetOf((0L until 8L).toSet))
    // a one-shard read prunes at the partition level of the real export
    val t = graft.operators.Curation.ExportFixture.tableName(spark, sf0001)
    val one = graft.operators.Artifacts.wh.read(spark, t)
      .filter(col("shard") === 3)
    val scan = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("shard")),
      s"expected a shard partition filter, got: ${scan.partitionFilters}")
    val m3 = manifest.find(_.getAs[Long]("shard") == 3L)
    assert(one.count() == m3.map(_.getAs[Long]("n_docs")).getOrElse(0L))
  }

  test("pipe_warehouse_maintain: a second idle pass over all eleven real lakes acts on nothing and launches no Spark job") {
    import graft.streaming.StreamRunner
    val p = Curation.WarehouseMaintFixture.build(spark, sf0001)
    val wh = Curation.WarehouseMaintFixture.wh
    val lakes = Seq[(String, String, String, () => Int)](
      ("semantic", s"${p}_sem", s"${p}_sem_serve",
        () => StreamRunner.compactSemantic(spark, wh, s"${p}_sem")),
      ("dedup_corpus", s"${p}_ddc", s"${p}_ddc_serve",
        () => StreamRunner.compactCorpus(spark, wh, s"${p}_ddc")),
      ("dedup_sigs", s"${p}_ddc_sigs", s"${p}_ddc_sigs_serve",
        () => StreamRunner.compactDedupIndex(spark, wh, s"${p}_ddc")._1),
      ("dedup_hashes", s"${p}_ddc_hashes", s"${p}_ddc_hashes_serve",
        () => wh.currentVersion(s"${p}_ddc_hashes_serve").getOrElse(0)),
      ("dedup_stats", s"${p}_ddc_stats", s"${p}_ddc_stats_serve",
        () => StreamRunner.compactStats(spark, wh, s"${p}_ddc")),
      ("postings", s"${p}_lex_postings", s"${p}_lex_postings_serve",
        () => StreamRunner.compactPostings(spark, wh, s"${p}_lex")._1),
      ("doclen", s"${p}_lex_doclen", s"${p}_lex_doclen_serve",
        () => wh.currentVersion(s"${p}_lex_doclen_serve").getOrElse(0)),
      ("ivf", s"${p}_ivf", s"${p}_ivf_serve",
        () => StreamRunner.compactIvf(spark, wh, s"${p}_ivf")),
      ("perceptual", s"${p}_pimg_sigs", s"${p}_pimg_sigs_serve",
        () => StreamRunner.compactPerceptual(spark, wh, s"${p}_pimg")),
      ("frontier_records", s"${p}_fr_records", s"${p}_fr_records_serve",
        () => StreamRunner.compactFrontier(spark, wh, s"${p}_fr")._1),
      ("frontier_settled", s"${p}_fr_settled", s"${p}_fr_settled_serve",
        () => wh.currentVersion(s"${p}_fr_settled_serve").getOrElse(0)))
    QueryRun.watch(spark) { c =>
      val acts = StreamRunner.maintainLakes(spark, wh, lakes)
      val jobs = c.total.jobs
      assert(jobs == 0,
        s"an idle warehouse-wide pass must launch no Spark job, saw $jobs")
      assert(acts.forall(a => !a._2 && a._3 == 0L && a._4 == 0L),
        s"an idle pass must act on nothing: $acts")
    }
  }
}
