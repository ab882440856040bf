package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.operators.TextAnalysis

/** PII detection/redaction semantics pinned on the planted fixture: valid
  * forms are found, decoys (no-TLD email, >255 first octet, short phone)
  * are rejected by the validation the regexes alone can't do, and the
  * redacted text is clean — re-running detection on it finds nothing.
  */
class PiiSpec extends SparkSuiteBase {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  private def docsFor(ids: Seq[Long]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        ids.map(i => Row(i, s"plain words $i", s"src${i % 3}"))), schema)

  private def perDoc(docs: DataFrame): DataFrame = TextAnalysis.piiPerDoc(docs)

  test("plant classes: counts follow the doc_id arithmetic, decoys rejected") {
    val rows = perDoc(docsFor(0L until 60L))
      .select(col("doc_id"), col("n_email"), col("n_ip_cand"),
        col("n_ip_valid"), col("n_phone"))
      .orderBy(col("doc_id")).collect()
    for (r <- rows) {
      val id = r.getLong(0)
      val expEmail = if (id % 6 == 0) 2L else if (id % 3 == 0) 1L else 0L
      assert(r.getLong(1) === expEmail, s"n_email doc $id")
      assert(r.getLong(2) === 1L, s"n_ip_cand doc $id")
      val expIp = if ((id * 7) % 300 <= 255) 1L else 0L
      assert(r.getLong(3) === expIp, s"n_ip_valid doc $id")
      val expPhone = if (id % 4 == 0) 1L else 0L
      assert(r.getLong(4) === expPhone, s"n_phone doc $id")
    }
    // the first-octet decoy actually occurs in this id range
    assert(rows.exists(r => r.getLong(3) == 0L))
  }

  test("redacted text is clean: re-detection finds zero matches of any class") {
    val red = perDoc(docsFor(0L until 60L))
      .select(col("doc_id"),
        size(regexp_extract_all(col("redacted"),
          lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit(0))).as("e"),
        size(regexp_extract_all(col("redacted"),
          lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"), lit(0))).as("i"),
        size(regexp_extract_all(col("redacted"),
          lit("\\+1-\\d{3}-\\d{3}-\\d{4}"), lit(0))).as("p"))
      .collect()
    for (r <- red) {
      assert(r.getInt(1) === 0, s"email residue doc ${r.getLong(0)}")
      assert(r.getInt(2) === 0, s"ip residue doc ${r.getLong(0)}")
      assert(r.getInt(3) === 0, s"phone residue doc ${r.getLong(0)}")
    }
  }

  test("redaction preserves surrounding text and decoy forms verbatim") {
    val r = perDoc(docsFor(Seq(7L))).select(col("redacted")).head.getString(0)
    // doc 7: %3=1 no-TLD email decoy stays; ip 49.91.21.77 redacted;
    // %4!=0 phone decoy stays; %5=2 no card; %7=0 valid SSN redacted
    assert(r === "plain words 7 contact user7@exhost from <IP> call ext 7" +
      " pay none id <SSN>")
  }

  test("card classes: Luhn separates the valid plant from the shifted-check decoy") {
    val rows = perDoc(docsFor(0L until 60L))
      .select(col("doc_id"), col("n_card_cand"), col("n_card_valid"),
        col("redacted")).orderBy(col("doc_id")).collect()
    for (r <- rows) {
      val id = r.getLong(0)
      val expCand = if (id % 5 <= 1) 1L else 0L
      assert(r.getLong(1) === expCand, s"n_card_cand doc $id")
      assert(r.getLong(2) === (if (id % 5 == 0) 1L else 0L), s"n_card_valid doc $id")
      if (id % 5 == 0)
        assert(r.getString(3).contains("<CARD>"), s"valid card not redacted doc $id")
      if (id % 5 == 1) {
        // the Luhn-invalid decoy is NOT PII — it must stay, digits intact
        assert(!r.getString(3).contains("<CARD>"), s"decoy redacted doc $id")
        assert(r.getString(3).matches(".*\\d{4} \\d{4} \\d{4} \\d{4}.*"),
          s"decoy digits missing doc $id")
      }
    }
  }

  test("ssn classes: invalid area/group ranges are rejected, valid redacted") {
    val rows = perDoc(docsFor(0L until 56L))
      .select(col("doc_id"), col("n_ssn_cand"), col("n_ssn_valid"),
        col("redacted")).orderBy(col("doc_id")).collect()
    for (r <- rows) {
      val id = r.getLong(0)
      assert(r.getLong(1) === (if (id % 7 <= 3) 1L else 0L), s"n_ssn_cand doc $id")
      assert(r.getLong(2) === (if (id % 7 == 0) 1L else 0L), s"n_ssn_valid doc $id")
      if (id % 7 == 0)
        assert(r.getString(3).contains("<SSN>"), s"valid ssn not redacted doc $id")
      if (id % 7 >= 1 && id % 7 <= 3)
        assert(r.getString(3).matches(".*\\d{3}-\\d{2}-\\d{4}.*"),
          s"invalid-range decoy missing doc $id")
    }
  }

  test("no VALID card or ssn survives in the redacted text") {
    // re-run the validation-gated detection ON the redacted text: every
    // candidate that remains must FAIL its checksum/range rule
    val redocs = perDoc(docsFor(0L until 70L))
      .select(col("doc_id"), col("redacted").as("text"))
    val counts = redocs
      .withColumn("card_cands", regexp_extract_all(col("text"),
        lit("\\b\\d{4} \\d{4} \\d{4} \\d{4}\\b"), lit(0)))
      .withColumn("n_valid_card", size(expr(
        """filter(card_cands, c -> aggregate(sequence(1, 16), 0, (acc, i) ->
          |  acc + (CASE WHEN i % 2 = 1
          |    THEN IF(2 * CAST(substring(replace(c, ' ', ''), i, 1) AS INT) > 9,
          |            2 * CAST(substring(replace(c, ' ', ''), i, 1) AS INT) - 9,
          |            2 * CAST(substring(replace(c, ' ', ''), i, 1) AS INT))
          |    ELSE CAST(substring(replace(c, ' ', ''), i, 1) AS INT) END)
          |  ) % 10 = 0)""".stripMargin)))
      .withColumn("ssn_cands", regexp_extract_all(col("text"),
        lit("\\b\\d{3}-\\d{2}-\\d{4}\\b"), lit(0)))
      .withColumn("n_valid_ssn", size(expr(
        """filter(ssn_cands, c ->
          |  CAST(substring(c, 1, 3) AS INT) NOT IN (0, 666)
          |  AND CAST(substring(c, 1, 3) AS INT) < 900
          |  AND CAST(substring(c, 5, 2) AS INT) > 0
          |  AND CAST(substring(c, 8, 4) AS INT) > 0)""".stripMargin)))
      .agg(sum(col("n_valid_card")), sum(col("n_valid_ssn"))).head
    assert(counts.getLong(0) === 0L, "valid card residue")
    assert(counts.getLong(1) === 0L, "valid ssn residue")
  }

  test("redaction is boundary-aware: a valid card embedded in a longer digit run stays") {
    // doc 0's valid plant is "1234 5678 9012 3452" (dj(j) = j % 10,
    // Luhn check digit 2). The text carries that exact string EMBEDDED in
    // a longer digit run (9…9 on both sides): the \b-anchored candidate
    // regex never matches there, so redaction must not rewrite it either —
    // a plain substring replace would have produced "9<CARD>9".
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(0L, "x 91234 5678 9012 34529 y", "src0"))), schema)
    val r = perDoc(docs)
      .select(col("n_card_cand"), col("n_card_valid"), col("redacted")).head
    assert(r.getLong(0) === 1L, "embedded run must not become a candidate")
    assert(r.getLong(1) === 1L)
    val red = r.getString(2)
    assert(red.contains("x 91234 5678 9012 34529 y"),
      "embedded digit run must survive verbatim")
    assert(red.contains("pay <CARD> id"),
      "the boundary-anchored plant must still be scrubbed")
  }

  test("audit rollup: docs_multi counts docs with >=2 distinct classes") {
    val docs = docsFor(0L until 24L)
    val per = perDoc(docs)
      .select(col("doc_id"), col("n_email"), col("n_ip_valid"), col("n_phone"))
      .collect()
    val expMulti = per.count { r =>
      Seq(r.getLong(1) > 0, r.getLong(2) > 0, r.getLong(3) > 0).count(identity) >= 2
    }
    val gotMulti = perDoc(docs)
      .groupBy(col("source"))
      .agg(sum(when(
        (when(col("n_email") > 0, 1).otherwise(0) +
          when(col("n_ip_valid") > 0, 1).otherwise(0) +
          when(col("n_phone") > 0, 1).otherwise(0)) >= 2, 1L)
        .otherwise(0L)).as("docs_multi"))
      .agg(sum(col("docs_multi"))).head.getLong(0)
    assert(gotMulti === expMulti.toLong)
    assert(expMulti > 0)
  }

  test("txt_pii_scrub: no exchange sits above the pushed-down sort in the executed plan") {
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = SparkEntry.queries("txt_pii_scrub")(spark, sf0001)
    val ids = df.collect().map(_.getLong(0)).toSeq
    assert(ids.nonEmpty && ids == ids.sorted, "output must arrive in doc_id order")
    // the final AQE plan (stages unwrapped), walked from the root down
    // to the global sort
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def exchangesAbove(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: SortExec if s.global => Nil
      case e: Exchange => e +: unwrap(e).flatMap(exchangesAbove)
      case other => unwrap(other).flatMap(exchangesAbove)
    }
    def globalSorts(p: SparkPlan): Seq[SortExec] = p match {
      case s: SortExec if s.global => s +: unwrap(s).flatMap(globalSorts)
      case other => unwrap(other).flatMap(globalSorts)
    }
    val plan = df.queryExecution.executedPlan
    val sorts = globalSorts(plan)
    assert(sorts.size == 1, s"expected one global sort, got ${sorts.size}")
    assert(sorts.head.sortOrder.map(_.child.toString).exists(_.contains("doc_id")))
    val above = exchangesAbove(plan)
    assert(above.isEmpty, "an exchange above the doc_id sort breaks the " +
      s"ordered output: ${above.map(_.simpleStringWithNodeId()).mkString("; ")}")
  }
}
