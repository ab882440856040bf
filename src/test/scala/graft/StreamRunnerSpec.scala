package graft

import java.nio.file.{Files, Paths}

import graft.pipeline.Warehouse
import graft.streaming.StreamRunner
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming upsert into the date-partitioned warehouse: daily file drops
  * land as partition overwrites — the streaming form of the reference's
  * daily batch cadence with idempotent re-processing.
  */
class StreamRunnerSpec extends SparkSuiteBase {

  private val schema = StructType(Seq(
    StructField("ds", StringType),
    StructField("keyword", StringType),
    StructField("n", LongType)))

  test("daily drops upsert their date partition; re-drop of a day replaces it") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("srl")
    val wh = new Warehouse(tmpDir("srw"))
    val ckpt1 = tmpDir("src1")

    def drop(file: String, rows: Seq[(String, String, Long)]): Unit =
      Files.write(Paths.get(landing, file),
        rows.map { case (d, k, n) => s"""{"ds":"$d","keyword":"$k","n":$n}""" }
          .mkString("\n").getBytes("UTF-8"))

    def runOnce(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema).json(landing)
        .withColumn("keyword", upper(col("keyword")))
      val q = StreamRunner.upsertToWarehouse(
        stream, wh, "daily_keywords", "ds", ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }

    drop("day1.jsonl", Seq(("2021-03-10", "spark", 5L), ("2021-03-10", "scala", 3L)))
    runOnce(ckpt1)
    drop("day2.jsonl", Seq(("2021-03-11", "flink", 2L)))
    runOnce(ckpt1)

    val afterTwo = wh.read(spark, "daily_keywords")
      .select(col("ds").cast("string"), col("keyword"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(afterTwo == Set(
      ("2021-03-10", "SPARK", 5L), ("2021-03-10", "SCALA", 3L),
      ("2021-03-11", "FLINK", 2L)))

    // Re-processing from a fresh checkpoint (full replay of the landing dir)
    // rewrites the same partitions with the same contents — idempotent, no
    // double-append.
    runOnce(tmpDir("src2"))
    val afterReplay = wh.read(spark, "daily_keywords")
      .select(col("ds").cast("string"), col("keyword"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(afterReplay == afterTwo)
  }

  test("audited streaming upsert: passing batches publish, failing batches quarantine with reason") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("sal")
    val whRoot = tmpDir("saw")
    val wh = new Warehouse(whRoot)
    val ckpt = tmpDir("sac")

    def drop(file: String, rows: Seq[(String, String, Long)]): Unit =
      Files.write(Paths.get(landing, file),
        rows.map { case (d, k, n) => s"""{"ds":"$d","keyword":"$k","n":$n}""" }
          .mkString("\n").getBytes("UTF-8"))

    // audit body: the uniqueness + non-negative expectations a publish
    // gate would run (q_expectations_audit's rule shapes on the batch)
    def audit(df: org.apache.spark.sql.DataFrame): Option[String] = {
      val r = df.agg(
        count(lit(1)).as("n"),
        countDistinct(col("ds"), col("keyword")).as("nk"),
        sum(when(col("n") < 0, 1L).otherwise(0L)).as("neg")).collect()(0)
      if (r.getLong(0) != r.getLong(1)) Some("duplicate (ds, keyword) keys")
      else if (r.getLong(2) > 0) Some("negative counts")
      else None
    }

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).json(landing)
      val q = graft.streaming.StreamRunner.auditedUpsertToWarehouse(
        stream, wh, "gated_keywords", "ds", audit, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }

    drop("good.jsonl", Seq(("2021-03-10", "spark", 5L), ("2021-03-10", "scala", 3L)))
    runOnce()
    assert(wh.read(spark, "gated_keywords")
      .collect().length == 2, "passing batch must publish")

    // a replayed-upstream drop: duplicate keys AND a negative count
    drop("bad.jsonl", Seq(("2021-03-11", "flink", 2L), ("2021-03-11", "flink", 2L)))
    runOnce()
    val live = wh.read(spark, "gated_keywords")
      .select(col("ds").cast("string"), col("keyword"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(live == Set(("2021-03-10", "spark", 5L), ("2021-03-10", "scala", 3L)),
      "failing batch must leave live untouched")
    val quarantines = new java.io.File(whRoot).list()
      .filter(_.startsWith("__quarantine__gated_keywords")).toSeq
    assert(quarantines.size == 1, s"expected one quarantine table, got $quarantines")
    val qrows = wh.read(spark, quarantines.head).collect()
    assert(qrows.length == 2)
    assert(qrows.forall(_.getAs[String]("__reason") == "duplicate (ds, keyword) keys"))
    // no stage residue
    assert(!new java.io.File(whRoot).list().exists(_.startsWith("__stage__")))
  }

  test("streaming dedup ingest: exact within batch, near-dup vs corpus index, index advances only on publish") {
    import graft.operators.Dedup
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("ddl")
    val whRoot = tmpDir("ddw")
    val wh = new Warehouse(whRoot)
    val ckpt = tmpDir("ddc")
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val u1 = "completely different content about spark streaming state stores here"
    val t1near = t1 + " plus some extra trailing words"
    val u2 = "unrelated text covering ivf ingest cell partition upsert gates"

    def drop(file: String, rows: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, file),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes("UTF-8"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def audit(df: org.apache.spark.sql.DataFrame): Option[String] =
      if (df.filter(col("text").contains("POISON")).count() > 0)
        Some("poison batch") else None
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docSchema).json(landing)
      val q = StreamRunner.dedupIngestToWarehouse(
        stream, wh, "corpus", audit, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }

    // batch 0: docs 1 and 3 are byte-identical (exact stage keeps min id),
    // 2 unique — and doc 2's ROW appears twice in the same micro-batch
    // (the same WARC record landing in two files of one trigger): exactly
    // one copy may publish. Doc 6 appears twice with DIFFERENT text (a
    // re-crawl changed the page within one trigger): the survivor must be
    // chosen deterministically (min content md5), because the publish job
    // and the signature-index jobs evaluate the plan independently.
    val v1 = "first crawl of the changed page body words"
    val v2 = "second crawl with different body content words"
    def md5hex(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expected6 = if (md5hex(v1) < md5hex(v2)) v1 else v2
    drop("drop1.jsonl", Seq((1L, t1), (3L, t1), (2L, u1), (2L, u1), (6L, v1), (6L, v2)))
    runOnce()
    val rows1 = wh.read(spark, "corpus").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val after1 = rows1.map(_._1).toSet
    assert(after1 == Set(1L, 2L, 6L), "exact within-batch dedup keeps the min-id canonical")
    assert(rows1.length == 3,
      "a doc_id appearing twice in one batch publishes exactly one row")
    assert(rows1.toMap.apply(6L) == expected6,
      "same-id different-text survivor must be the min-md5 copy (deterministic)")

    // batch 1: 11 is a byte-identical CROSS-batch dup (caught by the
    // near-dup engine against batch 0's persisted signatures), 13 a
    // near-dup, 12 unique
    drop("drop2.jsonl", Seq((11L, t1), (13L, t1near), (12L, u2)))
    runOnce()
    val corpus = wh.read(spark, "corpus")
    val after2 = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!after2.contains(11L), "cross-batch exact dup must drop via the near-dup index")
    // independent pin of the full survivor set: 11 (exact cross-batch dup)
    // and 13 (near-dup of batch-0's doc 1) drop; 12 survives
    assert(after2 == Set(1L, 2L, 6L, 12L))
    // recomposition parity: batch 1's survivors == its exact-stage docs
    // minus exactly what the AUDITED batch engine matches against the
    // batch-0 index partitions
    import spark.implicits._
    val b2docs = Seq((11L, t1), (13L, t1near), (12L, u2)).toDF("doc_id", "text")
    val matched = Dedup.incrementalMatches(
        Dedup.shinglesOf(b2docs),
        wh.read(spark, "corpus_sigs").filter(col("ingest_batch") === 0),
        wh.read(spark, "corpus_hashes").filter(col("ingest_batch") === 0)
          .select(col("doc_id"), col("h")))
      .select("doc_new").collect().map(_.getLong(0)).toSet
    assert(matched.contains(11L))
    assert(after2 == after1 ++ (Set(11L, 12L, 13L) -- matched),
      "streamed survivors must equal the batch engine's decision exactly")
    // the index advanced: every corpus doc's signatures are present
    val sigDocs = wh.read(spark, "corpus_sigs").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(sigDocs == after2)

    // batch 2 fails the audit: quarantined, corpus AND index untouched
    drop("drop3.jsonl", Seq((21L, "POISON marker text stays out of the corpus")))
    runOnce()
    assert(wh.read(spark, "corpus").select("doc_id").collect()
      .map(_.getLong(0)).toSet == after2)
    assert(wh.read(spark, "corpus_sigs").select("doc_id").collect()
      .map(_.getLong(0)).toSet == sigDocs, "index must only advance on publish")
    val qdir = new java.io.File(whRoot).list().find(_.startsWith("__quarantine__corpus"))
    assert(qdir.isDefined)
    assert(wh.read(spark, qdir.get).collect()
      .forall(_.getAs[String]("__reason") == "poison batch"))
  }

  test("streaming dedup ingest: same-batch-id replay keeps a same-batch near-dup PAIR intact") {
    // the at-least-once hazard: a batch containing near-dups A and B
    // (different md5, jaccard >= 0.5) publishes, the writer dies before
    // the checkpoint offset commits, and the SAME batch id re-runs with
    // A's and B's signatures already in the index. The corpus side must
    // exclude the replaying batch's own partitions or A matches B and
    // both are permanently dropped.
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("ddr")
    val wh = new Warehouse(tmpDir("ddrw"))
    val t1 = "the quick brown fox jumps over the lazy dog today"
    Files.write(Paths.get(landing, "drop.jsonl"),
      Seq((101L, t1), (102L, t1 + " plus some extra trailing words"),
        (103L, "entirely unrelated content for the control document here"))
        .map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
        .mkString("\n").getBytes("UTF-8"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def runOnce(ckpt: String): Unit = {
      val q = StreamRunner.dedupIngestToWarehouse(
        spark.readStream.schema(docSchema).json(landing),
        wh, "corpus", _ => None, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    runOnce(tmpDir("ddrc1"))
    val first = wh.read(spark, "corpus").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(first == Set(101L, 102L, 103L),
      "within-batch near-dups survive (within-batch dedup is exact-only)")
    // a fresh checkpoint over the same single file re-runs batch id 0 —
    // exactly the replay shape — with the index already populated
    runOnce(tmpDir("ddrc2"))
    val replayed = wh.read(spark, "corpus").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(replayed == first,
      "replay must not drop the near-dup pair against its own prior index rows")
  }

  test("streaming dedup ingest maintains the per-source stats lake additively and idempotently") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("dsl")
    val whRoot = tmpDir("dsw")
    val wh = new Warehouse(whRoot)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    def drop(file: String, rows: Seq[(Long, String, String)]): Unit =
      Files.write(Paths.get(landing, file),
        rows.map { case (id, t, src) =>
          s"""{"doc_id":$id,"text":"$t","source":"$src"}""" }
          .mkString("\n").getBytes("UTF-8"))
    def audit(df: org.apache.spark.sql.DataFrame): Option[String] =
      if (df.filter(col("text").contains("poison")).count() > 0)
        Some("poison batch") else None
    def runOnce(ckpt: String): Unit = {
      val q = StreamRunner.dedupIngestToWarehouse(
        spark.readStream.schema(docSchema).json(landing),
        wh, "corpus", audit, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    val t1 = "the quick brown fox jumps over the lazy dog today"
    val ckpt = tmpDir("dsc")
    // batch 0: doc 2 is an exact dup of 1 (drops BEFORE stats — the lake
    // accounts survivors, not arrivals)
    drop("d1.jsonl", Seq((1L, t1, "web"), (2L, t1, "web"),
      (3L, "unrelated stream state store content here", "books")))
    runOnce(ckpt)
    def statsBySource: Map[String, (Long, Long, Long)] =
      wh.read(spark, "corpus_stats").groupBy(col("source"))
        .agg(sum(col("n_docs")).as("d"), sum(col("total_chars")).as("c"),
          sum(col("n_tokens_bpe")).as("t"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val after1 = statsBySource
    // the at-least-once replay shape (the existing same-batch-id rule): a
    // fresh checkpoint over the SAME single file re-runs batch id 0 with
    // the stats partition already written — the partition upsert must
    // rewrite, not double-count
    runOnce(tmpDir("dsc2"))
    assert(statsBySource == after1, "replay must not double-count stats")
    // batch 1: near-dup of doc 1 drops against the index; one new doc
    drop("d2.jsonl", Seq(
      (11L, t1 + " plus some extra trailing words", "web"),
      (12L, "second books document with different words entirely", "books")))
    runOnce(ckpt)
    // parity: lake sums == the same aggregation over the published corpus
    val bpe = expr(graft.operators.TextAnalysis.bpeTokenCountSql)
    def corpusBySource: Map[String, (Long, Long, Long)] =
      wh.read(spark, "corpus").groupBy(col("source"))
        .agg(count(lit(1)).cast("bigint").as("d"),
          sum(length(col("text")).cast("bigint")).as("c"),
          sum(bpe).cast("bigint").as("t"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val after2 = statsBySource
    assert(after2 == corpusBySource,
      "per-source lake sums must equal the published corpus aggregation")
    assert(after2("web")._1 == 1L && after2("books")._1 == 2L,
      "dropped duplicates must not be accounted")
    assert(wh.read(spark, "corpus_stats")
      .agg(sum(col("n_tainted"))).collect()(0).getLong(0) == 0L)
    // a quarantined batch contributes no stats partition
    drop("d3.jsonl", Seq((21L, "poison text that must stay out", "web")))
    runOnce(ckpt)
    assert(statsBySource == after2, "quarantined batches must not be accounted")
    // the taint counter rides the lake: a doc carrying a literal A-J is
    // counted (the serve-side BPE gate reads this instead of re-scanning)
    drop("d4.jsonl", Seq((31L, "Gopher words in mixed case content", "web")))
    runOnce(ckpt)
    assert(wh.read(spark, "corpus_stats")
      .agg(sum(col("n_tainted"))).collect()(0).getLong(0) == 1L)
  }

  test("streaming semantic ingest: exact within batch, blocked cosine drop vs the lake, replay-safe") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("sml")
    val wh = new Warehouse(tmpDir("smw"))
    val planes = Seq(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f), Array(1f, -1f))
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("label", StringType),
      StructField("embedding", ArrayType(FloatType))))
    def drop(file: String, rows: Seq[(Long, String, Seq[Float])]): Unit =
      Files.write(Paths.get(landing, file),
        rows.map { case (id, l, e) =>
          s"""{"vec_id":$id,"label":"$l","embedding":[${e.mkString(",")}]}""" }
          .mkString("\n").getBytes("UTF-8"))
    def audit(df: org.apache.spark.sql.DataFrame): Option[String] =
      if (df.filter(col("label") === "poison").count() > 0)
        Some("poison batch") else None
    def runOnce(ckpt: String): Unit = {
      val q = StreamRunner.semanticIngestToWarehouse(
        spark.readStream.schema(schema).json(landing), planes,
        wh, "semlake", audit, ckpt, Trigger.AvailableNow())
      q.awaitTermination()
    }
    val ckpt = tmpDir("smc")
    // batch 0: v2 is an exact (identical-embedding, same-label) dup of
    // v1 — min vec_id keeps 1; v4 is a SAME-BATCH semantic near-dup of
    // v1 (same (label, code) block, cos ≈ 0.99) and must SURVIVE
    // (within-batch dedup is exact-only — the text-ingest contract);
    // v3 is orthogonal; v5 carries v3's EXACT embedding under a
    // different label and must survive (exact collapse is
    // (label, embedding)-scoped, like every semantic stage)
    drop("e1.jsonl", Seq(
      (1L, "a", Seq(1f, 0f)), (2L, "a", Seq(1f, 0f)),
      (3L, "a", Seq(0f, 1f)), (4L, "a", Seq(0.9f, -0.1f)),
      (5L, "b", Seq(0f, 1f))))
    runOnce(ckpt)
    def lake: Map[Long, Long] =
      wh.read(spark, "semlake").select("vec_id", "ingest_batch").collect()
        .map(r => r.getLong(0) -> r.getAs[Number](1).longValue()).toMap
    val after1 = lake
    assert(after1.keySet == Set(1L, 3L, 4L, 5L),
      "same-label exact dup drops; cross-label identical vector survives; " +
        "same-batch semantic pair survives")
    // the at-least-once replay shape: a fresh checkpoint re-runs batch 0
    // with the lake already populated — v4 must NOT drop against its own
    // batch's previously-published rows (own-partition exclusion)
    runOnce(tmpDir("smc2"))
    assert(lake == after1,
      "replay must not drop a same-batch semantic pair against its own rows")
    // batch 1: v11 semantically duplicates v1 (same block, cos ≈ 1) and
    // drops; v12 is opposite-code and survives; v13 shares v1's CODE but
    // not its LABEL — blocking is (label, code), so it survives
    drop("e2.jsonl", Seq(
      (11L, "a", Seq(0.8f, -0.05f)), (12L, "a", Seq(-1f, 0f)),
      (13L, "b", Seq(0.85f, -0.08f))))
    runOnce(ckpt)
    val after2 = lake
    assert(after2.keySet == Set(1L, 3L, 4L, 5L, 12L, 13L),
      "cross-batch semantic dup drops; label blocks are respected")
    assert(after2(12L) == 1L && after2(13L) == 1L)
    // a quarantined batch leaves the lake untouched
    drop("e3.jsonl", Seq((21L, "poison", Seq(0.5f, 0.5f))))
    runOnce(ckpt)
    assert(lake == after2)
    assert(new java.io.File(wh.root).list()
      .exists(_.startsWith("__quarantine__semlake")))
  }

  test("stats-lake compaction: additive fold to one row per source; torn newest batch excluded") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("csw"))
    def docs(rows: Seq[(Long, String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t, s) => Row(i, t, s) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType))))
    StreamRunner.dedupPublishBatch(docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (3L, "unrelated stream state store content here", "books"))),
      0L, wh, "corpus", _ => None, 0.5)
    StreamRunner.dedupPublishBatch(docs(Seq(
      (11L, "entirely new web words for the second batch window", "web"))),
      1L, wh, "corpus", _ => None, 0.5)
    def liveAgg: Map[String, (Long, Long, Long)] =
      wh.read(spark, "corpus_stats").groupBy(col("source"))
        .agg(sum(col("n_docs")).as("d"), sum(col("total_chars")).as("c"),
          sum(col("n_tokens_bpe")).as("t"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val live = liveAgg
    // quiesced fold: every batch, one output row per source, sums equal
    // the same aggregation over the fragmented lake
    val v1 = StreamRunner.compactStats(spark, wh, "corpus")
    assert(v1 === 1, "first compaction commits generation 1")
    def snap(v: Int): Map[String, (Long, Long, Long, Long)] =
      wh.readVersion(spark, "corpus_stats_serve", Some(v))
        .collect().map(r => r.getAs[String]("source") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("total_chars"),
            r.getAs[Long]("n_tokens_bpe"), r.getAs[Long]("folded_thru")))).toMap
    val s1 = snap(v1)
    assert(s1.view.mapValues(v => (v._1, v._2, v._3)).toMap === live,
      "folded sums must equal the live-lake aggregation")
    // folded_thru is PER SOURCE: the newest batch that touched it (books
    // only appeared in batch 0); the snapshot-wide max is the global
    // fold boundary a delta reader would resume from
    assert(s1("web")._4 == 1L && s1("books")._4 == 0L,
      "folded_thru is each source's newest contributing batch id")
    // torn-publish guard: a stats partition from a batch that is the
    // NEWEST id (possibly still mid-write) must not be folded in under
    // quiesced = false — and since it is the ONLY id above the prior
    // watermark, the fold-forward has no trusted tail at all and keeps
    // generation 1 serving instead of churning an identical generation
    wh.partitionedUpsertWrite(
      wh.read(spark, "corpus_stats").limit(1)
        .withColumn("ingest_batch", lit(99L)).localCheckpoint(),
      "corpus_stats", Seq("ingest_batch"))
    val v2 = StreamRunner.compactStats(spark, wh, "corpus", quiesced = false)
    assert(v2 === 1,
      "an untrusted-only tail is a no-op: the prior generation keeps serving")
    assert(snap(1).view.mapValues(v => (v._1, v._2, v._3)).toMap === live,
      "the newest (possibly torn) batch is not folded in")
    // a single-batch history has nothing trustworthy to fold: no
    // snapshot commits and the previous generation keeps serving
    val wh2 = new Warehouse(tmpDir("csw1"))
    StreamRunner.dedupPublishBatch(docs(Seq(
      (1L, "one lonely batch of web words here", "web"))),
      0L, wh2, "corpus", _ => None, 0.5)
    assert(StreamRunner.compactStats(spark, wh2, "corpus",
      quiesced = false) === 0, "nothing committed: keep serving current")
    assert(wh2.currentVersion("corpus_stats_serve").isEmpty)
  }

  test("semantic-lake compaction: layout-only rewrite, code-pruned reads, torn newest excluded") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("smcw"))
    val planes = Seq(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f), Array(1f, -1f))
    def vecs(rows: Seq[(Long, String, Seq[Float])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, l, e) => Row(i, l, e) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("label", StringType),
        StructField("embedding", ArrayType(FloatType)))))
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (1L, "a", Seq(1f, 0f)), (3L, "a", Seq(0f, 1f)), (5L, "b", Seq(0f, 1f)))),
      0L, planes, wh, "semlake", _ => None, 0.25)
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (12L, "a", Seq(-1f, 0f)))),
      1L, planes, wh, "semlake", _ => None, 0.25)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.select(col("vec_id"), col("label"), col("code").cast("long"),
          col("ingest_batch").cast("long"))
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val live = rowsOf(wh.read(spark, "semlake"))
    val v1 = StreamRunner.compactSemantic(spark, wh, "semlake")
    assert(v1 === 1, "first compaction commits generation 1")
    assert(rowsOf(wh.readVersion(spark, "semlake_serve", Some(v1))) === live,
      "the snapshot is a layout-only rewrite: rows pass through unchanged")
    // the snapshot keeps code partitioning: a block-pruned read
    // directory-prunes on the code partition column
    val aCode = live.head._3
    val probe = wh.readVersion(spark, "semlake_serve", Some(v1))
      .filter(col("code") === aCode)
    val scan = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("code")),
      s"expected a code partition filter, got: ${scan.partitionFilters}")
    // torn-publish guard: the newest batch id (possibly mid-write) is
    // excluded under quiesced = false — and since it is the ONLY id
    // above the prior watermark, the fold-forward has no trusted tail
    // and keeps generation 1 serving instead of churning an identical
    // generation (the compactStats no-op rule, now shared)
    wh.partitionedUpsertWrite(
      wh.read(spark, "semlake").limit(1)
        .withColumn("ingest_batch", lit(99L)).localCheckpoint(),
      "semlake", Seq("code", "ingest_batch"))
    val v2 = StreamRunner.compactSemantic(spark, wh, "semlake",
      quiesced = false)
    assert(v2 === 1,
      "an untrusted-only tail is a no-op: the prior generation keeps serving")
    assert(rowsOf(wh.readVersion(spark, "semlake_serve", Some(v2))) === live,
      "the newest (possibly torn) batch must not be frozen into the snapshot")
    // an idle quiesced re-fold over an already-covered lake would also
    // only churn versions — no-op (the torn 99 row IS a real tail under
    // quiesced=true, so fold it first, then re-fold idle)
    val v2b = StreamRunner.compactSemantic(spark, wh, "semlake")
    assert(v2b === 2, "the now-trusted tail folds forward into generation 2")
    assert(StreamRunner.compactSemantic(spark, wh, "semlake") === 2,
      "an idle re-fold (no new batches) keeps the current generation")
    // a single-batch history: nothing trustworthy, keep serving current
    val wh2 = new Warehouse(tmpDir("smcw1"))
    StreamRunner.semanticPublishBatch(vecs(Seq((1L, "a", Seq(1f, 0f)))),
      0L, planes, wh2, "semlake", _ => None, 0.25)
    assert(StreamRunner.compactSemantic(spark, wh2, "semlake",
      quiesced = false) === 0)
    assert(wh2.currentVersion("semlake_serve").isEmpty)
  }

  test("hybrid stats serve: mid-stream snapshot + live tail, no loss, no double count") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("hyw"))
    def docs(rows: Seq[(Long, String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t, s) => Row(i, t, s) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType))))
    StreamRunner.dedupPublishBatch(docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (3L, "unrelated stream state store content here", "books"))),
      0L, wh, "c", _ => None, 0.5)
    StreamRunner.dedupPublishBatch(docs(Seq(
      (11L, "entirely new web words for the second batch window", "web"))),
      1L, wh, "c", _ => None, 0.5)
    // compact covers batches 0-1; batch 2 lands AFTER — only the tail
    // read can see it
    StreamRunner.compactStats(spark, wh, "c")
    StreamRunner.dedupPublishBatch(docs(Seq(
      (21L, "third batch books words arriving after the fold", "books"))),
      2L, wh, "c", _ => None, 0.5)
    def fullAgg: Map[String, (Long, Long)] =
      wh.read(spark, "c_stats").groupBy(col("source"))
        .agg(sum(col("n_docs")).as("d"), sum(col("n_tokens_bpe")).as("t"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def hybridAgg: Map[String, (Long, Long)] =
      StreamRunner.statsServeHybrid(spark, wh, "c")
        .select(col("source"), col("n_docs"), col("n_tokens_bpe"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(hybridAgg === fullAgg,
      "snapshot(0-1) + tail(2) must equal the whole-lake aggregation")
    // the quiesced=false coherence case: batch 2 is the (untrusted)
    // newest, so the fold-forward is a NO-OP — generation 1 keeps
    // serving and the serve stays whole via the tail read
    StreamRunner.compactStats(spark, wh, "c", quiesced = false)
    assert(hybridAgg === fullAgg,
      "a batch excluded from the fold as possibly-torn is re-read from the live tail")
    // and after a fully-quiesced re-fold the tail is empty but the
    // serve is unchanged
    StreamRunner.compactStats(spark, wh, "c")
    assert(hybridAgg === fullAgg)
  }

  test("stats fold-forward + vacuum: folded mass survives fragment GC; slack guards pinned readers") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("gcw"))
    def docs(rows: Seq[(Long, String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t, s) => Row(i, t, s) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType))))
    StreamRunner.dedupPublishBatch(docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (3L, "unrelated stream state store content here", "books"))),
      0L, wh, "c", _ => None, 0.5)
    StreamRunner.dedupPublishBatch(docs(Seq(
      (11L, "entirely new web words for the second batch window", "web"))),
      1L, wh, "c", _ => None, 0.5)
    def hybridAgg: Map[String, (Long, Long)] =
      StreamRunner.statsServeHybrid(spark, wh, "c")
        .select(col("source"), col("n_docs"), col("n_tokens_bpe"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(StreamRunner.compactStats(spark, wh, "c") === 1)
    val expected = hybridAgg
    // slack 1 with a single generation: nothing to vacuum
    assert(StreamRunner.gcStats(spark, wh, "c") === Nil)
    // slack 0 (maintenance window): folded fragments 0-1 go
    assert(StreamRunner.gcStats(spark, wh, "c", slackGenerations = 0) ===
      Seq(0L, 1L))
    assert(!wh.hasData("c_stats"),
      "the live lake is empty after a full vacuum")
    assert(hybridAgg === expected,
      "vacuumed mass must survive inside the snapshot")
    // batch 2 lands post-vacuum; fold-forward = snapshot + tail(2) —
    // a whole-lake refold would lose batches 0-1's mass forever
    StreamRunner.dedupPublishBatch(docs(Seq(
      (21L, "third batch books words arriving after the fold", "books"))),
      2L, wh, "c", _ => None, 0.5)
    val withTail = hybridAgg
    assert(StreamRunner.compactStats(spark, wh, "c") === 2)
    assert(hybridAgg === withTail,
      "fold-forward must carry the vacuumed batches' mass into generation 2")
    assert(wh.readVersion(spark, "c_stats_serve", Some(2))
      .agg(max(col("folded_thru"))).collect()(0).getLong(0) === 2L)
    // slack 1 now deletes only fragments covered by generation 1 — none
    // remain (vacuumed), so batch 2's fragment survives for a reader
    // pinned to generation 1
    assert(StreamRunner.gcStats(spark, wh, "c") === Nil)
    assert(wh.read(spark, "c_stats")
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(2L))
    // an idle re-fold (no new batches) is a no-op, not a version churn
    assert(StreamRunner.compactStats(spark, wh, "c") === 2)
    // non-quiesced fold-forward: the newest tail id is excluded
    StreamRunner.dedupPublishBatch(docs(Seq(
      (31L, "fourth batch web words for the torn window test", "web"))),
      3L, wh, "c", _ => None, 0.5)
    StreamRunner.dedupPublishBatch(docs(Seq(
      (41L, "fifth batch books words still in flight maybe", "books"))),
      4L, wh, "c", _ => None, 0.5)
    val v3 = StreamRunner.compactStats(spark, wh, "c", quiesced = false)
    assert(v3 === 3)
    assert(wh.readVersion(spark, "c_stats_serve", Some(v3))
      .agg(max(col("folded_thru"))).collect()(0).getLong(0) === 3L,
      "the possibly-mid-write newest batch stays out of the fold")
    assert(hybridAgg === {
      // hybrid must equal snapshot(folded 0-3) + tail(the excluded 4)
      val snap = wh.readVersion(spark, "c_stats_serve", Some(v3))
        .select(col("source"), col("n_docs"), col("n_tokens_bpe"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val tail = wh.read(spark, "c_stats").filter(col("ingest_batch") > 3L)
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("d"), sum(col("n_tokens_bpe")).as("t"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      (snap.keySet ++ tail.keySet).map { k =>
        val (a, b) = snap.getOrElse(k, (0L, 0L))
        val (c2, d2) = tail.getOrElse(k, (0L, 0L))
        k -> ((a + c2, b + d2))
      }.toMap
    }, "hybrid = non-quiesced snapshot + the excluded batch via the tail")
  }

  test("IVF lake compaction: cell-partitioned generation via the shared blocked-lake body") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("ivfcw"))
    def lakeRows(batch: Long, rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (v, c) => Row(v, c, batch) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("cell", LongType), StructField("ingest_batch", LongType))))
    wh.partitionedUpsertWrite(
      lakeRows(0L, Seq((10L, 1L), (11L, 2L))), "ivf", Seq("cell", "ingest_batch"))
    wh.partitionedUpsertWrite(
      lakeRows(1L, Seq((12L, 1L), (13L, 3L))), "ivf", Seq("cell", "ingest_batch"))
    val live = wh.read(spark, "ivf")
      .select(col("vec_id"), col("cell").cast("long"),
        col("ingest_batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val v = StreamRunner.compactIvf(spark, wh, "ivf")
    assert(v === 1)
    val snap = wh.readVersion(spark, "ivf_serve", Some(v))
      .select(col("vec_id"), col("cell").cast("long"),
        col("ingest_batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(snap === live, "rows pass through unchanged")
    // cell probes stay directory-pruned on the snapshot
    val scan = wh.readVersion(spark, "ivf_serve", Some(v))
      .filter(col("cell") === 1L)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head
    assert(scan.partitionFilters.exists(_.toString.contains("cell")),
      s"expected a cell partition filter, got: ${scan.partitionFilters}")
  }

  test("semantic lake bounded: ingest matches via snapshot+tail, vacuum keeps dedup whole, replay exclusion survives the fold") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("semgc"))
    val planes = Seq(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f), Array(1f, -1f))
    def vecs(rows: Seq[(Long, String, Seq[Float])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, l, e) => Row(i, l, e) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("label", StringType),
        StructField("embedding", ArrayType(FloatType)))))
    def lakeIds: Set[(Long, Long)] =
      StreamRunner.hybridLakeRead(spark, wh, "semlake", "semlake_serve")
        .select(col("vec_id"), col("ingest_batch").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (1L, "a", Seq(1f, 0f)), (3L, "b", Seq(0f, 1f)))),
      0L, planes, wh, "semlake", _ => None, 0.25)
    // fold + FULL vacuum (slack 0): batch 0's fragments now exist ONLY
    // inside the snapshot generation
    assert(StreamRunner.compactSemantic(spark, wh, "semlake") === 1)
    assert(StreamRunner.gcLake(spark, wh, "semlake", "semlake_serve",
      slackGenerations = 0) === Seq(0L))
    assert(!wh.hasData("semlake"), "live lake empty after full vacuum")
    assert(lakeIds === Set((1L, 0L), (3L, 0L)),
      "vacuumed rows must survive inside the snapshot")
    // batch 1: vec 12 duplicates vec 1 (cosine 1, same label+code) — it
    // must drop even though its match row lives only in the snapshot;
    // vec 14 is genuinely new and survives
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (12L, "a", Seq(2f, 0f)), (14L, "b", Seq(-1f, 0f)))),
      1L, planes, wh, "semlake", _ => None, 0.25)
    assert(lakeIds === Set((1L, 0L), (3L, 0L), (14L, 1L)),
      "cross-lake dup must drop against the SNAPSHOT after vacuum")
    // per-batch corpus read is ONE generation + the post-fold tail: the
    // live side of the hybrid read lists exactly the tail partitions
    assert(wh.read(spark, "semlake")
      .select(col("ingest_batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L),
      "live fragments after vacuum are exactly the post-fold tail")
    // replay exclusion survives the fold: re-running batch 1 must not
    // drop its own survivors against the previous attempt's rows (and
    // stays idempotent) — even after those rows are folded+vacuumed
    assert(StreamRunner.compactSemantic(spark, wh, "semlake") === 2)
    assert(StreamRunner.gcLake(spark, wh, "semlake", "semlake_serve",
      slackGenerations = 0) === Seq(1L))
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (12L, "a", Seq(2f, 0f)), (14L, "b", Seq(-1f, 0f)))),
      1L, planes, wh, "semlake", _ => None, 0.25)
    assert(lakeIds === Set((1L, 0L), (3L, 0L), (14L, 1L)),
      "a replayed batch converges bit-identically against the snapshot")
    // fold-forward after the replay: the rewritten batch-1 partition is
    // the tail (its id is NOT above the watermark... it equals it), so
    // an idle fold no-ops and the generation still carries every row
    assert(StreamRunner.compactSemantic(spark, wh, "semlake") === 2,
      "a tail at or below the watermark is already covered — no-op")
    assert(lakeIds === Set((1L, 0L), (3L, 0L), (14L, 1L)))
  }

  test("dedup index bounded: sigs/hashes fold + vacuum, next batch still drops near-dups via the snapshot") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("dedgc"))
    def docs(rows: Seq[(Long, String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t, s) => Row(i, t, s) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType))))
    StreamRunner.dedupPublishBatch(docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"))),
      0L, wh, "c", _ => None, 0.5)
    val (sv, hv) = StreamRunner.compactDedupIndex(spark, wh, "c")
    assert(sv === 1 && hv === 1)
    assert(StreamRunner.gcLake(spark, wh, "c_sigs", "c_sigs_serve",
      slackGenerations = 0) === Seq(0L))
    assert(StreamRunner.gcLake(spark, wh, "c_hashes", "c_hashes_serve",
      slackGenerations = 0) === Seq(0L))
    assert(!wh.hasData("c_sigs") && !wh.hasData("c_hashes"),
      "index live lakes empty after full vacuum")
    // batch 1: doc 11 is an exact near-dup of doc 1 (jaccard 1) whose
    // index rows now live only in the snapshots — it must still drop;
    // doc 13 is new and survives
    StreamRunner.dedupPublishBatch(docs(Seq(
      (11L, "the quick brown fox jumps over the lazy dog today", "web"),
      (13L, "entirely different second batch words landing here", "web"))),
      1L, wh, "c", _ => None, 0.5)
    assert(wh.read(spark, "c").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet === Set(1L, 13L),
      "near-dup must drop against the compacted index after vacuum")
    // the index invariant holds across fold+tail: one sig set per doc
    assert(StreamRunner.hybridLakeRead(spark, wh, "c_sigs", "c_sigs_serve")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L, 13L))
    // idle re-fold is a no-op; a real tail folds forward carrying the
    // vacuumed batch's rows
    assert(StreamRunner.compactDedupIndex(spark, wh, "c") === ((2, 2)))
    assert(StreamRunner.hybridLakeRead(spark, wh, "c_sigs", "c_sigs_serve")
      .select(col("doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet === Set(1L, 13L),
      "fold-forward must carry vacuumed batch 0 into generation 2")
    assert(StreamRunner.compactDedupIndex(spark, wh, "c") === ((2, 2)),
      "no new batches: both folds keep the current generation")
  }

  test("fold-forward guards: trusted-empty first fold commits nothing; an empty legacy snapshot reads as all-tail; vacuumed non-quiesced postings fold no-ops") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("ffguard"))
    def lake(batch: Long, ids: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_, batch))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("ingest_batch", LongType))))
    wh.partitionedUpsertWrite(lake(0L, Seq(1L, 2L)), "lk", Seq("ingest_batch"))
    // a trust rule that Rights an EMPTY tail with NO prior snapshot (the
    // non-quiesced compactFrontier shape where the only ledger-committed
    // batch published zero rows to this table): committing would freeze an
    // empty generation whose NULL watermark poisons every later read
    assert(StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
      t => Right(t.filter(col("doc_id") < 0L)), Nil) === 0)
    assert(wh.currentVersion("lk_serve").isEmpty,
      "an empty trusted tail over NO snapshot must not commit a generation")
    // recovery path for a legacy empty generation: the watermark reads
    // null-safe as "no batches covered — the whole live lake is tail"
    wh.versionedWrite(lake(0L, Nil), "lk_serve")
    assert(StreamRunner.hybridLakeRead(spark, wh, "lk", "lk_serve")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "an empty snapshot must serve the live lake as tail, not throw")
    // non-quiesced postings compaction after a FULL vacuum: the live index
    // tables are schema-less, so the committed-id probe must return empty
    // (keep current) instead of throwing on the vacuumed directories
    def postings(batch: Long, words: Seq[String]) = spark.createDataFrame(
      spark.sparkContext.parallelize(words.map(w => Row(w, 1L, 1L, 0L, batch))),
      StructType(Seq(StructField("word", StringType),
        StructField("doc_id", LongType), StructField("tf", LongType),
        StructField("wb", LongType), StructField("ingest_batch", LongType))))
    def doclen(batch: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L, batch))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("dl", LongType), StructField("ingest_batch", LongType))))
    wh.partitionedUpsertWrite(postings(0L, Seq("a", "b")), "ix_postings",
      Seq("wb", "ingest_batch"))
    wh.partitionedUpsertWrite(doclen(0L), "ix_doclen", Seq("ingest_batch"))
    assert(StreamRunner.compactPostings(spark, wh, "ix") === ((1, 1)))
    assert(StreamRunner.gcLake(spark, wh, "ix_postings",
      "ix_postings_serve", slackGenerations = 0) === Seq(0L))
    assert(StreamRunner.gcLake(spark, wh, "ix_doclen",
      "ix_doclen_serve", slackGenerations = 0) === Seq(0L))
    assert(!wh.hasData("ix_postings") && !wh.hasData("ix_doclen"))
    assert(StreamRunner.compactPostings(spark, wh, "ix", quiesced = false)
      === ((1, 1)),
      "vacuumed-empty live index lakes must keep the current generation")
  }

  test("persisted fold watermark: hybrid reads resolve the boundary from the sidecar with NO Spark job at plan time") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("thrumeta"))
    def lake(batch: Long, ids: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_, batch))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("ingest_batch", LongType))))
    wh.partitionedUpsertWrite(lake(0L, Seq(1L, 2L)), "lk", Seq("ingest_batch"))
    assert(StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
      t => Right(t), Nil) === 1)
    // the committed generation carries its watermark as a sidecar
    assert(wh.versionMeta("lk_serve", 1).get("thru") === Some("0"))
    wh.partitionedUpsertWrite(lake(1L, Seq(3L)), "lk", Seq("ingest_batch"))
    // constructing the hybrid read must launch NO job beyond the two
    // scans' own resolution (footer/listing) jobs: the watermark is a
    // metadata read, not a max(ingest_batch) scan of the snapshot —
    // measured DIFFERENTIALLY against constructing the two plain reads
    // (reading the counters flushes the listener bus first, so any
    // construction-time job is visible)
    def jobsDuring(body: => Unit): Long =
      QueryRun.watch(spark) { c => body; c.total.jobs }
    val baseline = jobsDuring {
      wh.readVersion(spark, "lk_serve", None)
      wh.read(spark, "lk"): Unit
    }
    var df: org.apache.spark.sql.DataFrame = null
    val hybridJobs = jobsDuring {
      df = StreamRunner.hybridLakeRead(spark, wh, "lk", "lk_serve")
    }
    assert(hybridJobs === baseline,
      s"hybrid construction must add no job beyond the scans' own setup " +
        s"(the old watermark scan): baseline=$baseline hybrid=$hybridJobs")
    assert(df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L), "snapshot + tail still serves every row")
    // the next fold extends the watermark monotonically, and the vacuum
    // boundary resolves from the sidecar too
    assert(StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
      t => Right(t), Nil) === 2)
    assert(wh.versionMeta("lk_serve", 2).get("thru") === Some("1"))
    assert(StreamRunner.gcLake(spark, wh, "lk", "lk_serve",
      slackGenerations = 0) === Seq(0L, 1L))
    assert(StreamRunner.hybridLakeRead(spark, wh, "lk", "lk_serve")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L), "vacuumed rows survive inside the snapshot")
    // an IDLE maintenance pass is metadata-only: the lake is folded and
    // vacuumed (no tail, nothing reclaimable), so the policy must
    // launch NO Spark job and report no actions
    val acts = QueryRun.watch(spark) { c =>
      val a = StreamRunner.maintainLakes(spark, wh, Seq(
        ("lk", "lk", "lk_serve",
          () => StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
            t => Right(t), Nil))))
      val jobs = c.total.jobs
      assert(jobs == 0,
        s"an idle maintenance pass must launch no Spark job, saw $jobs")
      a
    }
    assert(acts === Seq(("lk", false, 0L, 0L, 2L)),
      "idle pass: no fold, no vacuum, no prune, version kept")
    // LEGACY SELF-HEAL: strip the current generation's sidecar (a
    // pre-sidecar generation, or metadata lost in a copy that skips
    // underscore files) and land a live tail batch — the next hybrid
    // read must derive the watermark by scan (serving correctly) AND
    // backfill the sidecar, so the health view and every later read are
    // metadata-only again and vacuum eligibility is never permanently
    // starved. (A vacuumed-empty lake with no sidecar never needs the
    // heal: hybridLakeRead short-circuits to the snapshot and health
    // correctly reads zero live batches.)
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=2.meta").delete())
    assert(wh.versionMeta("lk_serve", 2).isEmpty)
    wh.partitionedUpsertWrite(lake(2L, Seq(4L)), "lk", Seq("ingest_batch"))
    assert(StreamRunner.hybridLakeRead(spark, wh, "lk", "lk_serve")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L, 4L),
      "the scan fallback must serve snapshot + tail with no double count")
    assert(wh.versionMeta("lk_serve", 2).get("thru") === Some("1"),
      "the derived watermark must be backfilled into the sidecar")
  }

  test("maintainLakes drives a REAL ingest lake: the semantic lake folds, vacuums, and keeps serving dedup through the policy pass") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("maintsem"))
    val planes = Seq(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f), Array(1f, -1f))
    def vecs(rows: Seq[(Long, String, Seq[Float])]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, l, e) => Row(i, l, e) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("label", StringType),
        StructField("embedding", ArrayType(FloatType)))))
    def lakeIds: Set[Long] =
      StreamRunner.hybridLakeRead(spark, wh, "sl", "sl_serve")
        .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val spec = Seq(("semantic", "sl", "sl_serve",
      () => StreamRunner.compactSemantic(spark, wh, "sl")))
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (1L, "a", Seq(1f, 0f)), (3L, "b", Seq(0f, 1f)))),
      0L, planes, wh, "sl", _ => None, 0.25)
    // one unfolded batch: below the fold threshold — the pass must
    // leave the real lake alone
    assert(StreamRunner.maintainLakes(spark, wh, spec)
      === Seq(("semantic", false, 0L, 0L, 0L)))
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (14L, "b", Seq(-1f, 0f)))),
      1L, planes, wh, "sl", _ => None, 0.25)
    // two unfolded batches: the pass folds through the lake's OWN body
    // (compactSemantic's code-blocked fold); 1 generation ≤ slack, so
    // no vacuum yet
    assert(StreamRunner.maintainLakes(spark, wh, spec)
      === Seq(("semantic", true, 0L, 0L, 1L)))
    // two more batches: the next pass folds to generation 2 AND the
    // same pass vacuums the leaves the slack boundary (generation 1,
    // thru = 1) already covers
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (16L, "a", Seq(0f, -1f)))),
      2L, planes, wh, "sl", _ => None, 0.25)
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (17L, "b", Seq(2f, 2f)))),
      3L, planes, wh, "sl", _ => None, 0.25)
    assert(StreamRunner.maintainLakes(spark, wh, spec)
      === Seq(("semantic", true, 2L, 0L, 2L)),
      "fold to gen 2, then vacuum batches 0-1 under the gen-1 boundary")
    assert(lakeIds === Set(1L, 3L, 14L, 16L, 17L))
    // the policy-maintained lake still serves INGEST-side dedup: a new
    // batch's duplicate (vec 21 ~ vec 1) must drop against rows that
    // now live only in the snapshot chain
    StreamRunner.semanticPublishBatch(vecs(Seq(
      (21L, "a", Seq(3f, 0f)), (23L, "b", Seq(0f, -1f)))),
      4L, planes, wh, "sl", _ => None, 0.25)
    assert(lakeIds === Set(1L, 3L, 14L, 16L, 17L, 23L),
      "dedup against the policy-maintained snapshot chain must hold")
  }

  test("maintainLakes backfills a sidecar-less boundary generation and unblocks the vacuum") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("maintlegacy"))
    def lake(batch: Long, ids: Seq[Long]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(Row(_, batch))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("ingest_batch", LongType))))
    def fold() = StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
      t => Right(t), Nil)
    wh.partitionedUpsertWrite(lake(0L, Seq(1L, 2L)), "lk", Seq("ingest_batch"))
    assert(fold() === 1)
    wh.partitionedUpsertWrite(lake(1L, Seq(3L)), "lk", Seq("ingest_batch"))
    assert(fold() === 2)
    // simulate a LEGACY boundary generation (committed before sidecars
    // existed): with slack=1 the vacuum boundary is generation 1, whose
    // missing sidecar made the health view read "not eligible" — and the
    // tail (zero unfolded batches) never reaches the fold threshold, so
    // the sidecar self-heal-on-fold never fires either
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=1.meta").delete())
    val acts = StreamRunner.maintainLakes(spark, wh,
      Seq(("lk", "lk", "lk_serve", () => fold())))
    assert(acts === Seq(("lk", false, 1L, 0L, 2L)),
      "the pass must backfill the boundary watermark and vacuum batch 0")
    assert(wh.versionMeta("lk_serve", 1).get("thru") === Some("0"),
      "the derived boundary watermark must persist as the sidecar")
    assert(StreamRunner.hybridLakeRead(spark, wh, "lk", "lk_serve")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L), "the healed lake still serves every row")
  }


  test("maintainLakes heals a sidecar-less stats boundary from folded_thru and vacuums it") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("maintstats"))
    def docs(rows: Seq[(Long, String, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, t, s) => Row(i, t, s) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("source", StringType))))
    StreamRunner.dedupPublishBatch(docs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "web"),
      (3L, "unrelated stream state store content here", "books"))),
      0L, wh, "c", _ => None, 0.5)
    assert(StreamRunner.compactStats(spark, wh, "c") === 1)
    StreamRunner.dedupPublishBatch(docs(Seq(
      (11L, "entirely new web words for the second batch window", "web"))),
      1L, wh, "c", _ => None, 0.5)
    assert(StreamRunner.compactStats(spark, wh, "c") === 2)
    def hybrid: Set[Row] = StreamRunner.statsServeHybrid(spark, wh, "c")
      .collect().toSet
    val before = hybrid
    // a stats generation carries its boundary as `folded_thru`, not
    // `ingest_batch`: the backfill must derive it from that column
    assert(new java.io.File(wh.tablePath("c_stats_serve"), "_v=1.meta").delete())
    val acts = StreamRunner.maintainLakes(spark, wh,
      Seq(("stats", "c_stats", "c_stats_serve",
        () => StreamRunner.compactStats(spark, wh, "c", quiesced = false))))
    assert(acts === Seq(("stats", false, 1L, 0L, 2L)),
      "the pass must backfill the boundary watermark and vacuum batch 0")
    assert(wh.versionMeta("c_stats_serve", 1).get("thru") === Some("0"),
      "the derived boundary watermark must persist as the sidecar")
    assert(wh.read(spark, "c_stats").select(col("ingest_batch").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSet === Set(1L))
    assert(hybrid === before, "the healed stats lake serves the same sums")
  }

  test("perceptual fold over a legacy unpartitioned, manifest-less base equals a fold from scratch") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val deltaSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("hash_hi", LongType), StructField("hash_lo", LongType),
      StructField("add_n", LongType), StructField("is_insert", BooleanType),
      StructField("ingest_batch", LongType)))
    // (doc_id, hash_hi, hash_lo, add_n, is_insert); hash_lo picks the
    // sb bucket (pmod 64): 1, 2, 3 and 6
    def delta(wh: Warehouse, t: String, b: Long,
        rows: Seq[(Long, java.lang.Long, Long, Long, Boolean)]): Unit =
      wh.partitionedUpsertWrite(spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (d, hi, lo, n, ins) =>
          Row(d, hi, lo, n, ins, b) }), deltaSchema), s"${t}_sigs",
        Seq("ingest_batch"))
    def view(wh: Warehouse, t: String): Set[(Long, Long, Long, Long, Long, Long)] =
      StreamRunner.perceptualSigsView(spark, wh, t).collect().map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("hash_hi"),
          r.getAs[Long]("hash_lo"), r.getAs[Long]("n_copies"),
          r.getAs[Long]("first_batch"), r.getAs[Long]("last_batch"))).toSet
    val batch2 = Seq[(Long, java.lang.Long, Long, Long, Boolean)](
      (5L, 50L, 65L, 1L, true), // new keeper in bucket 1
      (2L, null, 2L, 4L, false)) // count-add onto keeper 2, bucket 2
    val batch3 = Seq[(Long, java.lang.Long, Long, Long, Boolean)](
      (6L, 60L, 131L, 1L, true), // bucket 3
      (4L, null, 70L, 2L, false)) // bucket 6
    // the same history folded from scratch: deltas only
    val scratch = new Warehouse(tmpDir("plegacy_scratch"))
    delta(scratch, "lg", 0L, Seq((1L, 10L, 1L, 2L, true), (2L, 20L, 2L, 1L, true),
      (3L, 30L, 3L, 1L, true), (4L, 40L, 70L, 2L, true)))
    delta(scratch, "lg", 1L, Seq((4L, null, 70L, 1L, false)))
    delta(scratch, "lg", 2L, batch2)
    assert(StreamRunner.compactPerceptual(spark, scratch, "lg") === 1)
    // the legacy layout: batches 0-1 folded into ONE unpartitioned
    // generation with no `sb` column, no manifest and no sidecar
    val wh = new Warehouse(tmpDir("plegacy"))
    wh.versionedWrite(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, 10L, 1L, 2L, 0L, 0L), Row(2L, 20L, 2L, 1L, 0L, 0L),
      Row(3L, 30L, 3L, 1L, 0L, 0L), Row(4L, 40L, 70L, 3L, 0L, 1L))),
      StructType(Seq("doc_id", "hash_hi", "hash_lo", "n_copies",
        "first_batch", "last_batch").map(StructField(_, LongType)))),
      "lg_sigs_serve")
    delta(wh, "lg", 2L, batch2)
    val composed = view(wh, "lg")
    assert(composed === view(scratch, "lg"))
    assert(StreamRunner.compactPerceptual(spark, wh, "lg") === 2)
    assert(view(wh, "lg") === composed,
      "the fold keeps every legacy row, touched bucket or not")
    // the next fold carries partitions forward from the rewritten
    // generation and still agrees with the from-scratch lake
    delta(wh, "lg", 3L, batch3)
    delta(scratch, "lg", 3L, batch3)
    assert(StreamRunner.compactPerceptual(spark, wh, "lg") === 3)
    assert(StreamRunner.compactPerceptual(spark, scratch, "lg") === 2)
    assert(view(wh, "lg") === view(scratch, "lg"))
    assert(view(wh, "lg").size === 6)
  }

  test("in-loop maintenance cadence: the postings stream folds itself; idle ticks are metadata-only; replay cannot double-fold") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("cadl")
    val wh = new Warehouse(tmpDir("cadw"))
    val ckpt = tmpDir("cadc")
    def writeFile(name: String, ids: Seq[Int]): Unit =
      Files.write(Paths.get(landing, name),
        ids.map(i => s"""{"doc_id":$i,"text":"alpha beta w$i"}""")
          .mkString("\n").getBytes("UTF-8"))
    (0 to 3).foreach(b => writeFile(s"d$b.jsonl", Seq(b * 10, b * 10 + 1)))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def runStream(): Unit =
      StreamRunner.postingsIngestToWarehouse(
        spark.readStream.schema(docSchema)
          .option("maxFilesPerTrigger", 1).json(landing),
        wh, "cad", _ => None, ckpt, Trigger.AvailableNow(),
        maintainEvery = 2).awaitTermination()
    runStream()
    // tick@batch1 folded gen1 (thru=0: the trust rule holds back the
    // newest id); tick@batch3 folded gen2 (thru=2) AND vacuumed batch 0
    // under the gen1 boundary — the stream maintains ITSELF
    assert(wh.listVersions("cad_postings_serve") === Seq(1, 2))
    assert(wh.versionMeta("cad_postings_serve", 2).get("thru") === Some("2"))
    assert(wh.liveBatches("cad_postings") === Seq(1L, 2L, 3L),
      "batch 0's fragments were vacuumed by the in-loop pass")
    assert(wh.listVersions("cad_doclen_serve") === Seq(1, 2))
    // content parity: the hybrid read over the self-maintained lake
    // equals the batch-built index
    val served = StreamRunner.hybridLakeRead(
        spark, wh, "cad_postings", "cad_postings_serve")
      .select(col("word"), col("doc_id"), col("tf")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (0 to 3).flatMap(b => Seq(b * 10, b * 10 + 1)).flatMap(i =>
      Seq(("alpha", i.toLong, 1L), ("beta", i.toLong, 1L),
        (s"w$i", i.toLong, 1L))).toSet
    assert(served === expected)
    // an IDLE cadence tick (nothing foldable, nothing reclaimable) is
    // metadata-only — zero Spark jobs
    QueryRun.watch(spark) { c =>
      val acts = StreamRunner.maintainPostings(spark, wh, "cad")
      val jobs = c.total.jobs
      assert(jobs == 0, s"idle cadence tick must launch no job: $jobs")
      assert(acts.map(a => (a._1, a._2, a._3, a._4)) ===
        Seq(("postings", false, 0L, 0L), ("doclen", false, 0L, 0L)))
    }
    // REPLAY safety: re-running the stream over the same checkpoint
    // fires no batches and changes nothing; two more drops advance the
    // fold exactly once (no double-fold from the re-fired cadence)
    runStream()
    assert(wh.listVersions("cad_postings_serve") === Seq(1, 2))
    (4 to 5).foreach(b => writeFile(s"d$b.jsonl", Seq(b * 10, b * 10 + 1)))
    runStream()
    assert(wh.currentVersion("cad_postings_serve") === Some(3),
      "the tick at batch 5 folds exactly one new generation")
    assert(wh.versionMeta("cad_postings_serve", 3).get("thru") === Some("4"))
    assert(wh.liveBatches("cad_postings") === Seq(3L, 4L, 5L),
      "fragments stay bounded under continued ingest: ≤ tail + holdback")
  }

  test("lakeHealth census is the marker ledger: one legacy walk backfills, then no recursive listing ever runs again") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val deepScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val wh = new Warehouse(tmpDir("ledgerwh")) {
      override protected def scanLiveBatches(name: String): Seq[Long] = {
        deepScans.incrementAndGet()
        super.scanLiveBatches(name)
      }
    }
    def lake(batch: Long, rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, wb) => Row(id, wb, batch) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("wb", LongType), StructField("ingest_batch", LongType))))
    // a LEGACY blocked lake written without markers
    wh.partitionedUpsertWrite(lake(0L, Seq((1L, 0L), (2L, 1L))), "lk",
      Seq("wb", "ingest_batch"))
    wh.partitionedUpsertWrite(lake(1L, Seq((3L, 1L))), "lk",
      Seq("wb", "ingest_batch"))
    def health = StreamRunner.lakeHealth(wh, Seq(("lk", "lk", "lk_serve"))).head
    assert(health._2 === 2L && deepScans.get === 1,
      "the first census walks once and backfills the markers")
    assert(health._2 === 2L && deepScans.get === 1,
      "the second census is marker-only — no recursive walk")
    // a NOTING publisher keeps the ledger current without any walk
    wh.partitionedUpsertWrite(lake(2L, Seq((4L, 0L))), "lk",
      Seq("wb", "ingest_batch"))
    wh.noteLiveBatch("lk", 2L)
    assert(health._2 === 3L && deepScans.get === 1)
    // fold + vacuum: gcLake drops the vacuumed ids' markers with their
    // fragments, and the census tracks it — still without walking
    assert(StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
      t => Right(t), Seq("wb")) === 1)
    assert(StreamRunner.gcLake(spark, wh, "lk", "lk_serve",
      slackGenerations = 0) === Seq(0L, 1L, 2L))
    assert(health._2 === 0L && deepScans.get === 1,
      "a fully vacuumed lake reads zero live batches from markers alone")
  }

  test("partition-scoped fold: untouched partitions carry forward by manifest, prune keeps referenced carriers") {
    import org.apache.spark.sql.Row
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val wh = new Warehouse(tmpDir("pscope"))
    def lake(batch: Long, rows: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, wb) => Row(id, wb, batch) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("wb", LongType), StructField("ingest_batch", LongType))))
    def fold() = StreamRunner.foldForward(spark, wh, "lk", "lk_serve",
      t => Right(t), Seq("wb"))
    def logical(v: Option[Int] = None): Set[(Long, Long)] =
      wh.readVersion(spark, "lk_serve", v)
        .select(col("doc_id"), col("wb")).collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet
    def partDirs(v: Int): Set[String] =
      Option(new java.io.File(wh.tablePath("lk_serve"), s"_v=$v").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet

    // gen 1: full first fold over buckets {0,1,2}; manifest maps all -> 1
    wh.partitionedUpsertWrite(
      lake(0L, Seq((10L, 0L), (11L, 1L), (12L, 2L))), "lk",
      Seq("wb", "ingest_batch"))
    assert(fold() === 1)
    assert(partDirs(1) === Set("wb=0", "wb=1", "wb=2"))
    assert(wh.manifestOf("lk_serve", 1) ===
      Some(("wb", Map("0" -> 1, "1" -> 1, "2" -> 1))))

    // gen 2: a tail touching ONLY bucket 1 — _v=2 holds just wb=1;
    // wb=0 and wb=2 carry forward by reference; _v=1's dirs untouched
    val wb0Bytes = new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=0")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).toSeq
    wh.partitionedUpsertWrite(lake(1L, Seq((13L, 1L))), "lk",
      Seq("wb", "ingest_batch"))
    assert(fold() === 2)
    assert(partDirs(2) === Set("wb=1"),
      "only the tail-touched partition may be rewritten")
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=0")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.lastModified).toSeq
      === wb0Bytes, "carried partition files must be byte-identical (not rewritten)")
    assert(wh.manifestOf("lk_serve", 2) ===
      Some(("wb", Map("0" -> 1, "1" -> 2, "2" -> 1))))
    assert(logical() === Set((10L, 0L), (11L, 1L), (12L, 2L), (13L, 1L)),
      "the resolved generation is the whole logical lake")

    // resolving the manifest must launch NO job beyond the per-directory
    // scans' own setup — measured differentially against raw loads of
    // the same physical directories
    def jobsDuring(body: => Unit): Long =
      QueryRun.watch(spark) { c => body; c.total.jobs }
    val baseline = jobsDuring {
      spark.read.parquet(s"${wh.tablePath("lk_serve")}/_v=1")
      spark.read.parquet(s"${wh.tablePath("lk_serve")}/_v=2"): Unit
    }
    val resolved = jobsDuring { wh.readVersion(spark, "lk_serve", Some(2)): Unit }
    assert(resolved <= baseline,
      s"manifest resolution must add no Spark job: raw=$baseline resolved=$resolved")

    // vacuum composes: live fragments fold-covered by gen 2 are swept,
    // the resolved read stays whole
    assert(StreamRunner.gcLake(spark, wh, "lk", "lk_serve",
      slackGenerations = 0) === Seq(0L, 1L))
    assert(StreamRunner.hybridLakeRead(spark, wh, "lk", "lk_serve")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      === Set(10L, 11L, 12L, 13L))

    // gen 3 touches bucket 0; prune keep=2 drops gen 1 — but gen 1 is a
    // CARRIER (gen 3 still references wb=2 there): its referenced dir
    // must survive, its unreferenced dirs and _SUCCESS must go
    wh.partitionedUpsertWrite(lake(2L, Seq((14L, 0L))), "lk",
      Seq("wb", "ingest_batch"))
    assert(fold() === 3)
    assert(wh.manifestOf("lk_serve", 3) ===
      Some(("wb", Map("0" -> 3, "1" -> 2, "2" -> 1))))
    assert(wh.pruneVersions("lk_serve", keep = 2) === Seq(1))
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=2").exists(),
      "the referenced partition dir must survive the prune")
    assert(!new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=0").exists() &&
      !new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=1").exists(),
      "unreferenced partition dirs of a carrier are reclaimed")
    assert(!new java.io.File(wh.tablePath("lk_serve"), "_v=1/_SUCCESS").exists(),
      "a demoted carrier is no longer a committed, directly-readable version")
    assert(wh.listVersions("lk_serve") === Seq(2, 3))
    intercept[IllegalArgumentException] {
      wh.readVersion(spark, "lk_serve", Some(1))
    }
    assert(logical() === Set((10L, 0L), (11L, 1L), (12L, 2L), (13L, 1L), (14L, 0L)),
      "the current generation still resolves every carried partition")

    // a second prune must NOT sweep the carrier as debris while gen 3
    // still references it
    assert(wh.pruneVersions("lk_serve", keep = 2) === Seq.empty[Int])
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=2").exists())

    // gen 4 rewrites wb=2; prune drops gen 2 — still referenced by gen 4
    // (wb=1) -> demoted to a carrier. Gen 1 stays a carrier too: RETAINED
    // gen 3's manifest still references it for wb=2 (references die only
    // when every retained manifest stops mentioning the generation)
    wh.partitionedUpsertWrite(lake(3L, Seq((15L, 2L))), "lk",
      Seq("wb", "ingest_batch"))
    assert(fold() === 4)
    assert(wh.manifestOf("lk_serve", 4) ===
      Some(("wb", Map("0" -> 3, "1" -> 2, "2" -> 4))))
    assert(wh.pruneVersions("lk_serve", keep = 2) === Seq(2))
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=2/wb=1").exists())
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=1/wb=2").exists(),
      "retained gen 3 still references gen 1 — the carrier must survive")
    assert(logical() ===
      Set((10L, 0L), (11L, 1L), (12L, 2L), (13L, 1L), (14L, 0L), (15L, 2L)))

    // gen 5: after this prune the retained manifests (gen 4, gen 5) no
    // longer mention gen 1 anywhere — the expired carrier is reclaimed
    // as debris, while gen 3 (dropped but referenced for wb=0) demotes
    wh.partitionedUpsertWrite(lake(4L, Seq((16L, 1L))), "lk",
      Seq("wb", "ingest_batch"))
    assert(fold() === 5)
    assert(wh.manifestOf("lk_serve", 5) ===
      Some(("wb", Map("0" -> 3, "1" -> 5, "2" -> 4))))
    assert(wh.pruneVersions("lk_serve", keep = 2) === Seq(3))
    assert(!new java.io.File(wh.tablePath("lk_serve"), "_v=1").exists(),
      "an expired carrier must be swept once no retained manifest references it")
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=3/wb=0").exists(),
      "gen 3 demotes to a carrier for wb=0")
    assert(new java.io.File(wh.tablePath("lk_serve"), "_v=2/wb=1").exists(),
      "gen 2 stays a carrier — retained gen 4's manifest still maps wb=1 to it")
    assert(logical() === Set((10L, 0L), (11L, 1L), (12L, 2L), (13L, 1L),
      (14L, 0L), (15L, 2L), (16L, 1L)))
  }

  test("end-to-end crawl ingest: raw .warc.gz files -> extracted, deduplicated corpus with live index") {
    import graft.operators.Crawl.{GzipCodec, WarcCodec}
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("cwl")
    val wh = new Warehouse(tmpDir("cww"))
    val ckpt = tmpDir("cwc")
    def page(text: String) = s"<html><body><p>$text</p></body></html>"
    def responseMember(id: Long, text: String): (Option[String], Array[Byte]) =
      None -> WarcCodec.encode(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:$id>",
        "Content-Type" -> "text/html"), page(text).getBytes("UTF-8"))
    def requestMember(id: Long): (Option[String], Array[Byte]) =
      None -> WarcCodec.encode(Seq(
        "WARC-Type" -> "request",
        "WARC-Record-ID" -> s"<urn:graft:$id:req>"), s"GET /$id".getBytes)
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "completely different words in this second document body"
    val textC = "yet another unique page with its own content entirely"

    def runOnce(): Unit = {
      // path-based: file discovery streams metadata only; member bytes
      // stream through the warcgz source inside foreachBatch
      val q = StreamRunner.crawlIngestToWarehouse(
        spark, landing, wh, "crawl_corpus", _ => None, ckpt,
        Trigger.AvailableNow())
      q.awaitTermination()
    }
    // shard 1: two pages (with their request records interleaved)
    Files.write(Paths.get(landing, "shard-001.warc.gz"),
      GzipCodec.encodeMembers(Seq(
        requestMember(1), responseMember(1, textA),
        requestMember(2), responseMember(2, textB))))
    runOnce()
    val after1 = wh.read(spark, "crawl_corpus")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after1 == Map(1L -> textA, 2L -> textB),
      "extraction must recover the page text and record identity")
    // shard 2: doc 3 duplicates doc 1's page byte-for-byte (must drop via
    // the index), doc 4 is new; a foreign-id record is skipped
    Files.write(Paths.get(landing, "shard-002.warc.gz"),
      GzipCodec.encodeMembers(Seq(
        responseMember(3, textA),
        responseMember(4, textC),
        (None: Option[String]) -> WarcCodec.encode(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> "<urn:other:99>"), page("skipped").getBytes))))
    runOnce()
    val after2 = wh.read(spark, "crawl_corpus")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after2 == after1 + (4L -> textC),
      "the duplicate page drops against the index; the foreign record is skipped")
    // the index advanced with the survivors only
    assert(wh.read(spark, "crawl_corpus_sigs").select("doc_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("streaming IVF ingest: stream == batch assignment bit-for-bit across a 2-batch split; cell partitions prune") {
    import graft.plans.GraftExtensions
    GraftExtensions.ensureRegistered(spark)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("ivfl")
    val wh = new Warehouse(tmpDir("ivfw"))
    val ckpt = tmpDir("ivfc")

    val emb = Tables.embeddings(spark, sf0001)
    // frozen centroids: the sim_ivf_ingest seed set (vec_id 1..8)
    val centroids = emb.filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq.sortBy(_._1)
    // ingest set: the sim_ivf_ingest batch, landed as TWO jsonl files
    val ingest = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    assert(ingest.length > 4)
    def writeFile(name: String, rows: Seq[(Long, Seq[Float])]): Unit =
      Files.write(Paths.get(landing, name),
        rows.map { case (id, e) =>
          s"""{"vec_id":$id,"embedding":[${e.mkString(",")}]}"""
        }.mkString("\n").getBytes("UTF-8"))
    val (half1, half2) = ingest.partition(_._1 % 20 == 0)
    writeFile("drop1.jsonl", half1)
    writeFile("drop2.jsonl", half2)

    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val stream = spark.readStream.schema(embSchema)
      .option("maxFilesPerTrigger", 1) // force the 2-batch split
      .json(landing)
    val q = StreamRunner.ivfIngestToWarehouse(
      stream, centroids, wh, "ivf_lake",
      df => if (df.filter(col("embedding").isNull).count() > 0)
        Some("null embedding") else None,
      ckpt, Trigger.AvailableNow())
    q.awaitTermination()

    // batch twin: the sim_ivf_ingest broadcast-join + window argmax on the
    // SAME vectors — the streaming literal-projection must match it
    // bit-for-bit (same cosine doubles, same smaller-k tiebreak)
    import org.apache.spark.sql.expressions.Window
    val centDf = emb.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("k"), col("embedding").as("c_emb"))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
    val batchAssigned = emb.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(centDf))
      .withColumn("cs", call_function("graft_cosine", col("embedding"), col("c_emb")))
      .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getAs[Double]("cs"))).toMap

    val lake = wh.read(spark, "ivf_lake")
    val streamed = lake.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Number]("cell").longValue(), r.getAs[Double]("cs"))).toMap
    assert(streamed == batchAssigned,
      "streaming literal-centroid assignment must equal the batch argmax bit-for-bit")
    // both micro-batches landed under their own ingest_batch leaves
    assert(lake.select(col("ingest_batch")).distinct().count() == 2)

    // cell-partition pruning on the post-ingest read: a one-cell probe
    // must push a partition filter into the scan and touch only that
    // cell's directories
    val someCell = streamed.values.head._1
    val pruned = wh.read(spark, "ivf_lake").filter(col("cell") === someCell)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("cell")),
      s"expected a cell partition filter, got: ${scan.partitionFilters}")
    assert(pruned.collect().map(_.getAs[Long]("vec_id")).toSet ==
      streamed.filter(_._2._1 == someCell).keySet)
  }

  test("streaming postings ingest: streamed index serves BM25 equal to the live ranking; buckets prune") {
    import graft.operators.TextAnalysis
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("postl")
    val wh = new Warehouse(tmpDir("postw"))
    val ckpt = tmpDir("postc")

    // land the sf0.001 corpus as TWO jsonl drops (odd/even doc_id)
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        rows.map { case (id, t) =>
          val esc = t.replace("\\", "\\\\").replace("\"", "\\\"")
          s"""{"doc_id":$id,"text":"$esc"}"""
        }.mkString("\n").getBytes("UTF-8"))
    val (evens, odds) = docs.partition(_._1 % 2 == 0)
    writeFile("drop1.jsonl", evens)
    writeFile("drop2.jsonl", odds)

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema)
      .option("maxFilesPerTrigger", 1) // force the 2-batch split
      .json(landing)
    StreamRunner.postingsIngestToWarehouse(
      stream, wh, "lex",
      df => if (df.filter(col("doc_id").isNull).count() > 0)
        Some("null doc_id") else None,
      ckpt, Trigger.AvailableNow()).awaitTermination()

    val postings = wh.read(spark, "lex_postings")
    val doclen = wh.read(spark, "lex_doclen")
    // both micro-batches landed under their own ingest_batch leaves
    assert(postings.select("ingest_batch").distinct().count() == 2)

    // the streamed index must equal the batch-built index row-for-row
    val batchIndex = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(postings.select("word", "doc_id", "tf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == batchIndex)

    // SERVING parity: BM25 over the streamed index == the live ranking
    // (TextAnalysis.bm25Score is the exact scoring tail both forms share)
    val qterms = postings.filter(!col("word").isin(TextAnalysis.stop: _*))
      .groupBy(col("word")).agg(sum(col("tf")).as("cf"))
      .orderBy(desc("cf"), col("word")).limit(5).select(col("word"))
    val served = TextAnalysis.bm25Score(
      postings.join(broadcast(qterms), "word"),
      doclen.select(col("doc_id"), col("dl"))).collect()
    val live = SparkEntry.queries("txt_bm25_topk")(spark, sf0001).collect()
    assert(served.map(_.toSeq).toSeq == live.map(_.toSeq).toSeq,
      "index-served BM25 must equal the live ranking bit-for-bit")

    // term-bucket pruning: a single-term probe pushes a wb partition
    // filter and reads only that bucket's directories
    val term = qterms.head().getString(0)
    val probe = wh.read(spark, "lex_postings")
      .filter(col("wb") === expr(s"CAST(conv(substring(md5('$term'), 1, 1), 16, 10) AS BIGINT)"))
    val scan = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("wb")),
      s"expected a wb partition filter, got: ${scan.partitionFilters}")
  }

  test("postings compaction: fewer files, identical BM25, atomic versioned generations") {
    import graft.operators.TextAnalysis
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("pcl")
    val wh = new Warehouse(tmpDir("pcw"))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def writeFile(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(Paths.get(landing, name),
        rows.map { case (id, t) =>
          val esc = t.replace("\\", "\\\\").replace("\"", "\\\"")
          s"""{"doc_id":$id,"text":"$esc"}"""
        }.mkString("\n").getBytes("UTF-8"))
    val (evens, odds) = docs.partition(_._1 % 2 == 0)
    writeFile("drop1.jsonl", evens)
    writeFile("drop2.jsonl", odds)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    StreamRunner.postingsIngestToWarehouse(
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).json(landing),
      wh, "clex", _ => None, tmpDir("pcc"), Trigger.AvailableNow())
      .awaitTermination()

    def dataFiles(dir: java.io.File): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(k =>
          if (k.isDirectory) walk(k)
          else if (!k.getName.startsWith("_") && !k.getName.startsWith("."))
            Seq(k)
          else Nil)
      walk(dir)
    }
    val (pv, dv) = StreamRunner.compactPostings(spark, wh, "clex")
    assert((pv, dv) == (1, 1), "first compaction commits generation 1")
    val fragFiles = dataFiles(new java.io.File(wh.tablePath("clex_postings")))
    val servFiles = dataFiles(new java.io.File(
      s"${wh.tablePath("clex_postings_serve")}/_v=$pv"))
    assert(servFiles.size < fragFiles.size,
      s"compaction must shrink the file count (${fragFiles.size} -> ${servFiles.size})")
    // ~one file per term bucket: the layout a k-term probe opens O(1)
    // files per bucket against
    val nBuckets = spark.read.parquet(wh.tablePath("clex_postings"))
      .select("wb").distinct().count()
    assert(servFiles.size <= nBuckets,
      s"expected at most one file per wb bucket, got ${servFiles.size} for $nBuckets buckets")

    // serving parity: compacted == fragmented == live, row for row
    def bm25(postings: org.apache.spark.sql.DataFrame,
        doclen: org.apache.spark.sql.DataFrame) = {
      val qterms = postings.filter(!col("word").isin(TextAnalysis.stop: _*))
        .groupBy(col("word")).agg(sum(col("tf")).as("cf"))
        .orderBy(desc("cf"), col("word")).limit(5).select(col("word"))
      TextAnalysis.bm25Score(postings.join(broadcast(qterms), "word"),
        doclen.select(col("doc_id"), col("dl"))).collect().map(_.toSeq).toSeq
    }
    val compacted = bm25(wh.readVersion(spark, "clex_postings_serve", Some(pv)),
      wh.readVersion(spark, "clex_doclen_serve", Some(dv)))
    val fragmented = bm25(wh.read(spark, "clex_postings"),
      wh.read(spark, "clex_doclen"))
    val live = SparkEntry.queries("txt_bm25_topk")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    assert(compacted == fragmented, "compaction must not move a single row")
    assert(compacted == live, "compacted serving must equal the live ranking")

    // ingest continues against the fragmented lake; the PINNED generation
    // is untouched and the next compaction commits generation 2 over
    // everything accumulated by then
    val before = servFiles.map(f => f.getName -> f.lastModified).toSet
    writeFile("drop3.jsonl", Seq(9999001L -> "zzznew corpus words arriving"))
    StreamRunner.postingsIngestToWarehouse(
      spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).json(landing),
      wh, "clex", _ => None, tmpDir("pcc"), Trigger.AvailableNow())
      .awaitTermination()
    assert(dataFiles(new java.io.File(
      s"${wh.tablePath("clex_postings_serve")}/_v=$pv"))
      .map(f => f.getName -> f.lastModified).toSet == before,
      "ingest after compaction must not disturb the committed snapshot")
    val (pv2, _) = StreamRunner.compactPostings(spark, wh, "clex")
    assert(pv2 == 2)
    val gen2 = wh.readVersion(spark, "clex_postings_serve", Some(pv2))
    assert(gen2.filter(col("doc_id") === 9999001L).count() > 0,
      "the next generation folds in the post-compaction ingest")
  }

  test("streaming image ingest: exact + near dups dropped vs the live index, replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // payloads from the dhash fixture generator (decade slots: 8 is a
    // pixel-exact re-render of 0, 9 a one-cell edit of 1)
    val docSchema = StructType(Seq(StructField("doc_id", LongType)))
    def payloads(ids: Seq[Long]): Map[Long, Array[Byte]] = {
      val docs = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(Row(_))), docSchema)
      Multimodal.attachDhashMedia(docs).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    }
    val pay = payloads(Seq(0L, 1L, 2L, 8L, 9L, 20L, 28L, 21L))
    val wh = new Warehouse(tmpDir("imgingest"))
    val cp = tmpDir("imgingest_cp")
    val ms = MemoryStream[(Long, Array[Byte])]
    // batch 0: three distinct images
    ms.addData(Seq(0L, 1L, 2L).map(i => i -> pay(i)))
    val q = StreamRunner.imageIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "imgs", _ => None,
      cp, Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()
    assert(wh.read(spark, "imgs").count() === 3L)
    // batch 1 (SAME checkpoint — the continuation, so only the new data
    // forms the batch): 8 (exact dup of corpus 0), 9 (near dup of corpus
    // 1), 20 and 28 (28 hashes identically to 20 -> within-batch
    // collapse), 21 (new)
    ms.addData(Seq(8L, 9L, 20L, 28L, 21L).map(i => i -> pay(i)))
    val q2 = StreamRunner.imageIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "imgs", _ => None,
      cp, Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    val docs = wh.read(spark, "imgs").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(docs === Set(0L, 1L, 2L, 20L, 21L),
      s"8/9 near-dups and the 28 within-batch dup must drop, got $docs")
    // the signature index covers every survivor for the NEXT batch —
    // HASH-KEYED: one logical row per distinct surviving signature, with
    // the copy mass of everything merged into it (the LSM view composes
    // delta inserts + count-adds)
    val sigs = StreamRunner.perceptualSigsView(spark, wh, "imgs")
      .select(col("doc_id"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.keySet === Set(0L, 1L, 2L, 20L, 21L))
    // logical row count == distinct surviving hashes (never ingest history)
    assert(StreamRunner.perceptualSigsView(spark, wh, "imgs").count() === 5L)
    // counts: 0 absorbed exact-dup 8, 1 absorbed near-dup 9, 20 absorbed
    // within-batch 28; total copy mass == every decoded item ever seen
    assert(sigs === Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 20L -> 2L, 21L -> 1L))
    // replay idempotence: re-running the same batch id against its own
    // appended index rows must not drop the batch's docs
    val hashes = Multimodal.dhash(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(20L, pay(20L)), Row(21L, pay(21L)))),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("payload", BinaryType)))))
      .filter(col("format") === "png")
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
    // replay idempotence: a replayed batch 1 excludes the rows it FIRST
    // INSERTED from the corpus side, so 20/21's previously-inserted
    // signature rows can't drop the replay's docs
    val corpusNotOwn = StreamRunner.perceptualSigsView(spark, wh, "imgs")
      .filter(col("first_batch") =!= 1L)
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"))
    assert(Multimodal.dhashIncrementalMatches(hashes, corpusNotOwn)
      .count() === 0L)
    // full-body replay: re-running batch 1 through the publish body must
    // leave the index EXACTLY as it is (no re-added counts — the
    // last_batch guard — and no lost docs)
    val replay = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(8L, 9L, 20L, 28L, 21L).map(i =>
        Row(i, pay(i)))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    StreamRunner.perceptualPublishBatch(replay, 1L, wh, "imgs", _ => None,
      Multimodal.dhash, "png", maxHamming = 3)
    val sigs2 = StreamRunner.perceptualSigsView(spark, wh, "imgs")
      .select(col("doc_id"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs2 === sigs, "replay must not change the index")
    val docs2 = wh.read(spark, "imgs").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(docs2 === Set(0L, 1L, 2L, 20L, 21L))
  }

  test("streaming audio ingest: gain-dups drop by EXACT 60-bit equality; index stays hash-keyed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // payloads from the perceptual-mix generator's WAV third (id%3==1):
    // content c = id/3; c%8==7 is the same waveform at 2x gain as c-7
    val docSchema = StructType(Seq(StructField("doc_id", LongType)))
    def payloads(ids: Seq[Long]): Map[Long, Array[Byte]] = {
      val docs = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(Row(_))), docSchema)
      Multimodal.attachPerceptualMixMedia(docs).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    }
    // 1 (c=0), 4 (c=1), 7 (c=2) | 22 (c=7: 2x-gain dup of 1),
    // 25 (c=8, new), 46 (c=15: 2x-gain of 25 -> within-batch signature
    // collapse), 49 (c=16, new)
    val pay = payloads(Seq(1L, 4L, 7L, 22L, 25L, 46L, 49L))
    val wh = new Warehouse(tmpDir("audingest"))
    val cp = tmpDir("audingest_cp")
    val ms = MemoryStream[(Long, Array[Byte])]
    ms.addData(Seq(1L, 4L, 7L).map(i => i -> pay(i)))
    val q = StreamRunner.audioIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "auds", _ => None,
      cp, Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()
    assert(wh.read(spark, "auds").count() === 3L)
    ms.addData(Seq(22L, 25L, 46L, 49L).map(i => i -> pay(i)))
    val q2 = StreamRunner.audioIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "auds", _ => None,
      cp, Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    val docs = wh.read(spark, "auds").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(docs === Set(1L, 4L, 7L, 25L, 49L),
      s"gain-dup 22 and within-batch dup 46 must drop, got $docs")
    val sigs = StreamRunner.perceptualSigsView(spark, wh, "auds")
      .select(col("doc_id"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs === Map(1L -> 2L, 4L -> 1L, 7L -> 1L, 25L -> 2L, 49L -> 1L))
    assert(StreamRunner.perceptualSigsView(spark, wh, "auds").count() === 5L,
      "logical index rows == distinct surviving signatures")
  }

  test("streaming frontier ingest: danglings re-resolve when their targets arrive; serve == the batch walk; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import graft.operators.Crawl
    import graft.operators.Crawl.{HttpCodec, WarcCodec}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def warcOf(url: String, status: Int, loc: Option[String]): Array[Byte] =
      WarcCodec.encode(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:spec:$url>",
        "WARC-Target-URI" -> url,
        "Content-Type" -> "application/http; msgtype=response"),
        HttpCodec.encode(status,
          if (status == 200) "OK" else "Moved Permanently",
          loc.map("Location" -> _).toSeq ++
            (if (status == 200) Seq("Content-Type" -> "text/plain") else Nil),
          if (status == 200) "x".getBytes("UTF-8") else Array.emptyByteArray,
          chunked = false))
    // batch 0: 10 redirects to /b which has NOT been crawled yet
    // (dangles), 12 redirects to the already-present 200 /c (ok now)
    val b0: Seq[(Long, Array[Byte])] = Seq(
      10L -> warcOf("https://f.com/a", 301, Some("https://f.com/b")),
      11L -> warcOf("https://f.com/c", 200, None),
      12L -> warcOf("https://f.com/d", 301, Some("https://f.com/c")))
    // batch 1: /b ARRIVES (10 must re-resolve to ok); 14 dangles forever
    val b1: Seq[(Long, Array[Byte])] = Seq(
      13L -> warcOf("https://f.com/b", 200, None),
      14L -> warcOf("https://f.com/e", 301, Some("https://f.com/nowhere")))
    val wh = new Warehouse(tmpDir("frontingest"))
    val cp = tmpDir("frontingest_cp")
    val ms = MemoryStream[(Long, Array[Byte])]
    // data BEFORE start: AvailableNow snapshots available offsets at
    // query start, so post-start addData is not guaranteed a batch
    ms.addData(b0)
    val q = StreamRunner.frontierIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "fr", _ => None, cp)
    q.processAllAvailable(); q.stop()
    assert(wh.hasData("fr_records"), "batch 0 must have appended parsed records")
    def serve: Map[Long, (String, Long, String)] =
      StreamRunner.frontierSettled(spark, wh, "fr")
        .select(col("doc_id"), col("outcome"), col("n_hops"), col("final_url"))
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(serve === Map(
      10L -> (("dangling", 1L, "https://f.com/b")),
      12L -> (("ok", 1L, "https://f.com/c"))),
      "batch 0: the not-yet-crawled target dangles, the present one resolves")
    ms.addData(b1)
    val q2 = StreamRunner.frontierIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "fr", _ => None, cp)
    q2.processAllAvailable(); q2.stop()
    val after = serve
    assert(after(10L) === (("ok", 1L, "https://f.com/b")),
      "the dangling source must re-resolve the batch its target arrives")
    assert(after(12L) === (("ok", 1L, "https://f.com/c")))
    assert(after(14L)._1 === "dangling")
    // the serve view must equal the ONE-SHOT batch walk over the full
    // archive (the crawl_redirects form) — the incremental maintenance
    // can never disagree with a from-scratch resolution
    val allRecs = Crawl.redirectRecords(spark.createDataFrame(
      spark.sparkContext.parallelize((b0 ++ b1).map { case (i, p) => Row(i, p) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType)))))
    val oneShot = Crawl.resolveRedirects(allRecs)
      .select(col("doc_id"), col("outcome"), col("n_hops"), col("final_url"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(after === oneShot, "serve view must equal the from-scratch walk")
    // delta publishing: the settled table holds one row per source per
    // outcome CHANGE (10@b0 dangling, 12@b0 ok, 10@b1 ok, 14@b1
    // dangling) — unchanged retries re-publish nothing
    assert(wh.read(spark, "fr_settled").count() === 4L,
      "only changed outcomes publish — never O(batches x danglings)")
    // the persisted EDGE lake: one min-record-id row per source url,
    // bucket-partitioned — the walk reads it instead of re-deriving
    // edges from the record archive each batch
    val edges = wh.read(spark, "fr_edges")
      .select(col("cur"), col("nxt"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(edges === Map(
      "https://f.com/a" -> "https://f.com/b",
      "https://f.com/d" -> "https://f.com/c",
      "https://f.com/e" -> "https://f.com/nowhere"),
      "edge lake must hold one resolved-target row per source url")
    assert(wh.read(spark, "fr_terminals").select(col("t_url"))
      .collect().map(_.getString(0)).toSet ===
      Set("https://f.com/b", "https://f.com/c"),
      "terminal lake must hold the distinct 200 landings")
    // a key-filtered edge probe directory-prunes on the eb partition
    // column — the walk's per-hop pruning reads touched buckets only
    val probe = wh.read(spark, "fr_edges")
      .filter(col("eb") ===
        graft.operators.Crawl.frontierBucket(lit("https://f.com/a")))
    val scan = probe.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.toString.contains("eb")),
      s"expected an eb partition filter, got: ${scan.partitionFilters}")
    // the commit LEDGER: one row per fully-published batch, written
    // last — the compaction job's torn-publish guard
    assert(wh.read(spark, "fr_ledger")
      .select(col("ingest_batch").cast("long"))
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L))
    // COMPACTION: the fragmented records/settled lakes rewritten as one
    // versioned generation each; the snapshot-served view is
    // bit-identical to the live serve view
    val (rv, sv) = StreamRunner.compactFrontier(spark, wh, "fr")
    assert(rv === 1 && sv === 1, "first compaction commits generation 1")
    val compServe = StreamRunner.frontierSettledCompacted(spark, wh, "fr")
      .select(col("doc_id"), col("outcome"), col("n_hops"), col("final_url"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(compServe === after,
      "compacted serve view must equal the live serve view")
    // torn-publish guard: a records partition with NO ledger row (a
    // crashed mid-publish batch) must not be frozen into the snapshot
    wh.partitionedUpsertWrite(
      wh.read(spark, "fr_records").limit(1)
        .withColumn("ingest_batch", lit(99L)).localCheckpoint(),
      "fr_records", Seq("db", "ingest_batch"))
    val (rv2, _) = StreamRunner.compactFrontier(spark, wh, "fr",
      quiesced = false)
    assert(wh.readVersion(spark, "fr_records_serve", Some(rv2))
      .filter(col("ingest_batch") === 99L).count() === 0L,
      "an unledgered batch must be excluded from the compacted snapshot")
    // the LEDGER is bounded too: compactFrontier folded it alongside the
    // data tables, so its per-batch leaves vacuum — and a non-quiesced
    // compaction afterwards still derives its committed set through the
    // ledger's snapshot+tail read
    assert(StreamRunner.gcLake(spark, wh, "fr_ledger", "fr_ledger_serve",
      slackGenerations = 0) === Seq(0L, 1L))
    assert(!wh.hasData("fr_ledger"),
      "ledger live leaves vacuumed after the fold")
    val (rv3, _) = StreamRunner.compactFrontier(spark, wh, "fr",
      quiesced = false)
    assert(wh.readVersion(spark, "fr_records_serve", Some(rv3))
      .filter(col("ingest_batch") === 99L).count() === 0L,
      "committed ids survive the ledger vacuum via its snapshot")
    // replay: re-running batch 1 through the body must rewrite its
    // partition bit-identically (the excludeBatch retry guard)
    def b1frame = spark.createDataFrame(
      spark.sparkContext.parallelize(b1.map { case (i, p) => Row(i, p) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    StreamRunner.frontierPublishBatch(b1frame, 1L, wh, "fr", _ => None)
    assert(serve === after, "a replayed batch must not change the serve view")
    assert(wh.read(spark, "fr_settled").count() === 4L)
    // a batch with NO parseable status-line records must be a no-op —
    // not a schema-less write that poisons later reads under replay
    StreamRunner.frontierPublishBatch(
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(90L, "definitely not a warc record".getBytes("UTF-8")))),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("payload", BinaryType)))),
      2L, wh, "fr", _ => None)
    assert(serve === after, "an unparseable batch must change nothing")
    // quarantine-WHOLE: a batch failing the audit publishes NEITHER its
    // records NOR its settled rows — bad edges never feed later walks
    val wh2 = new Warehouse(tmpDir("frq"))
    StreamRunner.frontierPublishBatch(b1frame, 0L, wh2, "fq",
      _ => Some("schema drift"))
    assert(!wh2.hasData("fq_records") && !wh2.hasData("fq_settled") &&
      !wh2.hasData("fq_edges") && !wh2.hasData("fq_terminals") &&
      !wh2.hasData("fq_ledger"),
      "a quarantined batch must quarantine whole — all five frames")
    // retry aging: with retryMaxAge = 0, a dangling whose verdict is one
    // batch old settles the TYPED aged_out — it stops retrying (its
    // target arriving no longer flips it) and the serve view
    // distinguishes "gave up" from "still dangling"
    val wh3 = new Warehouse(tmpDir("frage"))
    def b0frame = spark.createDataFrame(
      spark.sparkContext.parallelize(b0.map { case (i, p) => Row(i, p) }),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    StreamRunner.frontierPublishBatch(b0frame, 0L, wh3, "fa", _ => None)
    StreamRunner.frontierPublishBatch(b1frame, 1L, wh3, "fa", _ => None,
      retryMaxAge = Some(0L))
    val aged = StreamRunner.frontierSettled(spark, wh3, "fa")
      .select(col("doc_id"), col("outcome"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(aged(10L) === "aged_out",
      "an aged-out dangling must settle aged_out, not keep retrying")
    assert(aged(14L) === "dangling",
      "a dangling within its retry window stays dangling, not aged")
    // a replay of the aging batch rewrites its partition bit-identically
    StreamRunner.frontierPublishBatch(b1frame, 1L, wh3, "fa", _ => None,
      retryMaxAge = Some(0L))
    assert(StreamRunner.frontierSettled(spark, wh3, "fa")
      .select(col("doc_id"), col("outcome"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap === aged,
      "replaying the aging batch must not change the serve view")
    // LEGACY MIGRATION: a record lake written before the (db,
    // ingest_batch) re-key and the edge/terminal side tables (the
    // round-14 layout) keeps working — the first new-code batch
    // backfills edges/terminals from the archive, retries resolve
    // through backfilled state, and the lake keeps its original layout
    // (no db= directories mixed in)
    val wh5 = new Warehouse(tmpDir("frlegacy"))
    val recs0 = Crawl.redirectRecords(b0frame)
      .filter(col("format") === "http")
    wh5.partitionedUpsertWrite(
      recs0.withColumn("ingest_batch", lit(0L)), "fl_records",
      Seq("ingest_batch"))
    wh5.partitionedUpsertWrite(
      Crawl.resolveRedirects(recs0).withColumn("ingest_batch", lit(0L)),
      "fl_settled", Seq("ingest_batch"))
    // batch 1 adds: the dangling target /b; a chain THROUGH the legacy
    // edge a->b (15: backfilled EDGE is load-bearing); a chain onto the
    // legacy-only terminal /c (16: backfilled TERMINAL is load-bearing)
    val b1x = b1 ++ Seq(
      15L -> warcOf("https://f.com/x", 301, Some("https://f.com/a")),
      16L -> warcOf("https://f.com/y", 301, Some("https://f.com/c")))
    StreamRunner.frontierPublishBatch(
      spark.createDataFrame(
        spark.sparkContext.parallelize(b1x.map { case (i, p) => Row(i, p) }),
        StructType(Seq(StructField("doc_id", LongType),
          StructField("payload", BinaryType)))),
      1L, wh5, "fl", _ => None)
    val mig = StreamRunner.frontierSettled(spark, wh5, "fl")
      .select(col("doc_id"), col("outcome"), col("n_hops"), col("final_url"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getString(3)))).toMap
    assert(mig === Map(
      10L -> (("ok", 1L, "https://f.com/b")),
      12L -> (("ok", 1L, "https://f.com/c")),
      14L -> (("dangling", 1L, "https://f.com/nowhere")),
      15L -> (("ok", 2L, "https://f.com/b")),
      16L -> (("ok", 1L, "https://f.com/c"))),
      "migration batch must walk through backfilled edges AND terminals")
    assert(!wh5.read(spark, "fl_records").columns.contains("db"),
      "a legacy lake must keep its original partition layout")
    assert(wh5.hasData("fl_edges") && wh5.hasData("fl_terminals"),
      "the migration batch must seed the edge/terminal lakes")
  }

  test("routed mixed-modality ingest: one stream drives all three indexes; equals the per-modality twins; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the perceptual-mix generator: id%3 picks the modality (0=PNG,
    // 1=WAV, 2=Y4M), c=id/3; c%8==7 is a byte-different dup of c-7,
    // image c%8==3 a near (one flipped sampled pixel) of c-3
    val docSchema = StructType(Seq(StructField("doc_id", LongType)))
    def payloads(ids: Seq[Long]): Map[Long, Array[Byte]] = {
      val docs = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(Row(_))), docSchema)
      Multimodal.attachPerceptualMixMedia(docs).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    }
    val b0 = Seq(0L, 1L, 2L) // one seed per modality
    // 9: image near of 0; 21/22/23: dups of 0/1/2; 24/25/26: new (c=8)
    val b1 = Seq(9L, 21L, 24L, 22L, 25L, 23L, 26L)
    val pay = payloads(b0 ++ b1)
    val wh = new Warehouse(tmpDir("medingest"))
    val cp = tmpDir("medingest_cp")
    val ms = MemoryStream[(Long, Array[Byte])]
    ms.addData(b0.map(i => i -> pay(i)))
    val q = StreamRunner.mediaIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "med", _ => None, cp)
    q.processAllAvailable(); q.stop()
    ms.addData(b1.map(i => i -> pay(i)))
    val q2 = StreamRunner.mediaIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "med", _ => None, cp)
    q2.processAllAvailable(); q2.stop()
    def docsOf(t: String): Set[Long] = wh.read(spark, t)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    def sigsOf(t: String): Map[Long, Long] =
      StreamRunner.perceptualSigsView(spark, wh, t)
        .select(col("doc_id"), col("n_copies"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(docsOf("med_image") === Set(0L, 24L),
      "near 9 and exact-dup 21 must drop against corpus image 0")
    assert(docsOf("med_audio") === Set(1L, 25L),
      "the 2x-gain dup 22 must drop by exact 60-bit equality")
    assert(docsOf("med_video") === Set(2L, 26L),
      "the different-second-frame dup 23 must drop by keyframe hash")
    assert(sigsOf("med_image") === Map(0L -> 3L, 24L -> 1L))
    assert(sigsOf("med_audio") === Map(1L -> 2L, 25L -> 1L))
    assert(sigsOf("med_video") === Map(2L -> 2L, 26L -> 1L))
    // the routed run must equal the three dedicated per-modality twins
    // on the same per-modality slices with the same batch split
    def twin(run: (org.apache.spark.sql.DataFrame, Warehouse, String, org.apache.spark.sql.DataFrame => Option[String], String, org.apache.spark.sql.streaming.Trigger) => org.apache.spark.sql.streaming.StreamingQuery,
        m: Long, table: String): (Set[Long], Map[Long, Long]) = {
      val twh = new Warehouse(tmpDir(s"twin$m"))
      val tcp = tmpDir(s"twin${m}_cp")
      val tms = MemoryStream[(Long, Array[Byte])]
      tms.addData(b0.filter(_ % 3 == m).map(i => i -> pay(i)))
      val tq = run(tms.toDF().toDF("doc_id", "payload"), twh, table,
        _ => None, tcp, Trigger.AvailableNow())
      tq.processAllAvailable(); tq.stop()
      tms.addData(b1.filter(_ % 3 == m).map(i => i -> pay(i)))
      val tq2 = run(tms.toDF().toDF("doc_id", "payload"), twh, table,
        _ => None, tcp, Trigger.AvailableNow())
      tq2.processAllAvailable(); tq2.stop()
      (twh.read(spark, table).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet,
        StreamRunner.perceptualSigsView(spark, twh, table)
          .select(col("doc_id"), col("n_copies"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val (iDocs, iSigs) = twin(StreamRunner.imageIngestToWarehouse, 0L, "timg")
    assert(iDocs === docsOf("med_image") && iSigs === sigsOf("med_image"),
      "routed image drops must equal the dedicated image twin's")
    val (aDocs, aSigs) = twin(StreamRunner.audioIngestToWarehouse, 1L, "taud")
    assert(aDocs === docsOf("med_audio") && aSigs === sigsOf("med_audio"),
      "routed audio drops must equal the dedicated audio twin's")
    val (vDocs, vSigs) = twin(StreamRunner.videoIngestToWarehouse, 2L, "tvid")
    assert(vDocs === docsOf("med_video") && vSigs === sigsOf("med_video"),
      "routed video drops must equal the dedicated video twin's")
    // checkpoint-replay idempotence across ALL THREE indexes: re-running
    // batch 1 through the routed body must change nothing anywhere
    val replay = spark.createDataFrame(
      spark.sparkContext.parallelize(b1.map(i => Row(i, pay(i)))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    StreamRunner.mediaPublishBatch(replay, 1L, wh, "med", _ => None)
    assert(docsOf("med_image") === Set(0L, 24L))
    assert(docsOf("med_audio") === Set(1L, 25L))
    assert(docsOf("med_video") === Set(2L, 26L))
    assert(sigsOf("med_image") === Map(0L -> 3L, 24L -> 1L))
    assert(sigsOf("med_audio") === Map(1L -> 2L, 25L -> 1L))
    assert(sigsOf("med_video") === Map(2L -> 2L, 26L -> 1L))
  }

  test("a dup-only micro-batch still merges its copy mass into the index") {
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    // batch 1 carries ONLY an exact dup of corpus image 0 (decade slot
    // 8 is the pixel-exact re-render): zero survivors, so nothing
    // publishes — but the keeper's n_copies must still advance, or the
    // copy mass is lost forever (the checkpoint marks the batch done)
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    def frame(ids: Seq[Long]) = {
      val pay = Multimodal.attachDhashMedia(spark.createDataFrame(
          spark.sparkContext.parallelize(ids.map(Row(_))),
          StructType(Seq(StructField("doc_id", LongType))))).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => Row(i, pay(i)))), docSchema)
    }
    val wh = new Warehouse(tmpDir("duponly"))
    StreamRunner.perceptualPublishBatch(frame(Seq(0L)), 0L, wh, "dimg",
      _ => None, Multimodal.dhash, "png", maxHamming = 3)
    def sigs = StreamRunner.perceptualSigsView(spark, wh, "dimg")
      .select(col("doc_id"), col("n_copies"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs === Map(0L -> 1L))
    StreamRunner.perceptualPublishBatch(frame(Seq(8L)), 1L, wh, "dimg",
      _ => None, Multimodal.dhash, "png", maxHamming = 3)
    assert(wh.read(spark, "dimg").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet === Set(0L),
      "a dup-only batch publishes no docs")
    assert(sigs === Map(0L -> 2L),
      "the dup-only batch's copy mass must merge into the keeper")
    // replay idempotence: the delta partition overwrite replaces the
    // previous attempt's count-adds wholesale — no double-count
    StreamRunner.perceptualPublishBatch(frame(Seq(8L)), 1L, wh, "dimg",
      _ => None, Multimodal.dhash, "png", maxHamming = 3)
    assert(sigs === Map(0L -> 2L))
    // a dup-only batch the AUDIT rejects must NOT merge its copy mass:
    // the maintenance branch runs behind the same staged-readback gate
    // as a publishing batch (same dup payload, NEW batch id — an
    // ungated maintenance branch would have appended batch 2's
    // count-add delta anyway)
    StreamRunner.perceptualPublishBatch(frame(Seq(8L)), 2L, wh, "dimg",
      _ => Some("schema drift"), Multimodal.dhash, "png", maxHamming = 3)
    assert(sigs === Map(0L -> 2L),
      "a quarantined dup-only batch must not merge counts")
    assert(new java.io.File(wh.tablePath("__quarantine__dimg_b2")).exists(),
      "the rejected dup-only batch must land in quarantine for forensics")
    // NON-row-identical replay convergence: a replay of batch 1 whose
    // re-derived delta is EMPTY (here: the upstream frame lost its rows)
    // must erase the previous attempt's delta partition — "the partition
    // IS the batch's entire effect" has to hold even when the replay is
    // not row-identical, or stale count-adds survive forever
    StreamRunner.perceptualPublishHashed(
      frame(Seq(8L)).filter(col("doc_id") < 0L)
        .select(col("doc_id"), lit(0L).as("hash_hi"), lit(0L).as("hash_lo")),
      1L, wh, "dimg", _ => None, maxHamming = 3)
    assert(!new java.io.File(wh.tablePath("dimg_sigs"),
      "ingest_batch=1").exists(),
      "an empty-delta replay must delete its stale delta partition")
    assert(sigs === Map(0L -> 1L),
      "after the empty-delta replay, batch 1's count-add is gone")
  }

  test("perceptual LSM: per-batch writes are delta-sized; fold+vacuum keep the index whole; post-vacuum drops resolve via the snapshot") {
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // dhash fixture decade slots: 8 is a pixel-exact re-render of 0,
    // 28 hashes identically to 20
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    def frame(ids: Seq[Long]) = {
      val pay = Multimodal.attachDhashMedia(spark.createDataFrame(
          spark.sparkContext.parallelize(ids.map(Row(_))),
          StructType(Seq(StructField("doc_id", LongType))))).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
      spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => Row(i, pay(i)))), docSchema)
    }
    val wh = new Warehouse(tmpDir("plsm"))
    def publish(ids: Seq[Long], batch: Long): Unit =
      StreamRunner.perceptualPublishBatch(frame(ids), batch, wh, "pl",
        _ => None, Multimodal.dhash, "png", maxHamming = 3)
    def dataFiles(sub: String): Set[String] = {
      def walk(f: java.io.File): Seq[String] =
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .flatMap(k => if (k.isDirectory) walk(k)
            else if (!k.getName.startsWith("_") && !k.getName.startsWith("."))
              Seq(k.getPath) else Nil)
      walk(new java.io.File(wh.tablePath("pl_sigs") + "/" + sub)).toSet
    }
    def partitions: Set[String] =
      Option(new java.io.File(wh.tablePath("pl_sigs")).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("ingest_batch="))
        .map(_.getName).toSet
    def view: Map[Long, Long] =
      StreamRunner.perceptualSigsView(spark, wh, "pl")
        .select(col("doc_id"), col("n_copies"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    publish(Seq(0L, 1L), 0L)
    val b0files = dataFiles("ingest_batch=0")
    assert(b0files.nonEmpty)
    // batch 1: 8 (exact dup of corpus 0 — a count-add) + 20 (new insert)
    publish(Seq(8L, 20L), 1L)
    // THE LSM write-cost invariant: a batch writes ONLY its own delta
    // partition — earlier partitions' files are untouched (the old
    // layout rewrote every hash bucket the batch's adds landed in)
    assert(dataFiles("ingest_batch=0") === b0files,
      "a batch must not rewrite earlier delta partitions")
    assert(partitions === Set("ingest_batch=0", "ingest_batch=1"))
    val pre = view
    assert(pre === Map(0L -> 2L, 1L -> 1L, 20L -> 1L))
    // fold to one sb-bucketed generation (watermark in the sidecar),
    // then vacuum every folded delta
    assert(StreamRunner.compactPerceptual(spark, wh, "pl") === 1)
    assert(wh.versionMeta("pl_sigs_serve", 1).get("thru") === Some("1"))
    assert(StreamRunner.gcLake(spark, wh, "pl_sigs", "pl_sigs_serve",
      slackGenerations = 0) === Seq(0L, 1L))
    assert(!wh.hasData("pl_sigs"), "live delta lake empty after vacuum")
    assert(view === pre, "fold + vacuum must not change the logical index")
    // batch 2 after the vacuum: 28 duplicates 20 (whose signature now
    // lives ONLY in the snapshot) — the keep/drop verdicts must be what
    // an unfolded index would produce; 21 is new and survives
    publish(Seq(28L, 21L), 2L)
    assert(wh.read(spark, "pl").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 20L, 21L),
      "post-vacuum dup must drop against the snapshot")
    val post = Map(0L -> 2L, 1L -> 1L, 20L -> 2L, 21L -> 1L)
    assert(view === post)
    // checkpoint replay of batch 2 AFTER the fold: the delta partition
    // overwrite + first_batch exclusion converge bit-identically
    publish(Seq(28L, 21L), 2L)
    assert(view === post, "a replayed batch converges after fold+vacuum")
    assert(wh.read(spark, "pl").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet === Set(0L, 1L, 20L, 21L))
    // the next fold carries the add into the generation; an idle fold
    // keeps the current version
    assert(StreamRunner.compactPerceptual(spark, wh, "pl") === 2)
    assert(StreamRunner.compactPerceptual(spark, wh, "pl") === 2,
      "no new deltas: fold keeps the current generation")
    assert(StreamRunner.gcLake(spark, wh, "pl_sigs", "pl_sigs_serve",
      slackGenerations = 0) === Seq(2L))
    assert(view === post, "the folded generation alone carries the index")
  }

  test("audio matching is equality-only: hamming-1 signatures do NOT merge at maxHamming=0") {
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    val hashSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("hash_hi", LongType),
      StructField("hash_lo", LongType)))
    def frame(rows: Seq[(Long, Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, h, l) => Row(i, h, l) }),
      hashSchema)
    val corpus = frame(Seq((0L, 0x11L, 0x22L)))
    val exact = frame(Seq((10L, 0x11L, 0x22L)))
    val near = frame(Seq((11L, 0x11L, 0x23L))) // hamming 1
    assert(Multimodal.dhashIncrementalMatches(exact, corpus, maxHamming = 0)
      .count() === 1L)
    assert(Multimodal.dhashIncrementalMatches(near, corpus, maxHamming = 0)
      .count() === 0L, "hamming tolerance must be off for energy-shape codes")
    assert(Multimodal.dhashIncrementalMatches(near, corpus, maxHamming = 3)
      .count() === 1L)
  }

  test("streaming video ingest: keyframe dups drop via the shared perceptual body") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.Row
    import graft.operators.Multimodal
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docSchema = StructType(Seq(StructField("doc_id", LongType)))
    def payloads(ids: Seq[Long]): Map[Long, Array[Byte]] = {
      val docs = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(Row(_))), docSchema)
      Multimodal.attachVideoDupMedia(docs).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    }
    val pay = payloads(Seq(0L, 1L, 8L, 9L, 30L))
    val wh = new Warehouse(tmpDir("vidingest"))
    val cp = tmpDir("vidingest_cp")
    val ms = MemoryStream[(Long, Array[Byte])]
    ms.addData(Seq(0L, 1L).map(i => i -> pay(i)))
    val q = StreamRunner.videoIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "vids", _ => None,
      cp, Trigger.AvailableNow())
    q.processAllAvailable(); q.stop()
    // batch 1: 8 re-renders 0 exactly, 9 is 1's one-cell keyframe edit
    // (hamming 1-2), 30 is new
    ms.addData(Seq(8L, 9L, 30L).map(i => i -> pay(i)))
    val q2 = StreamRunner.videoIngestToWarehouse(
      ms.toDF().toDF("doc_id", "payload"), wh, "vids", _ => None,
      cp, Trigger.AvailableNow())
    q2.processAllAvailable(); q2.stop()
    val docs = wh.read(spark, "vids").select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(docs === Set(0L, 1L, 30L), s"got $docs")
  }

  test("non-quiesced compaction with nothing committed keeps the serve generation") {
    val wh = new Warehouse(tmpDir("cpq0"))
    // single-batch history: batch 0 is the newest (possibly in-flight),
    // so the committed set is EMPTY — publishing would point _serve at a
    // zero-row generation; the compactor must keep whatever serves now
    wh.partitionedUpsertWrite(
      spark.createDataFrame(Seq(("w1", 1L, 1L, 1L, 0L)))
        .toDF("word", "doc_id", "tf", "wb", "ingest_batch"),
      "t2_postings", Seq("wb", "ingest_batch"))
    wh.partitionedUpsertWrite(
      spark.createDataFrame(Seq((1L, 5L, 0L)))
        .toDF("doc_id", "dl", "ingest_batch"),
      "t2_doclen", Seq("ingest_batch"))
    val (pv, dv) = StreamRunner.compactPostings(spark, wh, "t2", quiesced = false)
    assert((pv, dv) === (0, 0), "no serve generation exists yet")
    assert(wh.currentVersion("t2_postings_serve").isEmpty,
      "an empty generation must NOT be published")
    // a second batch makes batch 0 committed; compaction now serves it
    wh.partitionedUpsertWrite(
      spark.createDataFrame(Seq(("w2", 2L, 1L, 2L, 1L)))
        .toDF("word", "doc_id", "tf", "wb", "ingest_batch"),
      "t2_postings", Seq("wb", "ingest_batch"))
    wh.partitionedUpsertWrite(
      spark.createDataFrame(Seq((2L, 7L, 1L)))
        .toDF("doc_id", "dl", "ingest_batch"),
      "t2_doclen", Seq("ingest_batch"))
    val (pv2, _) = StreamRunner.compactPostings(spark, wh, "t2", quiesced = false)
    assert(wh.readVersion(spark, "t2_postings_serve", Some(pv2)).count() === 1L)
  }

  test("non-quiesced compaction skips torn and possibly-in-flight batches") {
    val wh = new Warehouse(tmpDir("cpq"))
    def postingsFor(b: Long, ids: Seq[Long]) =
      spark.createDataFrame(ids.map(i => (s"w$i", i, 1L, i % 4, b)))
        .toDF("word", "doc_id", "tf", "wb", "ingest_batch")
    def doclenFor(b: Long, ids: Seq[Long]) =
      spark.createDataFrame(ids.map(i => (i, 5L, b)))
        .toDF("doc_id", "dl", "ingest_batch")
    // batches 0 and 1 fully committed (both tables); batch 2 is the
    // NEWEST (possibly mid-publish); batch 3... instead: make batch 2
    // postings-only (a torn publish) AND newest — covers both rules in
    // one lake, then a second lake isolates the newest-exclusion rule
    for (b <- 0L to 1L) {
      wh.partitionedUpsertWrite(postingsFor(b, Seq(10 + b, 20 + b)),
        "t_postings", Seq("wb", "ingest_batch"))
      wh.partitionedUpsertWrite(doclenFor(b, Seq(10 + b, 20 + b)),
        "t_doclen", Seq("ingest_batch"))
    }
    wh.partitionedUpsertWrite(postingsFor(2L, Seq(99L)),
      "t_postings", Seq("wb", "ingest_batch"))
    val (pv, dv) = StreamRunner.compactPostings(spark, wh, "t", quiesced = false)
    val served = wh.readVersion(spark, "t_postings_serve", Some(pv))
    assert(served.filter(col("doc_id") === 99L).count() === 0L,
      "torn batch 2 must not reach the snapshot")
    assert(served.count() === 4L, "batches 0 and 1 fully served")
    assert(wh.readVersion(spark, "t_doclen_serve", Some(dv)).count() === 4L)

    // newest-exclusion alone: batch 2 now committed in BOTH tables but is
    // the newest id -> still held back (it may be an in-flight overwrite)
    wh.partitionedUpsertWrite(doclenFor(2L, Seq(99L)),
      "t_doclen", Seq("ingest_batch"))
    val (pv2, _) = StreamRunner.compactPostings(spark, wh, "t", quiesced = false)
    assert(wh.readVersion(spark, "t_postings_serve", Some(pv2))
      .filter(col("doc_id") === 99L).count() === 0L,
      "newest batch held back until a later batch supersedes it")
    // a later committed batch makes 2 compactable
    for (b <- 3L to 3L) {
      wh.partitionedUpsertWrite(postingsFor(b, Seq(31L)),
        "t_postings", Seq("wb", "ingest_batch"))
      wh.partitionedUpsertWrite(doclenFor(b, Seq(31L)),
        "t_doclen", Seq("ingest_batch"))
    }
    val (pv3, _) = StreamRunner.compactPostings(spark, wh, "t", quiesced = false)
    assert(wh.readVersion(spark, "t_postings_serve", Some(pv3))
      .filter(col("doc_id") === 99L).count() === 1L,
      "superseded batch 2 now serves")
    // quiesced compaction (the default) takes everything
    val (pv4, _) = StreamRunner.compactPostings(spark, wh, "t")
    assert(wh.readVersion(spark, "t_postings_serve", Some(pv4)).count() === 6L)
  }

  test("postings ingest quarantines WHOLE: a doclen-side failure keeps postings out too") {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("posthl")
    val wh = new Warehouse(tmpDir("posthw"))
    Files.write(Paths.get(landing, "drop.jsonl"),
      """{"doc_id":1,"text":"alpha beta beta"}""".getBytes("UTF-8"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(docSchema).json(landing)
    // the audit fails ONLY the doclen frame (it alone carries `dl`) —
    // pre-fix, postings would already have published when doclen
    // quarantined, leaving the batch half-indexed forever
    StreamRunner.postingsIngestToWarehouse(
      stream, wh, "hlex",
      df => if (df.columns.contains("dl")) Some("planted doclen failure")
        else None,
      tmpDir("posthc"), Trigger.AvailableNow()).awaitTermination()
    assert(!wh.exists("hlex_postings"),
      "a sibling-table failure must keep the postings from publishing")
    assert(!wh.exists("hlex_doclen"))
    // BOTH frames are quarantined, each with an attributable reason
    val dq = wh.read(spark, "__quarantine__hlex_doclen_b0")
    assert(dq.select("__reason").head().getString(0) == "planted doclen failure")
    val pq = wh.read(spark, "__quarantine__hlex_postings_b0")
    assert(pq.select("__reason").head().getString(0)
      .contains("sibling table hlex_doclen quarantined"))
  }

  test("crawl ingest survives a corrupt shard: salvaged prefix publishes, stream completes") {
    import graft.operators.Crawl.{GzipCodec, WarcCodec}
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val landing = tmpDir("cwsl")
    val wh = new Warehouse(tmpDir("cwsw"))
    val ckpt = tmpDir("cwsc")
    def responseMember(id: Long, text: String): (Option[String], Array[Byte]) =
      None -> WarcCodec.encode(Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:graft:$id>",
        "Content-Type" -> "text/html"),
        s"<html><body><p>$text</p></body></html>".getBytes("UTF-8"))
    def runOnce(): Unit =
      StreamRunner.crawlIngestToWarehouse(
        spark, landing, wh, "salv_corpus", _ => None, ckpt,
        Trigger.AvailableNow()).awaitTermination()
    // shard-0: one good page, then a rotten tail — pre-fix this batch
    // threw, and every checkpoint replay re-listed the same corrupt file:
    // a PERMANENT poison pill. The salvaged page is deliberately TWO
    // words (below the 3-word shingling minimum), so batch 0 publishes
    // zero index rows — pinning the second poison pill this test found:
    // a schema-less sigs table must read as "no index yet" (hasData),
    // not fail the next batch's corpus-side read
    val rotten = GzipCodec.encodeMember("junk".getBytes)
    rotten(rotten.length - 1) = 0x7f
    Files.write(Paths.get(landing, "shard-000.warc.gz"),
      GzipCodec.encodeMembers(Seq(responseMember(1, "salvaged page"))) ++ rotten)
    runOnce()
    assert(wh.read(spark, "salv_corpus").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "salvaged page"),
      "the verified prefix must publish despite the corrupt tail")
    // and the stream keeps ingesting: a later healthy shard lands normally
    Files.write(Paths.get(landing, "shard-001.warc.gz"),
      GzipCodec.encodeMembers(Seq(responseMember(2, "later healthy page"))))
    runOnce()
    assert(wh.read(spark, "salv_corpus").count() == 2)
  }
}
