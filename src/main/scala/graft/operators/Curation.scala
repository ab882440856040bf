package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dataset-curation operators a training-data pipeline runs between the
  * cleaning layer ([[TextAnalysis]]) and the trainer: contamination-safe
  * train/val/test splits, per-source quality gating, referential-integrity
  * audits, MERGE/upsert compaction, last-observation-carried-forward
  * resampling, and multi-touch attribution.
  *
  * Scale posture:
  *  - `txt_split_assign` and the quality gate are shuffle-free or
  *    single-window passes — a split must never cost a corpus shuffle.
  *  - The split key is a CONTENT hash, not doc_id: byte-identical documents
  *    land in the same split by construction, so exact duplicates can never
  *    straddle train/test (near-dups are handled upstream by the dedup
  *    layer routing one canonical per cluster — [[Dedup]]).
  *  - MERGE is the one-shuffle full-outer-join form (key-partitioned both
  *    sides); at 100 TB the same plan applies per date-partition.
  *  - Attribution joins touches to purchases on the USER equi-key with a
  *    time-range residual — never a pure range join — so it shuffles once
  *    on user_id and AQE's skew split handles hot users.
  *  - All money/credit arithmetic is exact integers (cents, integer DIV for
  *    the per-touch credit), DECIMAL(38,0) accumulators.
  */
object Curation extends QueryModule {

  /** Deterministic lake-state fixture for `pipe_lake_health`: four
    * streamed lakes built into the four lifecycle states the report
    * must classify — never folded, snapshot+tail, fully vacuumed, and
    * two generations (vacuum-eligible under the production slack) —
    * each from `doc_id % 3` slices of `documents`, folded through the
    * REAL fold-forward body so every generation carries its watermark
    * sidecar. All maintenance runs inside the scratch prefix and joins
    * the atomic publish (the StreamedFixture mid-stream convention).
    */
  private object LakeHealthFixture extends StreamedFixture(
    "lh", Seq("_fresh", "_hyb", "_hyb_serve", "_vac", "_vac_serve",
      "_gen2", "_gen2_serve"), layout = "v1") {
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit = {
      import graft.streaming.StreamRunner
      val docs = Tables.documents(s, d).select(col("doc_id"))
      def publish(name: String, b: Int): Unit = {
        wh.partitionedUpsertWrite(
          docs.filter(col("doc_id") % 3 === b)
            .withColumn("ingest_batch", lit(b.toLong)),
          name, Seq("ingest_batch"))
        wh.noteLiveBatch(name, b.toLong)
      }
      def fold(name: String): Int =
        StreamRunner.foldForward(s, wh, name, s"${name}_serve",
          t => Right(t), Nil)
      // fresh: two live batches, never folded
      publish(s"${scratch}_fresh", 0); publish(s"${scratch}_fresh", 1)
      // hybrid: fold after two batches, then one post-fold tail batch
      publish(s"${scratch}_hyb", 0); publish(s"${scratch}_hyb", 1)
      fold(s"${scratch}_hyb")
      publish(s"${scratch}_hyb", 2)
      // vacuumed: fold, then full vacuum — all mass in the snapshot
      publish(s"${scratch}_vac", 0); publish(s"${scratch}_vac", 1)
      fold(s"${scratch}_vac")
      StreamRunner.gcLake(s, wh, s"${scratch}_vac",
        s"${scratch}_vac_serve", slackGenerations = 0): Unit
      // two generations, no vacuum: eligible under production slack 1
      publish(s"${scratch}_gen2", 0); publish(s"${scratch}_gen2", 1)
      fold(s"${scratch}_gen2")
      publish(s"${scratch}_gen2", 2)
      fold(s"${scratch}_gen2"): Unit
    }
  }

  /** Fixture for `pipe_lake_maintain`: four lakes whose health states
    * exercise every branch of the POLICY pass ([[graft.streaming
    * .StreamRunner.maintainLakes]] at foldAtTailBatches = 2, slack = 1),
    * run once inside the scratch build with the resulting action trail
    * persisted as `_actions`:
    *  - fold_only: 2 unfolded batches → folds to its first generation
    *    (then too few generations to vacuum);
    *  - fold_vac: two generations + 2 tail batches → folds AND the fold
    *    makes it vacuum-eligible in the same pass (the folded leaves at
    *    or below the slack boundary's watermark are reclaimed) AND the
    *    third generation trips retention (the oldest snapshot pruned);
    *  - idle: one generation + 1 tail batch → below the fold threshold,
    *    not vacuum-eligible — the pass must touch NOTHING;
    *  - perceptual: the count-merging perceptual LSM fold driven by the
    *    SAME policy (each lake supplies its own fold body — the policy
    *    only decides WHEN).
    */
  private object LakeMaintainFixture extends StreamedFixture(
    "lm", Seq("_fold_only", "_fold_only_serve", "_fold_vac", "_fold_vac_serve",
      "_idle", "_idle_serve", "_perc", "_perc_sigs", "_perc_sigs_serve",
      "_actions"), layout = "v2") {
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit = {
      import graft.streaming.StreamRunner
      val docs = Tables.documents(s, d).select(col("doc_id"))
      def publish(name: String, b: Int): Unit = {
        wh.partitionedUpsertWrite(
          docs.filter(col("doc_id") % 8 === b)
            .withColumn("ingest_batch", lit(b.toLong)),
          name, Seq("ingest_batch"))
        wh.noteLiveBatch(name, b.toLong)
      }
      def fold(name: String): Int =
        StreamRunner.foldForward(s, wh, name, s"${name}_serve",
          t => Right(t), Nil)
      publish(s"${scratch}_fold_only", 0); publish(s"${scratch}_fold_only", 1)
      publish(s"${scratch}_fold_vac", 0); publish(s"${scratch}_fold_vac", 1)
      fold(s"${scratch}_fold_vac")
      publish(s"${scratch}_fold_vac", 2)
      fold(s"${scratch}_fold_vac")
      publish(s"${scratch}_fold_vac", 3); publish(s"${scratch}_fold_vac", 4)
      publish(s"${scratch}_idle", 0); publish(s"${scratch}_idle", 1)
      fold(s"${scratch}_idle")
      publish(s"${scratch}_idle", 2)
      // the perceptual lake: two delta batches of synthetic post-decode
      // signatures (batch 1 adds one new signature + one count-add dup)
      def hashed(rows: Seq[(Long, Long, Long)]) = {
        import s.implicits._
        rows.toDF("doc_id", "hash_hi", "hash_lo")
      }
      StreamRunner.perceptualPublishHashed(
        hashed(Seq((1L, 11L, 21L), (2L, 12L, 22L))), 0L, wh,
        s"${scratch}_perc", _ => None, maxHamming = 0)
      StreamRunner.perceptualPublishHashed(
        hashed(Seq((3L, 13L, 23L), (4L, 11L, 21L))), 1L, wh,
        s"${scratch}_perc", _ => None, maxHamming = 0)
      val actions = StreamRunner.maintainLakes(s, wh, Seq(
        ("fold_only", s"${scratch}_fold_only", s"${scratch}_fold_only_serve",
          () => fold(s"${scratch}_fold_only")),
        ("fold_vac", s"${scratch}_fold_vac", s"${scratch}_fold_vac_serve",
          () => fold(s"${scratch}_fold_vac")),
        ("idle", s"${scratch}_idle", s"${scratch}_idle_serve",
          () => fold(s"${scratch}_idle")),
        ("perceptual", s"${scratch}_perc_sigs", s"${scratch}_perc_sigs_serve",
          () => StreamRunner.compactPerceptual(s, wh, s"${scratch}_perc"))))
      import s.implicits._
      wh.truncateWrite(actions.toDF(
        "lake", "folded", "vacuumed_batches", "pruned_generations",
        "current_version")
        .coalesce(1), s"${scratch}_actions")
    }
  }

  /** The WAREHOUSE-WIDE maintenance demo (`pipe_warehouse_maintain` —
    * VERDICT r17 task 5): every streamed-lake KIND the engine runs,
    * each built through its REAL ingest body over deterministic slices
    * — the semantic dedup lake ([[graft.streaming.StreamRunner
    * .semanticPublishBatch]]), the minhash dedup corpus with its
    * sigs/hashes indexes and per-source stats rollup
    * ([[graft.streaming.StreamRunner.dedupPublishBatch]]), the
    * term-bucketed inverted index, the IVF vector lake
    * ([[graft.streaming.StreamRunner.ivfPublishBatch]]), the
    * perceptual near-dup LSM
    * ([[graft.streaming.StreamRunner.perceptualPublishHashed]]), and a
    * redirect-walk frontier ([[graft.streaming.StreamRunner
    * .frontierPublishBatch]] over real WARC/HTTP bytes) — then ONE
    * [[graft.streaming.StreamRunner.maintainLakes]] pass over all
    * ELEVEN (lake, live, serve) triples, driven purely by the health
    * view. Lakes enter the pass in MIXED lifecycle states (semantic
    * pre-folded once → the pass folds forward AND vacuums; postings
    * pre-folded twice → fold + vacuum + retention-prune; the rest
    * never folded → first fold), so the one audit trail exercises
    * every policy arm. Multi-table folds mirror [[graft.streaming
    * .StreamRunner.maintainPostings]]: the primary entry's body folds
    * the sibling tables, whose own entries carry read-only thunks but
    * still drive their lakes' vacuum/retention.
    */
  private[graft] object WarehouseMaintFixture extends StreamedFixture(
    "wm", Seq("_sem", "_sem_serve",
      "_ddc", "_ddc_serve", "_ddc_sigs", "_ddc_sigs_serve",
      "_ddc_hashes", "_ddc_hashes_serve", "_ddc_stats", "_ddc_stats_serve",
      "_lex_postings", "_lex_postings_serve",
      "_lex_doclen", "_lex_doclen_serve",
      "_ivf", "_ivf_serve", "_pimg_sigs", "_pimg_sigs_serve",
      "_fr_records", "_fr_records_serve", "_fr_settled", "_fr_settled_serve",
      "_fr_ledger", "_fr_ledger_serve", "_fr_edges", "_fr_terminals",
      "_actions"), layout = "v2") {
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit = {
      import graft.streaming.StreamRunner
      import graft.operators.Crawl.{HttpCodec, WarcCodec}
      import s.implicits._
      // --- semantic lake: 3 sliced batches of the REAL embedding-dedup
      // body; planes = the first 4 corpus embeddings (deterministic)
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      val planes = emb.filter(col("vec_id").between(1, 4))
        .orderBy(col("vec_id")).collect()
        .map(_.getSeq[Float](2).toArray)
      (0 to 2).foreach { b =>
        StreamRunner.semanticPublishBatch(
          emb.filter(col("vec_id") % 3 === b), b.toLong, planes.toSeq,
          wh, s"${scratch}_sem", _ => None, 0.25)
        // pre-fold once mid-ingest: the pass then folds FORWARD + vacuums
        if (b == 0) StreamRunner.compactSemantic(s, wh, s"${scratch}_sem"): Unit
      }
      // --- minhash dedup corpus (+ sigs/hashes indexes + stats rollup)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), col("source"))
      (0 to 2).foreach(b => StreamRunner.dedupPublishBatch(
        docs.filter(col("doc_id") % 3 === b), b.toLong,
        wh, s"${scratch}_ddc", _ => None, 0.5))
      // --- term-bucketed inverted index: 4 batches, pre-folded TWICE so
      // the pass folds a THIRD generation and retention prunes the first
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      (0 to 3).foreach { b =>
        val slice = toks.filter(col("doc_id") % 4 === b)
        wh.partitionedUpsertWrite(
          slice.groupBy(col("word"), col("doc_id"))
            .agg(count(lit(1)).as("tf"))
            .withColumn("wb", graft.functions.TextFunctions.md5Bits(col("word"), 1))
            .withColumn("ingest_batch", lit(b.toLong)),
          s"${scratch}_lex_postings", Seq("wb", "ingest_batch"))
        wh.noteLiveBatch(s"${scratch}_lex_postings", b.toLong)
        wh.partitionedUpsertWrite(
          slice.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
            .withColumn("ingest_batch", lit(b.toLong)),
          s"${scratch}_lex_doclen", Seq("ingest_batch"))
        wh.noteLiveBatch(s"${scratch}_lex_doclen", b.toLong)
        if (b <= 1)
          StreamRunner.compactPostings(s, wh, s"${scratch}_lex"): Unit
      }
      // --- IVF vector lake: the real gated cell-assigned publish
      val cents = emb.filter(col("vec_id").between(1, 8))
        .orderBy(col("vec_id")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](2))
      (0 to 2).foreach { b =>
        val (cellCol, csCol) = Similarity.cellAssignExpr(s, cents.toSeq)
        StreamRunner.ivfPublishBatch(
          emb.filter(col("vec_id") % 3 === b)
            .select(col("vec_id"), col("embedding"), cellCol, csCol),
          b.toLong, wh, s"${scratch}_ivf", _ => None)
      }
      // --- perceptual near-dup LSM: 2 delta batches (batch 1 carries a
      // count-add against batch 0's keeper)
      StreamRunner.perceptualPublishHashed(
        Seq((1L, 11L, 21L), (2L, 12L, 22L)).toDF("doc_id", "hash_hi", "hash_lo"),
        0L, wh, s"${scratch}_pimg", _ => None, maxHamming = 0)
      StreamRunner.perceptualPublishHashed(
        Seq((3L, 13L, 23L), (4L, 11L, 21L)).toDF("doc_id", "hash_hi", "hash_lo"),
        1L, wh, s"${scratch}_pimg", _ => None, maxHamming = 0)
      // --- redirect-walk frontier: 3 batches of real WARC/HTTP bytes
      def warcOf(url: String, status: Int, loc: Option[String]): Array[Byte] =
        WarcCodec.encode(Seq(
          "WARC-Type" -> "response",
          "WARC-Record-ID" -> s"<urn:graft:wm:$url>",
          "WARC-Target-URI" -> url,
          "Content-Type" -> "application/http; msgtype=response"),
          HttpCodec.encode(status,
            if (status == 200) "OK" else "Moved Permanently",
            loc.map("Location" -> _).toSeq ++
              (if (status == 200) Seq("Content-Type" -> "text/plain") else Nil),
            if (status == 200) "x".getBytes("UTF-8") else Array.emptyByteArray,
            chunked = false))
      Seq(
        Seq(10L -> warcOf("https://w.m/a", 301, Some("https://w.m/b")),
          11L -> warcOf("https://w.m/c", 200, None)),
        Seq(12L -> warcOf("https://w.m/b", 200, None)),
        Seq(13L -> warcOf("https://w.m/d", 301, Some("https://w.m/c")))
      ).zipWithIndex.foreach { case (rows, b) =>
        StreamRunner.frontierPublishBatch(
          rows.toDF("doc_id", "payload"), b.toLong,
          wh, s"${scratch}_fr", _ => None)
      }
      // --- ONE policy pass over all eleven lakes
      val actions = StreamRunner.maintainLakes(s, wh, Seq(
        ("semantic", s"${scratch}_sem", s"${scratch}_sem_serve",
          () => StreamRunner.compactSemantic(s, wh, s"${scratch}_sem")),
        ("dedup_corpus", s"${scratch}_ddc", s"${scratch}_ddc_serve",
          () => StreamRunner.compactCorpus(s, wh, s"${scratch}_ddc")),
        ("dedup_sigs", s"${scratch}_ddc_sigs", s"${scratch}_ddc_sigs_serve",
          () => StreamRunner.compactDedupIndex(s, wh, s"${scratch}_ddc")._1),
        ("dedup_hashes", s"${scratch}_ddc_hashes",
          s"${scratch}_ddc_hashes_serve",
          () => wh.currentVersion(s"${scratch}_ddc_hashes_serve").getOrElse(0)),
        ("dedup_stats", s"${scratch}_ddc_stats", s"${scratch}_ddc_stats_serve",
          () => StreamRunner.compactStats(s, wh, s"${scratch}_ddc")),
        ("postings", s"${scratch}_lex_postings",
          s"${scratch}_lex_postings_serve",
          () => StreamRunner.compactPostings(s, wh, s"${scratch}_lex")._1),
        ("doclen", s"${scratch}_lex_doclen", s"${scratch}_lex_doclen_serve",
          () => wh.currentVersion(s"${scratch}_lex_doclen_serve").getOrElse(0)),
        ("ivf", s"${scratch}_ivf", s"${scratch}_ivf_serve",
          () => StreamRunner.compactIvf(s, wh, s"${scratch}_ivf")),
        ("perceptual", s"${scratch}_pimg_sigs", s"${scratch}_pimg_sigs_serve",
          () => StreamRunner.compactPerceptual(s, wh, s"${scratch}_pimg")),
        ("frontier_records", s"${scratch}_fr_records",
          s"${scratch}_fr_records_serve",
          () => StreamRunner.compactFrontier(s, wh, s"${scratch}_fr")._1),
        ("frontier_settled", s"${scratch}_fr_settled",
          s"${scratch}_fr_settled_serve",
          () => wh.currentVersion(s"${scratch}_fr_settled_serve").getOrElse(0))))
      wh.truncateWrite(actions.toDF(
        "lake", "folded", "vacuumed_batches", "pruned_generations",
        "current_version")
        .coalesce(1), s"${scratch}_actions")
    }
  }

  private def cents(c: Column): Column = round(c * 100).cast("bigint")
  private def wide(c: Column): Column = c.cast(DecimalType(38, 0))
  /** Portable 60-bit content hash (same idiom as [[Dedup]]): Spark
    * `conv(substr(md5,1,15),16,10)` == DuckDB `'0x'||substr(md5,1,15)`.
    */
  private def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** THE contamination-safe split policy (80/10/10 on a 100-bucket content
    * hash) — the single definition shared by `txt_split_assign` and the
    * ingest capstone ([[Dedup]] `pipe_ingest_e2e`), so a threshold or hash
    * change can never leave the two disagreeing.
    */
  private[operators] def splitBucket(text: Column): Column =
    pmod(h60(text), lit(100L))
  private[operators] def splitOf(bucket: Column): Column =
    when(bucket < 80, lit("train"))
      .when(bucket < 90, lit("val"))
      .otherwise(lit("test"))

  /** The shared docs→budgets→histogram→cutoff→joined frames of the
    * token-budget family (`pipe_token_budget`, its `_cut` verdicts, and
    * the BPE-counted twins) — ONE definition so the report and the
    * verdict can never drift from each other or from the oracle's
    * straight-cumsum replay. `nTokens` is the per-doc token counter (an
    * expression over `text`: whitespace split or the trained BPE chain).
    *
    * Shape (the 100 TB argument): per-source budgets are a partial-agg'd
    * rollup; the md5-prefix HISTOGRAM (65k buckets max) finds the cutoff
    * bucket with a bounded cumulative window; `joined` carries every doc
    * with its source's `budget`, `cut_hb`, and `below_tokens` via two
    * broadcast joins — only the single cutoff bucket's docs ever enter
    * the `boundaryWindow` cumsum (occupancy-bounded, never the corpus).
    */
  private case class BudgetFrames(
      joined: DataFrame,
      boundaryWindow: org.apache.spark.sql.expressions.WindowSpec)

  /** The dataset-card rollup over a parameterized token counter — ONE
    * definition shared by the whitespace and BPE-counted cards so the
    * two can never drift structurally (only the counter differs).
    */
  private def datasetCard(docs: DataFrame, nTokens: Column): DataFrame =
    docs
      .withColumn("split", splitOf(splitBucket(col("text"))))
      .withColumn("n_tokens", nTokens.cast("bigint"))
      .withColumn("hsh", md5(col("text")))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars").cast("bigint")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        (count(lit(1)) - countDistinct(col("hsh"))).as("n_exact_dups"),
        expr("sum(n_tokens) DIV count(1)").as("avg_tokens"))
      .orderBy(col("split"))

  private def budgetCutFrames(docsIn: DataFrame, nTokens: Column): BudgetFrames = {
    val docs = docsIn.select(col("doc_id"), col("source"),
        nTokens.cast("bigint").as("n_tokens"), md5(col("text")).as("h"))
      .withColumn("hb", conv(substring(col("h"), 1, 4), 16, 10).cast("bigint"))
    val budgets = docs.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("__src_h", pmod(h60(col("source")), lit(3L)))
      .withColumn("budget", expr("src_tokens DIV (2 + __src_h)"))
      .select(col("source"), col("budget"))
    val hist = docs.groupBy(col("source"), col("hb"))
      .agg(sum(col("n_tokens")).as("bt"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cutoff = hist
      .withColumn("cum_before", coalesce(sum(col("bt")).over(wSrc), lit(0L)))
      .join(broadcast(budgets), "source")
      .filter(col("cum_before") + col("bt") >= col("budget"))
      .groupBy(col("source"))
      .agg(min(struct(col("hb"), col("cum_before"))).as("c"))
      .select(col("source"), col("c.hb").as("cut_hb"),
        col("c.cum_before").as("below_tokens"))
    val joined = docs.join(broadcast(cutoff), Seq("source"), "left")
      .join(broadcast(budgets), "source")
    val wB = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    BudgetFrames(joined, wB)
  }

  /** The per-source selection REPORT over [[budgetCutFrames]]: buckets
    * below the cutoff are taken whole, the cutoff bucket take-whiles its
    * own cumsum (so overshoot is at most one doc).
    */
  private def budgetSelectionReport(f: BudgetFrames): DataFrame = {
    val fullBelow = f.joined
      .filter(col("cut_hb").isNull || col("hb") < col("cut_hb"))
      .select(col("source"), col("budget"), col("n_tokens"))
    val boundary = f.joined.filter(col("hb") === col("cut_hb"))
      .withColumn("cb",
        coalesce(sum(col("n_tokens")).over(f.boundaryWindow), lit(0L)))
      .filter(col("below_tokens") + col("cb") < col("budget"))
      .select(col("source"), col("budget"), col("n_tokens"))
    fullBelow.unionByName(boundary)
      .groupBy(col("source"))
      .agg(max(col("budget")).cast("bigint").as("budget"),
        count(lit(1)).cast("bigint").as("n_selected"),
        sum(col("n_tokens")).cast("bigint").as("sel_tokens"))
      .withColumn("overshoot", (col("sel_tokens") - col("budget")).cast("bigint"))
      .orderBy(col("source"))
  }

  /** The SEQUENCE-PACKING report over a parameterized token counter —
    * the GPT-style concat-and-chunk accounting, per (shard, 1000-doc
    * block) so the running cumsum window is block-bounded, never a
    * corpus-wide sort. Shared by the whitespace and BPE-counted forms.
    */
  private def seqPackReport(docsIn: DataFrame, nTokens: Column): DataFrame = {
    val C = 512L
    val docs = docsIn.select(col("doc_id"),
        pmod(h60(col("text")), lit(8L)).as("shard"),
        nTokens.cast("bigint").as("n_tokens"))
      .withColumn("block", expr("doc_id DIV 1000"))
    val w = Window.partitionBy(col("shard"), col("block"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val placed = docs
      .withColumn("cb", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("spans",
        expr(s"(cb DIV $C) < ((cb + n_tokens - 1) DIV $C)"))
    placed.groupBy(col("shard"), col("block"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("toks"),
        sum(when(col("spans"), 1L).otherwise(0L)).as("n_span"))
      .withColumn("wins", expr(s"(toks + ${C - 1}) DIV $C"))
      .groupBy(col("shard"))
      .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
        sum(col("toks")).cast("bigint").as("total_tokens"),
        sum(col("wins")).cast("bigint").as("n_windows"),
        sum(col("n_span")).cast("bigint").as("n_spanning"))
      .withColumn("fill_x1e6",
        expr(s"(total_tokens * 1000000) DIV (n_windows * $C)"))
      .orderBy(col("shard"))
  }

  /** The per-doc CUT verdicts over the same frames — two
    * partition-pruned branches unioned with the always-decided
    * remainder (the dedup_span_frac → dedup_span_cut convention).
    */
  private def budgetCutVerdicts(f: BudgetFrames): DataFrame = {
    val boundary = f.joined.filter(col("hb") === col("cut_hb"))
      .withColumn("cb",
        coalesce(sum(col("n_tokens")).over(f.boundaryWindow), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("below_tokens") + col("cb") < col("budget")).as("keep"))
    f.joined.filter(col("cut_hb").isNull || col("hb") =!= col("cut_hb"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (col("cut_hb").isNull || col("hb") < col("cut_hb")).as("keep"))
      .unionByName(boundary)
      .orderBy(col("doc_id"))
  }

  /** A REAL shard export for the manifest job: the corpus written ONCE
    * (per corpus fingerprint — the [[Artifacts]] staleness
    * contract) as a shard-partitioned table, shard = content-hash mod 8 —
    * the deterministic assignment a WebDataset/TFRecord export uses so
    * re-exports land documents in the same shard and byte-identical docs
    * co-locate. pipe_export_shards computes its manifest from the
    * READBACK of these files (the WAP readback principle: the manifest
    * describes what a trainer will actually read, catching writer-side
    * truncation), while the oracle recomputes it from `documents`
    * directly — any export loss/duplication breaks the hash.
    */
  private[graft] object ExportFixture {
    def tableName(s: SparkSession, d: String): String =
      Artifacts.publish("corpus_shards", d) { scratch =>
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("n_chars"),
            pmod(h60(col("text")), lit(8L)).as("shard"))
          .write.partitionBy("shard").parquet(Artifacts.wh.tablePath(scratch))
      }
  }

  /** A REAL versioned lake table for the version-pinned diff: three
    * `_v=N` snapshots of the corpus written through
    * [[graft.pipeline.Warehouse.versionedWrite]] (immutable snapshot
    * dirs + atomic marker commit), built once per corpus fingerprint
    * (the [[Artifacts]] staleness contract). Snapshot
    * contents follow the `pipe_snapshot_diff` conventions so the oracle
    * can replay them from `documents` independently:
    *   v1 = doc_id % 10 ≠ 0;
    *   v2 = doc_id % 23 ≠ 0 with % 37 = 0 texts revised;
    *   v3 = v2 minus doc_id % 5 = 0 — the LATEST decoy: a diff that
    *        silently read "latest" instead of the pinned v1/v2 pair
    *        produces different counts and fails the oracle hash.
    */
  private[operators] object VersionedFixture {
    def tableName(s: SparkSession, d: String): String =
      Artifacts.publish("corpus_versions", d) { scratch =>
        val docs = Tables.documents(s, d)
        val v1 = docs.filter(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), h60(col("text")).as("h"),
            col("n_chars").cast("bigint").as("n_chars"))
        val v2 = docs.filter(col("doc_id") % 23 =!= 0)
          .select(col("doc_id"),
            h60(when(col("doc_id") % 37 === 0, concat(col("text"), lit(" rev2")))
              .otherwise(col("text"))).as("h"),
            col("n_chars").cast("bigint").as("n_chars"))
        Artifacts.wh.versionedWrite(v1, scratch)
        Artifacts.wh.versionedWrite(v2, scratch)
        Artifacts.wh.versionedWrite(v2.filter(col("doc_id") % 5 =!= 0), scratch): Unit
      }
  }

  /** Morton (Z-order) bit-interleave of two `bits`-bit BIGINT columns as a
    * flat arithmetic sum — bit i of `x` lands at position 2i, bit i of `y`
    * at 2i+1. Generated as the same literal expression for both engines
    * (`divOp` = Spark `div` / DuckDB `//`), so the key is trivially
    * oracle-exact.
    */
  private[graft] def zorderExpr(x: String, y: String, bits: Int,
      divOp: String): String =
    (0 until bits).map { i =>
      s"(($x $divOp ${1L << i}) % 2) * ${1L << (2 * i)}" +
        s" + (($y $divOp ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- contamination-safe train/val/test split (80/10/10): the split
    // key is md5(text), so byte-identical documents deterministically land
    // in the SAME split — dedup-then-split remains safe even if upstream
    // dedup missed an exact pair. Pure map stage: zero shuffles at any SF
    // (the output ORDER BY is presentation-only on the source key). ----
    // ---- the DATASET CARD: the per-split accounting report a corpus
    // release ships with — volume (docs, whitespace tokens, chars),
    // language coverage (distinct langs + English share), the EXACT
    // content-dup rate (docs − distinct md5(text)), and mean length —
    // one scan + one split-key aggregation (md5/token counts ride the
    // scan; the two distincts are the q_profile single-Expand class over
    // a 3-row grouping). The (split, md5) partials are the one
    // corpus-sized shuffle (1.7 MB at sf1); at 100 TB swap the exact dup
    // count for graft_hll registers — unlike per-user day counts, corpus
    // hash cardinality is far above the raw estimator's small-range bias
    // zone, the q_hll_distinct use case exactly. Splits come from THE
    // shared contamination-safe policy (splitBucket/splitOf), so the
    // card describes exactly the corpus txt_split_assign ships.
    // NAMING POLICY (round 15): whitespace counts are the cheap
    // DIAGNOSTIC form — pipe_dataset_card_bpe is the PRIMARY,
    // budget-consistent card (counts with the shipped BPE merge table,
    // the number a token budget actually spends); cite the _bpe number
    // in release notes (SURVEY §2.12). ----
    "pipe_dataset_card" -> ((s, d) => {
      datasetCard(Tables.documents(s, d),
        expr("CAST(size(split(text, ' ')) AS BIGINT)"))
    }),

    // ---- the TOKENIZER-CONSISTENT card: identical rollup, token mass
    // under the shipped BPE merge table ([[TextAnalysis.bpeTokenCountSql]]
    // — the counter the budget/packing family already uses), so a
    // release card and the mixture/budget configs it documents can never
    // disagree about what a "token" is. Same single-scan plan — the
    // merge chain is a codegen'd literal-replace projection. ----
    "pipe_dataset_card_bpe" -> ((s, d) => {
      TextAnalysis.requireBpeCountable(s, d)
      datasetCard(Tables.documents(s, d), expr(TextAnalysis.bpeTokenCountSql))
    }),

    "txt_split_assign" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("bucket", splitBucket(col("text")))
        .select(col("doc_id"), col("source"),
          splitOf(col("bucket")).as("split"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ---- per-source quality gate: keep the top quarter of each source by
    // n_chars — assigned by a CUT VALUE, not a rank. The per-source
    // quartile cutoff comes from a count-of-counts histogram of the
    // integer n_chars (partial-agg'd; the cumulative window runs over
    // HISTOGRAM rows — distinct lengths per source, the evt_rfm_segments
    // bounded-input class — never a docs-sized sort), the ≤|sources|-row
    // cut table broadcasts back, and keep = n_chars ≥ t1 is a shuffle-free
    // comparison. t1 = length at descending rank ⌊n/4⌋; on tie-free data
    // exactly the old rn·4 ≤ n_src rule, and a tie group at the cut is now
    // kept whole (the old doc_id tie-split forced every doc of a hub
    // source through ONE row_number sort task — the txt_domain_cap
    // scaladoc's named anti-pattern, fixed the same way). ----
    "txt_quality_topp" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cumW = Window.partitionBy(col("source")).orderBy(desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val allW = Window.partitionBy(col("source"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cuts = docs.groupBy(col("source"), col("n_chars"))
        .agg(count(lit(1)).as("k"))
        .withColumn("cum", sum(col("k")).over(cumW))
        .withColumn("n_src", sum(col("k")).over(allW))
        .groupBy(col("source"))
        .agg(max(when(col("n_src") >= 4 &&
          col("cum") >= expr("n_src DIV 4"), col("n_chars"))).as("t1"))
      docs.join(broadcast(cuts), "source")
        .filter(col("t1").isNotNull && col("n_chars") >= col("t1"))
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // ---- per-domain quota cap: keep the 10 highest-quality documents of
    // EACH source (score = n_chars, ties to the smaller doc_id) — the hard
    // per-domain cap a crawl pipeline applies so one hub domain can't
    // dominate the mix. Deliberately NOT a window: row_number() would sort
    // every source partition in full and funnel a hub domain through one
    // task. `graft_topk` is a TypedImperativeAggregate, so each mapper
    // keeps a bounded k-row buffer per source and emits ≤ k rows into the
    // shuffle (map-side combine) — the hub domain's billions of rows
    // reduce to k per input partition before they ever move. ----
    "txt_domain_cap" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(call_function("graft_topk",
          col("n_chars").cast("double"), col("doc_id"), lit(10)).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col.id").as("doc_id"), col("col.score").cast("bigint").as("n_chars"))
        .orderBy(col("source"), col("rank"))
    }),

    // ---- corpus snapshot diff (CDC between two lake snapshots): classify
    // every doc_id as added / removed / changed / unchanged between
    // yesterday's corpus (A: doc_id % 10 != 0, the dedup_incremental
    // convention) and today's (B: drops doc_id % 23 = 0, revises
    // doc_id % 37 = 0). ONE key-partitioned full-outer join comparing
    // 60-bit content hashes — never the text itself, so the shuffle
    // carries 16 bytes/row; with both snapshots bucketed by doc_id (the
    // lake layout [[graft.pipeline.Pipeline.bucketedWrite]] provides) the
    // join plans with zero Exchange. This is the audit a daily-snapshot
    // lake publishes so downstream consumers know what moved. ----
    "pipe_snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), h60(col("text")).as("h_a"),
          col("n_chars").as("chars_a"))
      val b = docs.filter(col("doc_id") % 23 =!= 0)
        .select(col("doc_id"),
          h60(when(col("doc_id") % 37 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("h_b"),
          col("n_chars").as("chars_b"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("change_type",
          when(col("h_a").isNull, lit("added"))
            .when(col("h_b").isNull, lit("removed"))
            .when(col("h_a") =!= col("h_b"), lit("changed"))
            .otherwise(lit("unchanged")))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("chars_b"), col("chars_a"))).cast("bigint")
            .as("total_chars"))
        .orderBy(col("change_type"))
    }),

    // ---- training-shard export manifest: the accounting file a corpus
    // release ships NEXT TO its shards so a trainer can verify what it
    // downloads. The corpus is genuinely EXPORTED (content-hash mod 8
    // shard-partitioned parquet, [[ExportFixture]]) and the manifest is
    // computed from the READBACK of those files — per shard: doc count,
    // char/token mass, an order-independent bit_xor content checksum over
    // the 60-bit hashes, and the doc-id range. The oracle recomputes the
    // same manifest from `documents` directly, so any export
    // loss/duplication/mis-assignment breaks the hash. At 100 TB the
    // export is one partitioned write (shard pruning for any re-reader)
    // and the manifest one partial-agg'd pass over it; bit_xor state is
    // 8 bytes per shard. ----
    // ---- TOKEN-BUDGET mixture sampler — "sample each source down to
    // its token budget" (the data-mixing step that turns raw source
    // masses into a training mixture): docs are taken in deterministic
    // md5 order until the source's budget (here src_tokens DIV (2 + 
    // md5(source) mod 3) — a derived stand-in for the mixture config)
    // is reached. Scalable selection WITHOUT a per-source corpus sort —
    // the count-of-counts histogram-cut pattern: (source, 16-bit md5
    // prefix) token masses partial-agg to ≤ 65536 rows per source, a
    // bounded cumulative window finds the CUTOFF bucket, and only that
    // one bucket's docs need a within-bucket cumsum (occupancy-bounded);
    // buckets below the cutoff are taken whole, above dropped. Because
    // the bucket id is a PREFIX of the md5 order, the two-stage pick
    // equals the straight per-source cumsum the oracle replays. Includes
    // the straddling doc (take-while cum_before < budget), so overshoot
    // is at most one doc. ----
    "pipe_token_budget" -> ((s, d) => {
      budgetSelectionReport(budgetCutFrames(Tables.documents(s, d),
        size(split(col("text"), " ")).cast("bigint")))
    }),

    // ---- the CUT itself — pipe_token_budget's report turned into the
    // per-doc keep verdict a downstream export consumes (the
    // dedup_span_frac → dedup_span_cut convention): every doc keeps a
    // row, keep = true iff its md5-order prefix position lands under
    // the source's budget. Same histogram-cut machinery — the verdict
    // assembly is two partition-pruned branches unioned with the
    // always-false remainder. ----
    "pipe_token_budget_cut" -> ((s, d) => {
      budgetCutVerdicts(budgetCutFrames(Tables.documents(s, d),
        size(split(col("text"), " ")).cast("bigint")))
    }),

    // ---- SEQUENCE-PACKING report — the GPT-style concat-and-chunk
    // accounting a pretraining data loader runs: documents concatenate in
    // doc_id order and split into fixed 512-token context windows, so a
    // doc whose token span crosses a window boundary is SPLIT across
    // training examples. Packing is PER (shard, 1000-doc block) — the
    // pack-within-a-file-split shape real loaders use — so the running
    // cumsum window is bounded by the block, never a corpus-wide sort
    // (the hub-funnel rule). Report per shard: doc/token mass, window
    // count (sum of per-block ceils), boundary-crossing docs, and the
    // integer fill ratio (padding waste = 1e6 − fill). The oracle replays
    // the identical cumsum/ceil arithmetic. ----
    "pipe_seq_pack" -> ((s, d) => {
      seqPackReport(Tables.documents(s, d),
        size(split(col("text"), " ")).cast("bigint"))
    }),

    // ---- TOKENIZER-CONSISTENT twins of the budget family: the same
    // histogram-cut / block-bounded-cumsum plans, but every count is BPE
    // TOKENS under the shipped merge table
    // ([[TextAnalysis.bpeTokenCountSql]] — the txt_bpe_apply inference
    // chain), because real mixture configs and context windows are in
    // tokenizer tokens, not whitespace words. The merge chain is a
    // codegen'd literal-replace projection, so the plan shapes (and the
    // 100 TB argument) are unchanged; the oracle applies the identical
    // chain textually. ----
    "pipe_token_budget_bpe" -> ((s, d) => {
      TextAnalysis.requireBpeCountable(s, d)
      budgetSelectionReport(budgetCutFrames(Tables.documents(s, d),
        expr(TextAnalysis.bpeTokenCountSql)))
    }),

    "pipe_seq_pack_bpe" -> ((s, d) => {
      TextAnalysis.requireBpeCountable(s, d)
      seqPackReport(Tables.documents(s, d), expr(TextAnalysis.bpeTokenCountSql))
    }),

    "pipe_export_shards" -> ((s, d) => {
      TextAnalysis.requireBpeCountable(s, d)
      Artifacts.wh.read(s, ExportFixture.tableName(s, d))
        .groupBy(col("shard").cast("bigint").as("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          sum(expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))"))
            .cast("bigint").as("total_tokens"),
          // the manifest a release note quotes must count the SAME
          // tokens the mixture/budget configs do — BPE under the
          // shipped merge table, alongside the legacy regex count
          sum(expr(TextAnalysis.bpeTokenCountSql))
            .cast("bigint").as("total_tokens_bpe"),
          expr("bit_xor(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT))")
            .as("checksum_xor"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("shard"))
    }),

    // ---- version-PINNED snapshot diff: the lineage question "what
    // changed between training-set v1 and v2" answered end-to-end
    // through the warehouse's time-travel layer. Unlike
    // pipe_snapshot_diff (which derives both sides inline), BOTH inputs
    // here are genuine `_v=N` snapshot directories written by
    // [[graft.pipeline.Warehouse.versionedWrite]] and read back by
    // [[graft.pipeline.Warehouse.readVersion]] with EXPLICIT pins — and
    // the table's CURRENT version is a deliberately different v3, so a
    // read that silently fell through to "latest" produces different
    // counts and fails the oracle hash. The diff itself is the
    // pipe_snapshot_diff CDC join: one key-partitioned full-outer join
    // carrying 16-byte content hashes, never text. At 100 TB the pinned
    // reads are manifest-selected file scans (no extra cost vs latest)
    // and the join is the same one the unpinned diff pays. ----
    "pipe_version_diff" -> ((s, d) => {
      val table = VersionedFixture.tableName(s, d)
      val a = Artifacts.wh.readVersion(s, table, Some(1))
        .select(col("doc_id"), col("h").as("h_a"), col("n_chars").as("chars_a"))
      val b = Artifacts.wh.readVersion(s, table, Some(2))
        .select(col("doc_id"), col("h").as("h_b"), col("n_chars").as("chars_b"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("change_type",
          when(col("h_a").isNull, lit("added"))
            .when(col("h_b").isNull, lit("removed"))
            .when(col("h_a") =!= col("h_b"), lit("changed"))
            .otherwise(lit("unchanged")))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("chars_b"), col("chars_a"))).cast("bigint")
            .as("total_chars"))
        .orderBy(col("change_type"))
    }),

    // ---- training-mix drift monitor: compare the language distribution
    // of two corpus snapshots (A: doc_id % 10 != 0, B: doc_id % 23 != 0 —
    // the pipe_snapshot_diff conventions) and flag languages whose share
    // moved more than 10% relative. exp_b = n_a·tot_b/tot_a is A's mix
    // re-scaled to B's size; drift_x1000 is the relative deviation in
    // exact integer arithmetic (no doubles, so the row hashes). This is
    // the daily report a training pipeline gates ingestion on: a crawl
    // source going dark or a spam flood shows up here before it skews the
    // trained model. Two partial-agg'd group-bys over |langs| rows, the
    // 1-row totals broadcast — one corpus scan per snapshot. ----
    "pipe_drift_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") % 10 =!= 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_a"))
      val b = docs.filter(col("doc_id") % 23 =!= 0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_b"))
      val tot = a.agg(sum(col("n_a")).as("tot_a"))
        .crossJoin(b.agg(sum(col("n_b")).as("tot_b")))
      a.join(b, Seq("lang"), "full_outer")
        .na.fill(0L, Seq("n_a", "n_b"))
        .crossJoin(broadcast(tot))
        .withColumn("exp_b", expr("(n_a * tot_b) DIV tot_a").cast("bigint"))
        .withColumn("drift_x1000",
          expr("(1000 * abs(n_b - exp_b)) DIV greatest(exp_b, 1)").cast("bigint"))
        .select(col("lang"), col("n_a").cast("bigint"), col("n_b").cast("bigint"),
          col("exp_b"), col("drift_x1000"), (col("drift_x1000") > 100).as("drifted"))
        .orderBy(col("lang"))
    }),

    // ---- small-file compaction plan: group the lake's file inventory
    // into ~target-size rewrite bins (target 2048 chars here; 128 MB in
    // production) — the maintenance job that keeps a streaming-ingested
    // lake from collapsing under open-file overhead. Files are simulated
    // as (source, doc_id % 50) groups; the plan assigns each file to bin
    // floor(cumulative_offset / target) in file_id order, i.e. the
    // deterministic streaming form of bin packing (a file straddling a
    // boundary joins the earlier bin, so bins can exceed target by at most
    // one file — the same contract Delta/Iceberg OPTIMIZE uses). The
    // window cumsum runs over the FILE INVENTORY (metadata, thousands of
    // rows), never over data — at 100 TB this plan is a driver-side
    // metadata query and the data is touched only by the rewrite it
    // emits. ----
    "pipe_compaction_plan" -> ((s, d) => {
      val files = Tables.documents(s, d)
        .groupBy(col("source"), (col("doc_id") % 50).as("file_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bytes"))
      val before = Window.partitionBy(col("source")).orderBy(col("file_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      files
        .withColumn("off", coalesce(sum(col("bytes")).over(before), lit(0L)))
        .withColumn("bin", expr("off DIV 2048"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).cast("bigint").as("n_files"),
          sum(col("n_docs")).cast("bigint").as("n_docs"),
          sum(col("bytes")).cast("bigint").as("bytes"),
          min(col("file_id")).as("first_file"),
          max(col("file_id")).as("last_file"))
        .orderBy(col("source"), col("bin"))
    }),

    // ---- the unified LAKE-HEALTH report — the maintenance-policy view
    // an operator running N bounded streamed lakes checks daily: per
    // lake, live fragment mass, the unfolded tail above the current
    // generation's sidecar watermark, the retained snapshot chain, and
    // whether a vacuum at the production slack would reclaim anything
    // NOW. Resolved entirely from metadata (directory listings + the
    // `_v=N.meta` watermark sidecars — zero Spark jobs, zero data
    // reads; at 100 TB this is the same object-store LIST a table
    // format's maintenance planner does). The fixture pins all four
    // lifecycle states; the oracle is the documented state machine:
    // each state's expected row follows directly from the fold/vacuum
    // contracts (fold absorbs every live batch ≤ its watermark; full
    // vacuum leaves zero live leaves; eligibility needs > slack
    // generations AND a leaf at or below the slack boundary). ----
    "pipe_lake_health" -> ((s, d) => {
      val p = LakeHealthFixture.build(s, d)
      val wh = LakeHealthFixture.wh
      val rows = graft.streaming.StreamRunner.lakeHealth(wh, Seq(
        ("fresh", s"${p}_fresh", s"${p}_fresh_serve"),
        ("hybrid", s"${p}_hyb", s"${p}_hyb_serve"),
        ("two_gen", s"${p}_gen2", s"${p}_gen2_serve"),
        ("vacuumed", s"${p}_vac", s"${p}_vac_serve")))
      import s.implicits._
      rows.toDF("lake", "live_batches", "tail_batches",
        "retained_generations", "current_version", "vacuum_eligible")
        .orderBy(col("lake"))
    }),

    // ---- the POLICY pass that closes the maintenance loop: a daily
    // job reads pipe_lake_health's view and RUNS the maintenance the
    // policy calls for (fold at ≥ 2 unfolded tail batches; vacuum at
    // production slack 1 when eligible; then generation RETENTION at
    // keep=2, which must exceed the slack so pinned readers never lose
    // their generation to the prune) — each lake supplying its own fold
    // body, including the perceptual index's count-merging LSM fold.
    // The report joins the pass's ACTION TRAIL (what ran) with the
    // POST-maintenance health row (what state resulted): folds absorb
    // exactly the tail, a fold can make its lake vacuum-eligible AND
    // trip retention within the same pass, and an idle lake is provably
    // untouched. Decisions are metadata reads; only the chosen
    // folds/vacuums touch data. The oracle is the policy's documented
    // state machine over the four fixture states. ----
    "pipe_lake_maintain" -> ((s, d) => {
      val p = LakeMaintainFixture.build(s, d)
      val wh = LakeMaintainFixture.wh
      val post = graft.streaming.StreamRunner.lakeHealth(wh, Seq(
        ("fold_only", s"${p}_fold_only", s"${p}_fold_only_serve"),
        ("fold_vac", s"${p}_fold_vac", s"${p}_fold_vac_serve"),
        ("idle", s"${p}_idle", s"${p}_idle_serve"),
        ("perceptual", s"${p}_perc_sigs", s"${p}_perc_sigs_serve")))
      import s.implicits._
      val health = post.toDF("lake", "live_batches", "tail_batches",
        "retained_generations", "current_version_h", "vacuum_eligible")
      wh.read(s, s"${p}_actions")
        .join(health, Seq("lake"))
        .select(col("lake"), col("folded"), col("vacuumed_batches"),
          col("pruned_generations"), col("current_version"),
          col("live_batches"), col("tail_batches"),
          col("retained_generations"), col("vacuum_eligible"))
        .orderBy(col("lake"))
    }),

    // ---- the WAREHOUSE-WIDE maintenance demo: ONE maintainLakes pass
    // over all eleven real-lake triples ([[WarehouseMaintFixture]] —
    // every streamed-lake kind, built through its real ingest body),
    // joined with the post-pass health view. The mixed pre-fold states
    // make the single trail exercise first-fold, fold-forward+vacuum,
    // and fold+vacuum+retention in one pass; the post-health join pins
    // that the pass left every lake in its documented steady state. ----
    "pipe_warehouse_maintain" -> ((s, d) => {
      val p = WarehouseMaintFixture.build(s, d)
      val wh = WarehouseMaintFixture.wh
      val post = graft.streaming.StreamRunner.lakeHealth(wh, Seq(
        ("semantic", s"${p}_sem", s"${p}_sem_serve"),
        ("dedup_corpus", s"${p}_ddc", s"${p}_ddc_serve"),
        ("dedup_sigs", s"${p}_ddc_sigs", s"${p}_ddc_sigs_serve"),
        ("dedup_hashes", s"${p}_ddc_hashes", s"${p}_ddc_hashes_serve"),
        ("dedup_stats", s"${p}_ddc_stats", s"${p}_ddc_stats_serve"),
        ("postings", s"${p}_lex_postings", s"${p}_lex_postings_serve"),
        ("doclen", s"${p}_lex_doclen", s"${p}_lex_doclen_serve"),
        ("ivf", s"${p}_ivf", s"${p}_ivf_serve"),
        ("perceptual", s"${p}_pimg_sigs", s"${p}_pimg_sigs_serve"),
        ("frontier_records", s"${p}_fr_records", s"${p}_fr_records_serve"),
        ("frontier_settled", s"${p}_fr_settled", s"${p}_fr_settled_serve")))
      import s.implicits._
      val health = post.toDF("lake", "live_batches", "tail_batches",
        "retained_generations", "current_version_h", "vacuum_eligible")
      wh.read(s, s"${p}_actions")
        .join(health, Seq("lake"))
        .select(col("lake"), col("folded"), col("vacuumed_batches"),
          col("pruned_generations"), col("current_version"),
          col("live_batches"), col("tail_batches"),
          col("retained_generations"), col("vacuum_eligible"))
        .orderBy(col("lake"))
    }),

    // ---- k-anonymity audit with one generalization step: before a corpus
    // slice is shared, every quasi-identifier class (lang × source ×
    // 200-char size band) must hold ≥ k=5 documents. Classes below k are
    // GENERALIZED — re-aggregated with source wildcarded — and classes
    // still below k after that are counted into one suppressed row
    // (lang='*', band=-1): the standard generalize-then-suppress ladder.
    // Work is two partial-agg'd group-bys over class counts (the level-2
    // input is |level-1 classes| rows, not documents), so the audit costs
    // one corpus scan regardless of SF. ----
    "q_kanon_audit" -> ((s, d) => {
      val k = 5L
      // cached: the class-count table (bounded by QI cardinality, not
      // corpus size) feeds all three ladder levels — uncached, each level
      // re-scans the corpus
      val l1 = Tables.documents(s, d)
        .groupBy(col("lang"), col("source"),
          expr("n_chars DIV 200").cast("bigint").as("size_band"))
        .agg(count(lit(1)).as("n_docs"))
        .cache()
      val ok1 = l1.filter(col("n_docs") >= k)
        .select(col("lang"), col("source"), col("size_band"),
          col("n_docs"), lit(1L).as("level"))
      val l2 = l1.filter(col("n_docs") < k)
        .groupBy(col("lang"), col("size_band"))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"))
      val ok2 = l2.filter(col("n_docs") >= k)
        .select(col("lang"), lit("*").as("source"), col("size_band"),
          col("n_docs"), lit(2L).as("level"))
      val suppressed = l2.filter(col("n_docs") < k)
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"))
        .filter(col("n_docs").isNotNull)
        .select(lit("*").as("lang"), lit("*").as("source"),
          lit(-1L).as("size_band"), col("n_docs"), lit(3L).as("level"))
      ok1.unionByName(ok2).unionByName(suppressed)
        .orderBy(col("level"), col("lang"), col("source"), col("size_band"))
    }),

    // ---- incremental materialized-view refresh: merge yesterday's
    // per-source rollup STATE with today's ingest DELTA (doc_id % 10 = 0,
    // the dedup_incremental convention) using only algebraic merges —
    // counts and sums add, maxes max — then derive avg from the merged
    // sums. The oracle recomputes the rollup from the FULL corpus
    // directly, so the hash match is the proof that the incremental
    // algebra is exact: a lake can maintain this view forever touching
    // only ingest-sized deltas plus |sources| state rows, never
    // rescanning 100 TB. (The same contract the mergeable sketches extend
    // to distincts/quantiles — q_hll_rollup, q_percentiles_rollup.) ----
    "pipe_mv_refresh" -> ((s, d) => {
      def rollup(df: DataFrame): DataFrame = df.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"),
          max(col("n_chars")).as("max_chars"))
      val docs = Tables.documents(s, d)
      val state = rollup(docs.filter(col("doc_id") % 10 =!= 0))
      val delta = rollup(docs.filter(col("doc_id") % 10 === 0))
      state.unionByName(delta)
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).cast("bigint").as("n_docs"),
          sum(col("total_chars")).cast("bigint").as("total_chars"),
          max(col("max_chars")).as("max_chars"))
        .withColumn("avg_chars", expr("total_chars DIV n_docs").cast("bigint"))
        .orderBy(col("source"))
    }),

    // ---- referential-integrity audit: one row per FK edge with its row
    // and orphan counts — the data-quality gate a lake runs before
    // publishing a batch. ZERO-data-shuffle form: orphans = total − matched,
    // where matched is a LEFT SEMI join against the EXPLICITLY broadcast PK
    // side. Three deliberate choices, each earned by a measured regression:
    //  - explicit broadcast: Catalyst's size estimate pushed the r6 left
    //    join to sort-merge at sf1, shuffling every fact row (4.4× ratio);
    //  - left semi, not left outer: semi never duplicates probe rows, so
    //    the parent side needs NO `.distinct()` — whose exchange was the
    //    last 8 MB of shuffle on this query (ShuffleAudit, sf1);
    //  - two partial-agg counts instead of one outer-join pass: both are
    //    pruned single-column scans with a 1-row-per-partition gather.
    // When the PK set outgrows broadcast (fact-fact edges at extreme SF),
    // the fallback is pre-aggregating child keys (groupBy(ck).count(),
    // map-side combine) into a key-shuffle join. A Bloom prefilter of the
    // probe side was considered and rejected: misses (definite orphans)
    // are the RARE rows, so ~every row still needs the exact join — a
    // bloom can't cut an exact orphan count. ----
    "q_fk_audit" -> ((s, d) => {
      def audit(child: DataFrame, ck: String, parent: DataFrame, pk: String,
                edge: String): DataFrame = {
        val total = child.select(col(ck))
          .agg(count(lit(1)).as("n_rows"))
        val matched = child.select(col(ck)).join(
            broadcast(parent.select(col(pk).as("__pk"))),
            col(ck) === col("__pk"), "left_semi")
          .agg(count(lit(1)).as("n_matched"))
        total.crossJoin(broadcast(matched))
          .select(lit(edge).as("fk_edge"), col("n_rows"),
            (col("n_rows") - col("n_matched")).cast("bigint").as("n_orphans"))
      }
      val li = Tables.lineitem(s, d)
      audit(li, "l_orderkey", Tables.orders(s, d), "o_orderkey", "lineitem->orders")
        .unionByName(audit(li, "l_partkey", Tables.part(s, d), "p_partkey",
          "lineitem->part"))
        .unionByName(audit(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders->customer"))
        .orderBy(col("fk_edge"))
    }),

    // ---- declarative data-expectations audit (the dbt-test /
    // Great-Expectations equivalent): every publish-gating rule evaluated
    // with the CHEAPEST plan its class allows, one report row per rule.
    //  - row-local rules (not-null, range, accepted set) share ONE
    //    conditional-aggregate scan — adding a rule adds a column, never
    //    a pass;
    //  - uniqueness is the partial-agg'd key count (n_rows − n_keys via
    //    groupBy(key) — map-side combine, never count(DISTINCT)'s single
    //    reduce of raw keys);
    //  - referential integrity reuses q_fk_audit's zero-shuffle broadcast
    //    left-semi form.
    // The report unions 1-row locals, so at 100 TB the cost is the two
    // pruned scans + one key aggregation, regardless of rule count. The
    // in_range cutoff deliberately catches the fixture's 2001 dates —
    // the report must show a FAILING rule beside passing ones. ----
    "q_expectations_audit" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val rowAgg = o.agg(
        count(lit(1)).as("n"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_nn"),
        sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v_pos"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
          .as("v_set"),
        sum(when(to_date(col("o_orderdate"))
            .between(lit("1995-01-01").cast("date"), lit("2000-12-31").cast("date")),
          0L).otherwise(1L)).as("v_rng"))
      val rowRules = rowAgg.select(explode(array(
          struct(lit("o_custkey not_null").as("rule"),
            col("n").as("n_checked"), col("v_nn").as("n_violations")),
          struct(lit("o_orderdate in_range").as("rule"),
            col("n").as("n_checked"), col("v_rng").as("n_violations")),
          struct(lit("o_orderstatus accepted_set").as("rule"),
            col("n").as("n_checked"), col("v_set").as("n_violations")),
          struct(lit("o_totalprice positive").as("rule"),
            col("n").as("n_checked"), col("v_pos").as("n_violations"))))
          .as("r"))
        .select(col("r.rule").as("rule"), col("r.n_checked").as("n_checked"),
          col("r.n_violations").as("n_violations"))
      // A NULL key never witnesses uniqueness: all k NULL-keyed rows are
      // violations, matching the oracle's count(*) − count(DISTINCT key)
      // (count(DISTINCT) ignores NULLs). Counting groups alone would score
      // k NULLs as k−1 — one short on exactly the pathological keys this
      // rule exists to catch.
      val uniqueRule = o.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).cast("bigint").as("n_checked"),
          (sum(col("c")) - count(when(col("o_orderkey").isNotNull, 1)))
            .cast("bigint").as("n_violations"))
        .select(lit("o_orderkey unique").as("rule"), col("n_checked"),
          col("n_violations"))
      val fkRule = {
        val total = o.select(col("o_custkey")).agg(count(lit(1)).as("n_checked"))
        val matched = o.select(col("o_custkey")).join(
            broadcast(Tables.customer(s, d).select(col("c_custkey").as("__pk"))),
            col("o_custkey") === col("__pk"), "left_semi")
          .agg(count(lit(1)).as("n_matched"))
        total.crossJoin(broadcast(matched))
          .select(lit("o_custkey fk_customer").as("rule"),
            col("n_checked"),
            (col("n_checked") - col("n_matched")).cast("bigint").as("n_violations"))
      }
      rowRules.unionByName(uniqueRule).unionByName(fkRule)
        .withColumn("pass", col("n_violations") === 0L)
        .orderBy(col("rule"))
    }),

    // ---- the AT-SCALE twin of q_expectations_audit's uniqueness rule
    // (the percentiles / percentiles_sketch pairing applied to the audit
    // gate): the exact rule's n_rows − n_keys is the gate's one
    // corpus-sized shuffle (every distinct key travels); this variant
    // replaces it with graft_hll — constant 256-register state per
    // partition partial, a few KB total on the wire at ANY corpus size.
    // Error-bound contract: m = 256 registers ⇒ relative standard error
    // σ ≈ 1.04/√m = 6.5%; the rule flags only duplication beyond 3σ
    // (est_distinct < 80.5% of non-null rows), so a pass here means "no
    // MASS duplication", not "zero duplicates" — run the exact rule at
    // audit time when the answer must be sharp, this one in the per-batch
    // 100 TB publish gate. NULL keys are counted separately and excluded
    // from the estimate (the sketch hashes non-null keys only), matching
    // the exact rule's all-NULLs-are-violations stance. The estimate
    // itself is hash-exact reproducible: the oracle replays the identical
    // register walk (bucket = low 8 hash bits, rho over the top lane) and
    // the same IEEE α·m²·2⁵³/S division. ----
    "q_expectations_audit_est" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val o = Tables.orders(s, d)
      o.agg(
          count(lit(1)).cast("bigint").as("n_checked"),
          sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
            .cast("bigint").as("n_null_keys"),
          call_function("graft_hll",
            graft.functions.TextFunctions.md5Bits(
              col("o_orderkey").cast("string"), 15)).as("sk"))
        .select(
          lit("o_orderkey unique_est").as("rule"),
          col("n_checked"), col("n_null_keys"),
          Relational.hllEst("sk").as("est_distinct"),
          // floor(n·0.805) split as quotient/remainder so the multiply
          // never overflows BIGINT at any batch size (n·805000 wraps at
          // ~1.15e13 rows — inside 100 TB range; same fix class as the
          // vocab-coverage millionths): n = q·1e6 + r ⇒
          // floor(n·805000/1e6) = q·805000 + floor(r·805000/1e6), exact
          expr("""CAST((n_checked - n_null_keys) DIV 1000000 * 805000
                 |  + ((n_checked - n_null_keys) % 1000000) * 805000 DIV 1000000
                 |  AS BIGINT)""".stripMargin)
            .as("min_expected"))
        .withColumn("pass", col("est_distinct") >= col("min_expected"))
    }),

    // ---- key-skew audit: the pre-shuffle report an operator runs before
    // choosing salting / AQE skew thresholds for a big join or aggregation
    // key. Exact integer percentiles of the GROUP-SIZE distribution via
    // count-of-counts: per-key counts collapse to a (size → #keys)
    // histogram first, so the window that computes cumulative coverage
    // runs over |distinct group sizes| rows — bounded by the max group
    // size, orders of magnitude below the key count (the same
    // bounded-input argument as q_mom_yoy's monthly window; at this
    // fixture the histogram is 13 rows for 14.7k keys). p_q = smallest
    // size with cumulative keys ≥ ⌈q·n_keys⌉, all ceilings as integer
    // DIV, so the row hashes exactly. skew_x100 = 100·max/p50 is the
    // salting decision number. ----
    "q_skew_report" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      val tot = counts.agg(count(lit(1)).as("n_keys"),
        sum(col("n")).cast("bigint").as("n_rows"), max(col("n")).as("max_n"))
      val hist = counts.groupBy(col("n")).agg(count(lit(1)).as("keys_at"))
      val cum = hist.withColumn("cum",
        sum(col("keys_at")).over(Window.orderBy(col("n"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.crossJoin(broadcast(tot))
        .groupBy(col("n_keys"), col("n_rows"), col("max_n"))
        .agg(
          min(when(col("cum") >= expr("(1 * n_keys + 1) DIV 2"), col("n"))).as("p50"),
          min(when(col("cum") >= expr("(9 * n_keys + 9) DIV 10"), col("n"))).as("p90"),
          min(when(col("cum") >= expr("(99 * n_keys + 99) DIV 100"), col("n"))).as("p99"))
        .select(col("n_keys"), col("n_rows"), col("max_n"),
          col("p50"), col("p90"), col("p99"),
          expr("CAST((100 * max_n) DIV p50 AS BIGINT)").as("skew_x100"))
    }),

    // ---- Z-order (Morton) data-layout audit: the multi-dimensional
    // clustering a 100 TB lake needs when queries filter on EITHER of two
    // keys (here user bucket × day). Linear layouts bound one dimension
    // per file and leave the other unbounded; interleaving the bits gives
    // every zkey-range file a bounded span in BOTH — dropping the low 10
    // z-bits leaves ≤ 32 consecutive values of each 8-bit dimension, so
    // min/max footer stats prune files for user-keyed AND date-keyed
    // predicates at once. At scale this is repartitionByRange(zkey) +
    // sortWithinPartitions(zkey) at write time; this query computes the
    // key (flat integer bit arithmetic, codegen'd, shuffle-free) and
    // audits the per-file span guarantee the pruning relies on. Day index
    // is days-since-epoch mod 256 (a real table anchors at its min date);
    // CurationSpec pins the ≤32-span bound and zkey↔(ub,db) bijectivity.
    // ----
    "q_zorder_layout" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(
          (col("user_id") % 256).cast("bigint").as("ub"),
          (datediff(to_date(col("ts")), to_date(lit("1970-01-01"))) % 256)
            .cast("bigint").as("db"))
        .withColumn("z", expr(zorderExpr("ub", "db", 8, "div")))
        .withColumn("file_id", expr("z div 1024"))
      base.groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ub")).as("min_ub"), max(col("ub")).as("max_ub"),
          min(col("db")).as("min_db"), max(col("db")).as("max_db"))
        .withColumn("ub_span", col("max_ub") - col("min_ub") + 1)
        .withColumn("db_span", col("max_db") - col("min_db") + 1)
        .orderBy(col("file_id"))
    }),

    // ---- MERGE / upsert: apply a change-set (updates: +10% price, status
    // 'U'; inserts: new keys, status 'I') onto the orders table in ONE
    // full-outer join on the key, then aggregate per final status as the
    // deterministic proof. The change-set is derived from the fixture
    // (o_orderkey % 7 → update, % 1000 → insert) so the oracle can derive
    // the identical set. Update price = cents·110 DIV 100 — exact integer
    // both engines. At 100 TB the same plan runs per date partition with
    // the key-partitioned join AQE-planned. ----
    "q_merge_upsert" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val updates = o.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey").as("u_key"), lit("U").as("u_status"),
          // `div`, not `/`: Spark's `/` is DOUBLE division, and the
          // round-then-truncate can land one off DuckDB's integer `//`
          expr("(CAST(round(o_totalprice * 100) AS BIGINT) * 110) div 100")
            .as("u_cents"))
      val inserts = o.filter(col("o_orderkey") % 1000 === 0)
        .select((col("o_orderkey") + 100000000L).as("u_key"), lit("I").as("u_status"),
          cents(col("o_totalprice")).as("u_cents"))
      val source = updates.unionByName(inserts)
      o.select(col("o_orderkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("t_cents"))
        .join(source, col("o_orderkey") === col("u_key"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("u_key")).as("key"),
          coalesce(col("u_status"), col("o_orderstatus")).as("status"),
          coalesce(col("u_cents"), col("t_cents")).as("c"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_rows"),
          (sum(wide(col("c"))).cast("double") / 100.0).as("total_price"))
        .orderBy(col("status"))
    }),

    // ---- LOCF (last observation carried forward) resample: a daily grid
    // per sampled user (user_id % 50 = 0), each day carrying the most
    // recent purchase value at or before it. The spine is generated
    // on-executor from a 1-row bound aggregate (never a driver loop) and
    // the carry is a RUNNING MAX of the observation day — portable to the
    // oracle, unlike IGNORE NULLS window variants whose null handling
    // differs across engines. Two shuffles: the (user, day) observation
    // aggregate and the user-partitioned carry window. ----
    "evt_locf" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull &&
        col("user_id") % 50 === 0)
      val users = ev.select(col("user_id")).distinct()
      val bounds = Tables.events(s, d)
        .agg(min(to_date(col("ts"))).as("d0"), max(to_date(col("ts"))).as("d1"))
      val days = bounds
        .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
      val obs = ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(col("user_id").as("ou"), to_date(col("ts")).as("od"))
        .agg(max(col("value")).as("obs_val"))
      val grid = users.crossJoin(broadcast(days))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, col("user_id") === col("ou") && col("day") === col("od"),
          "left_outer")
        .withColumn("last_day", max(when(col("obs_val").isNotNull, col("od")))
          .over(w))
        .select(col("user_id"), col("day"), col("last_day"))
        .join(obs, col("user_id") === col("ou") && col("last_day") === col("od"),
          "left_outer")
        .select(col("user_id"), col("day"), col("obs_val").as("val_filled"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- the curation capstone: quality gate → exact dedup →
    // benchmark decontamination → contamination-safe split, composed as
    // ONE declarative plan (the sequence a training-data team actually
    // ships). Decontamination drops any surviving doc sharing a 5-token
    // shingle with the bounded eval set (doc_id % 97 — eval members
    // remove themselves from the training corpus, as they must). Stage
    // fusion is the point: Catalyst pushes the quality filter into the
    // scan, the split hash is computed only for survivors, and the
    // per-split rollup is the only output-sized aggregate. ----
    "pipe_curation_e2e" -> ((s, d) => {
      val shingleExpr = expr(
        """transform(sequence(0, size(split(text, ' ')) - 5),
          |  i -> concat_ws(' ', slice(split(text, ' '), i + 1, 5)))""".stripMargin)
      val deduped = Tables.documents(s, d)
        .filter(col("n_chars") >= 100)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("n_chars")).as("n_chars"))
      val evalShingles = Tables.documents(s, d)
        .filter(col("doc_id") % 97 === 0 && size(split(col("text"), " ")) >= 5)
        .select(explode(shingleExpr).as("sh")).distinct()
      val contaminated = deduped
        .filter(size(split(col("text"), " ")) >= 5)
        .select(col("doc_id"), explode(shingleExpr).as("sh"))
        .join(broadcast(evalShingles), "sh")
        .select(col("doc_id")).distinct()
      deduped
        .join(contaminated, Seq("doc_id"), "left_anti")
        .withColumn("bucket", pmod(h60(col("text")), lit(100L)))
        .withColumn("split",
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val")).otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"))
        .orderBy(col("split"))
    }),

    // ---- linear multi-touch attribution: each purchase's value is split
    // equally across the user's view/click touches in the preceding 3
    // days. The join is an EQUI-join on user_id with the time window as a
    // residual predicate (one shuffle, skew handled by AQE) — not a range
    // join. Per-touch credit = value_cents·10^6 DIV n_touches: exact
    // integer division, so the final per-channel sums are
    // partition-order independent. ----
    "evt_multi_touch" -> ((s, d) => {
      val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      val p = ev.filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          unix_micros(col("ts")).as("p_ts"), cents(col("value")).as("v_cents"))
      val t = ev.filter(col("event_type").isin("view", "click"))
        .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
          unix_micros(col("ts")).as("t_ts"), col("event_type").as("channel"))
      val joined = p.join(t,
        col("p_user") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - lit(259200000000L))
      val n = Window.partitionBy(col("p_id"))
      joined
        .withColumn("n_t", count(lit(1)).over(n))
        .withColumn("credit6", expr("(v_cents * 1000000L) div n_t"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          (sum(wide(col("credit6"))).cast("double") / 100000000.0)
            .as("credited_value"))
        .orderBy(col("channel"))
    }))

  /** ONE straight-cumsum replay template for the token-budget report,
    * parameterized by the token-count SQL (whitespace or the BPE chain) —
    * the oracle-side twin of [[budgetCutFrames]]'s sharing, so the two
    * counted forms can never drift.
    */
  private def tokenBudgetOracle(nTokensSql: String): String =
    s"""WITH t AS (
      |  SELECT doc_id, source, $nTokensSql AS n_tokens,
      |    md5(text) AS h
      |  FROM documents
      |), b AS (
      |  SELECT source, sum(n_tokens)
      |    // (2 + (try_cast('0x' || substr(md5(source), 1, 15) AS BIGINT) % 3))
      |    AS budget
      |  FROM t GROUP BY source
      |), o AS (
      |  SELECT t.*, coalesce(sum(n_tokens) OVER (PARTITION BY source
      |    ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |    AND 1 PRECEDING), 0) AS cb
      |  FROM t
      |), sel AS (
      |  SELECT o.source, o.n_tokens, b.budget
      |  FROM o JOIN b USING (source) WHERE o.cb < b.budget
      |)
      |SELECT source, CAST(max(budget) AS BIGINT) AS budget,
      |  CAST(count(*) AS BIGINT) AS n_selected,
      |  CAST(sum(n_tokens) AS BIGINT) AS sel_tokens,
      |  CAST(sum(n_tokens) - max(budget) AS BIGINT) AS overshoot
      |FROM sel GROUP BY source ORDER BY source""".stripMargin

  /** The packing replay template — same parameterization. */
  private def seqPackOracle(nTokensSql: String): String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) % 8 AS shard,
      |    $nTokensSql AS n_tokens,
      |    doc_id // 1000 AS block
      |  FROM documents
      |), p AS (
      |  SELECT shard, block, n_tokens,
      |    coalesce(sum(n_tokens) OVER (PARTITION BY shard, block
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS cb
      |  FROM t
      |), pb AS (
      |  SELECT shard, block, count(*) AS n_docs, sum(n_tokens) AS toks,
      |    sum(CASE WHEN (cb // 512) < ((cb + n_tokens - 1) // 512)
      |        THEN 1 ELSE 0 END) AS n_span
      |  FROM p GROUP BY shard, block
      |)
      |SELECT CAST(shard AS BIGINT) AS shard,
      |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS total_tokens,
      |  CAST(sum((toks + 511) // 512) AS BIGINT) AS n_windows,
      |  CAST(sum(n_span) AS BIGINT) AS n_spanning,
      |  CAST(sum(toks) * 1000000 // (sum((toks + 511) // 512) * 512) AS BIGINT)
      |    AS fill_x1e6
      |FROM pb GROUP BY shard ORDER BY shard""".stripMargin

  private val wsTokensSql = "len(string_split(text, ' '))"

  /** The card replay over a parameterized token-count SQL — shared by
    * the whitespace and BPE-counted twins, mirroring [[datasetCard]].
    */
  private def datasetCardOracle(tokSql: String): String =
    s"""WITH h AS (
       |  SELECT lang, n_chars, text,
       |    try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 AS bucket,
       |    $tokSql AS n_tokens,
       |    md5(text) AS hsh
       |  FROM documents
       |), sp AS (
       |  SELECT CASE WHEN bucket < 80 THEN 'train'
       |              WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       |    lang, n_chars, n_tokens, hsh
       |  FROM h
       |)
       |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  CAST(count(*) - count(DISTINCT hsh) AS BIGINT) AS n_exact_dups,
       |  CAST(sum(n_tokens) // count(*) AS BIGINT) AS avg_tokens
       |FROM sp GROUP BY split ORDER BY split""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "pipe_dataset_card" -> datasetCardOracle(wsTokensSql),
    // the BPE twin: identical rollup replay, counts under the SAME
    // literal merge chain (textually valid in both engines)
    "pipe_dataset_card_bpe" -> datasetCardOracle(TextAnalysis.bpeTokenCountSql),
    "txt_split_assign" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 AS bucket
        |  FROM documents
        |)
        |SELECT doc_id, source,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  bucket
        |FROM h ORDER BY doc_id""".stripMargin,
    "txt_quality_topp" ->
      """WITH qhist AS (
        |  SELECT source, n_chars, count(*) AS k
        |  FROM documents GROUP BY source, n_chars
        |), qcum AS (
        |  SELECT source, n_chars,
        |    sum(k) OVER (PARTITION BY source ORDER BY n_chars DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(k) OVER (PARTITION BY source) AS n_src
        |  FROM qhist
        |), qcuts AS (
        |  SELECT source,
        |    max(CASE WHEN n_src >= 4 AND cum >= n_src // 4 THEN n_chars END) AS t1
        |  FROM qcum GROUP BY source
        |)
        |SELECT d.doc_id AS doc_id, d.source AS source, d.n_chars AS n_chars
        |FROM documents d JOIN qcuts c ON d.source = c.source
        |WHERE c.t1 IS NOT NULL AND d.n_chars >= c.t1
        |ORDER BY d.source, d.doc_id""".stripMargin,
    "txt_domain_cap" ->
      """WITH r AS (
        |  SELECT source,
        |    CAST(row_number() OVER (
        |      PARTITION BY source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank,
        |    doc_id, n_chars
        |  FROM documents
        |)
        |SELECT source, rank, doc_id, n_chars
        |FROM r WHERE rank <= 10
        |ORDER BY source, rank""".stripMargin,
    "pipe_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h_a,
        |    n_chars AS chars_a
        |  FROM documents WHERE doc_id % 10 <> 0
        |), b AS (
        |  SELECT doc_id,
        |    try_cast('0x' || substr(md5(
        |      CASE WHEN doc_id % 37 = 0 THEN text || ' rev2' ELSE text END
        |    ), 1, 15) AS BIGINT) AS h_b,
        |    n_chars AS chars_b
        |  FROM documents WHERE doc_id % 23 <> 0
        |), m AS (
        |  SELECT h_a, h_b, chars_a, chars_b
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |)
        |SELECT CASE WHEN h_a IS NULL THEN 'added'
        |            WHEN h_b IS NULL THEN 'removed'
        |            WHEN h_a <> h_b THEN 'changed'
        |            ELSE 'unchanged' END AS change_type,
        |  count(*) AS n_docs,
        |  CAST(sum(coalesce(chars_b, chars_a)) AS BIGINT) AS total_chars
        |FROM m GROUP BY 1 ORDER BY change_type""".stripMargin,
    // recomputes the manifest from `documents` directly — the Spark side
    // reads only the EXPORTED files, so loss/duplication/mis-assignment
    // in the export breaks the hash
    // the same straight-cumsum replay, emitted as per-doc verdicts
    "pipe_token_budget_cut" ->
      """WITH t AS (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
        |    md5(text) AS h
        |  FROM documents
        |), b AS (
        |  SELECT source, sum(n_tokens)
        |    // (2 + (try_cast('0x' || substr(md5(source), 1, 15) AS BIGINT) % 3))
        |    AS budget
        |  FROM t GROUP BY source
        |), o AS (
        |  SELECT t.*, coalesce(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND 1 PRECEDING), 0) AS cb
        |  FROM t
        |)
        |SELECT o.doc_id, o.source, CAST(o.n_tokens AS BIGINT) AS n_tokens,
        |  o.cb < b.budget AS keep
        |FROM o JOIN b USING (source) ORDER BY o.doc_id""".stripMargin,
    // replays the take-while selection as ONE straight per-source md5-
    // ordered cumsum — agreeing with the engine's two-stage histogram
    // cut proves the bucket decomposition exact, not just plausible
    "pipe_token_budget" -> tokenBudgetOracle(wsTokensSql),
    // the BPE twin: identical straight-cumsum replay with n_tokens under
    // the SAME literal merge chain (textually valid in both engines)
    "pipe_token_budget_bpe" -> tokenBudgetOracle(TextAnalysis.bpeTokenCountSql),
    // replays the shard hash, per-block token cumsum, boundary-crossing
    // predicate, and ceil-window arithmetic in lockstep
    "pipe_seq_pack" -> seqPackOracle(wsTokensSql),
    // the BPE twin of the packing replay — same cumsum/ceil arithmetic,
    // token counts under the literal merge chain
    "pipe_seq_pack_bpe" -> seqPackOracle(TextAnalysis.bpeTokenCountSql),
    "pipe_export_shards" ->
      s"""SELECT
        |  try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) % 8 AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS total_tokens,
        |  CAST(sum(${TextAnalysis.bpeTokenCountSql}) AS BIGINT) AS total_tokens_bpe,
        |  bit_xor(try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS checksum_xor,
        |  CAST(min(doc_id) AS BIGINT) AS min_doc,
        |  CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin,
    // replays the v1/v2 snapshot DEFINITIONS from `documents` — the Spark
    // side can only match by correctly selecting the pinned `_v=1`/`_v=2`
    // directories (current is a different v3, so "latest" fails the hash)
    "pipe_version_diff" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h_a,
        |    n_chars AS chars_a
        |  FROM documents WHERE doc_id % 10 <> 0
        |), b AS (
        |  SELECT doc_id,
        |    try_cast('0x' || substr(md5(
        |      CASE WHEN doc_id % 37 = 0 THEN text || ' rev2' ELSE text END
        |    ), 1, 15) AS BIGINT) AS h_b,
        |    n_chars AS chars_b
        |  FROM documents WHERE doc_id % 23 <> 0
        |), m AS (
        |  SELECT h_a, h_b, chars_a, chars_b
        |  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |)
        |SELECT CASE WHEN h_a IS NULL THEN 'added'
        |            WHEN h_b IS NULL THEN 'removed'
        |            WHEN h_a <> h_b THEN 'changed'
        |            ELSE 'unchanged' END AS change_type,
        |  count(*) AS n_docs,
        |  CAST(sum(coalesce(chars_b, chars_a)) AS BIGINT) AS total_chars
        |FROM m GROUP BY 1 ORDER BY change_type""".stripMargin,
    "pipe_drift_report" ->
      """WITH a AS (
        |  SELECT lang, count(*) AS n_a FROM documents
        |  WHERE doc_id % 10 <> 0 GROUP BY lang
        |), b AS (
        |  SELECT lang, count(*) AS n_b FROM documents
        |  WHERE doc_id % 23 <> 0 GROUP BY lang
        |), t AS (
        |  SELECT (SELECT sum(n_a) FROM a) AS tot_a,
        |         (SELECT sum(n_b) FROM b) AS tot_b
        |), m AS (
        |  SELECT coalesce(a.lang, b.lang) AS lang,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM a FULL OUTER JOIN b ON a.lang = b.lang
        |), r AS (
        |  SELECT lang, n_a, n_b,
        |    CAST((n_a * tot_b) // tot_a AS BIGINT) AS exp_b
        |  FROM m, t
        |)
        |SELECT lang, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  exp_b,
        |  CAST((1000 * abs(n_b - exp_b)) // greatest(exp_b, 1) AS BIGINT) AS drift_x1000,
        |  (1000 * abs(n_b - exp_b)) // greatest(exp_b, 1) > 100 AS drifted
        |FROM r ORDER BY lang""".stripMargin,
    "pipe_compaction_plan" ->
      """WITH files AS (
        |  SELECT source, doc_id % 50 AS file_id,
        |    count(*) AS n_docs, sum(n_chars) AS bytes
        |  FROM documents GROUP BY 1, 2
        |), placed AS (
        |  SELECT source, file_id, n_docs, bytes,
        |    CAST(coalesce(sum(bytes) OVER (
        |      PARTITION BY source ORDER BY file_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM files
        |)
        |SELECT source, CAST(off // 2048 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(bytes) AS BIGINT) AS bytes,
        |  min(file_id) AS first_file, max(file_id) AS last_file
        |FROM placed GROUP BY source, bin
        |ORDER BY source, bin""".stripMargin,
    // the documented lake lifecycle state machine: the fixture builds
    // each state through the real fold/vacuum bodies, and each expected
    // row follows from their contracts — fresh (2 batches, no fold) is
    // all tail; hybrid (fold thru batch 1, then batch 2) carries one
    // tail batch over one generation; two_gen (two folds, no vacuum)
    // retains folded leaves ≤ the slack boundary → vacuum-eligible;
    // vacuumed has zero live leaves, all mass in the snapshot
    "pipe_lake_health" ->
      """SELECT * FROM (VALUES
        |  ('fresh',    CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), false),
        |  ('hybrid',   CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('two_gen',  CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), true),
        |  ('vacuumed', CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), false)
        |) t(lake, live_batches, tail_batches, retained_generations,
        |    current_version, vacuum_eligible)
        |ORDER BY lake""".stripMargin,
    // the policy pass's documented state machine: fold_only folds (2
    // tail batches ≥ threshold) but stays un-vacuumable (1 generation);
    // fold_vac folds its 2-batch tail to generation 3, the SAME pass
    // vacuums the 3 leaves at or below the slack boundary (generation
    // 2)'s watermark AND retention prunes generation 1; idle (1 tail
    // batch) is untouched; the perceptual lake folds through its own
    // count-merging body under the same policy
    "pipe_lake_maintain" ->
      """SELECT * FROM (VALUES
        |  ('fold_only',  true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('fold_vac',   true,  CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), false),
        |  ('idle',       false, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('perceptual', true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false)
        |) t(lake, folded, vacuumed_batches, pruned_generations,
        |    current_version, live_batches, tail_batches,
        |    retained_generations, vacuum_eligible)
        |ORDER BY lake""".stripMargin,
    // the warehouse-wide pass: first-folds (v1 lakes), the read-only
    // sibling entries folded by their primary's body (hashes/settled/
    // doclen read folded=false), semantic's fold-forward + vacuum
    // (v2, 1 batch reclaimed), and postings/doclen's fold + vacuum +
    // retention (v3, 2 batches reclaimed, generation 1 pruned)
    "pipe_warehouse_maintain" ->
      """SELECT * FROM (VALUES
        |  ('dedup_corpus',     true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('dedup_hashes',     false, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('dedup_sigs',       true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('dedup_stats',      true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('doclen',           false, CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), false),
        |  ('frontier_records', true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('frontier_settled', false, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('ivf',              true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('perceptual',       true,  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(1 AS BIGINT), false),
        |  ('postings',         true,  CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), false),
        |  ('semantic',         true,  CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(2 AS BIGINT), false)
        |) t(lake, folded, vacuumed_batches, pruned_generations,
        |    current_version, live_batches, tail_batches,
        |    retained_generations, vacuum_eligible)
        |ORDER BY lake""".stripMargin,
    "q_kanon_audit" ->
      """WITH l1 AS (
        |  SELECT lang, source, n_chars // 200 AS size_band,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1, 2, 3
        |), l2 AS (
        |  SELECT lang, size_band, CAST(sum(n_docs) AS BIGINT) AS n_docs
        |  FROM l1 WHERE n_docs < 5 GROUP BY 1, 2
        |), sup AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs
        |  FROM l2 WHERE n_docs < 5
        |)
        |SELECT lang, source, size_band, n_docs, CAST(1 AS BIGINT) AS level
        |FROM l1 WHERE n_docs >= 5
        |UNION ALL
        |SELECT lang, '*' AS source, size_band, n_docs, CAST(2 AS BIGINT) AS level
        |FROM l2 WHERE n_docs >= 5
        |UNION ALL
        |SELECT '*' AS lang, '*' AS source, CAST(-1 AS BIGINT) AS size_band,
        |  n_docs, CAST(3 AS BIGINT) AS level
        |FROM sup WHERE n_docs IS NOT NULL
        |ORDER BY level, lang, source, size_band""".stripMargin,
    "pipe_mv_refresh" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) // count(*) AS BIGINT) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_expectations_audit" ->
      """WITH ra AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_pos,
        |    CAST(sum(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P')) THEN 1 ELSE 0 END) AS BIGINT) AS v_set,
        |    CAST(sum(CASE WHEN CAST(o_orderdate AS DATE)
        |      BETWEEN DATE '1995-01-01' AND DATE '2000-12-31' THEN 0 ELSE 1 END) AS BIGINT) AS v_rng
        |  FROM orders
        |), uq AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v
        |  FROM orders
        |), fk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON o.o_custkey = c.c_custkey
        |)
        |SELECT rule, n_checked, n_violations, n_violations = 0 AS pass FROM (
        |  SELECT 'o_custkey fk_customer' AS rule, n AS n_checked, v AS n_violations FROM fk
        |  UNION ALL SELECT 'o_custkey not_null', n, v_nn FROM ra
        |  UNION ALL SELECT 'o_orderdate in_range', n, v_rng FROM ra
        |  UNION ALL SELECT 'o_orderkey unique', n, v FROM uq
        |  UNION ALL SELECT 'o_orderstatus accepted_set', n, v_set FROM ra
        |  UNION ALL SELECT 'o_totalprice positive', n, v_pos FROM ra
        |) ORDER BY rule""".stripMargin,
    // identical HLL register walk as the q_hll_* oracles, over the
    // uniqueness rule's key — the estimate is bit-reproducible, so the
    // at-scale rule row hashes exactly
    "q_expectations_audit_est" ->
      """WITH hashed AS (
        |  SELECT try_cast('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |  FROM orders WHERE o_orderkey IS NOT NULL
        |), regs AS (
        |  SELECT h & 255 AS b,
        |    max(CASE WHEN h >> 8 = 0 THEN 53 ELSE 53 - length(bin(h >> 8)) END) AS r
        |  FROM hashed GROUP BY h & 255
        |), sk AS (
        |  SELECT count(*) AS n_regs,
        |    sum(1::BIGINT << (53 - r)) + (256 - count(*)) * (1::BIGINT << 53) AS s
        |  FROM regs
        |), base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys
        |  FROM orders
        |), est AS (
        |  SELECT n_checked, n_null_keys,
        |    round((CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(256.0 AS DOUBLE)))
        |      * CAST(65536.0 AS DOUBLE) * CAST(9007199254740992.0 AS DOUBLE) / CAST(s AS DOUBLE), 4) AS est_distinct,
        |    CAST((n_checked - n_null_keys) // 1000000 * 805000
        |      + ((n_checked - n_null_keys) % 1000000) * 805000 // 1000000 AS BIGINT) AS min_expected
        |  FROM base, sk
        |)
        |SELECT 'o_orderkey unique_est' AS rule, n_checked, n_null_keys,
        |  est_distinct, min_expected, est_distinct >= min_expected AS pass
        |FROM est""".stripMargin,
    "q_fk_audit" ->
      """SELECT 'lineitem->orders' AS fk_edge, count(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l_orderkey = o_orderkey
        |UNION ALL
        |SELECT 'lineitem->part', count(*),
        |  CAST(SUM(CASE WHEN p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
        |  ON l_partkey = p_partkey
        |UNION ALL
        |SELECT 'orders->customer', count(*),
        |  CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON o_custkey = c_custkey
        |ORDER BY fk_edge""".stripMargin,
    "q_skew_report" ->
      """WITH counts AS (
        |  SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey
        |), tot AS (
        |  SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows,
        |    max(n) AS max_n FROM counts
        |), hist AS (SELECT n, count(*) AS keys_at FROM counts GROUP BY n),
        |cum AS (SELECT n, sum(keys_at) OVER (ORDER BY n) AS cum FROM hist),
        |pct AS (
        |  SELECT tot.n_keys, tot.n_rows, tot.max_n,
        |    min(CASE WHEN cum >= (1 * tot.n_keys + 1) // 2 THEN n END) AS p50,
        |    min(CASE WHEN cum >= (9 * tot.n_keys + 9) // 10 THEN n END) AS p90,
        |    min(CASE WHEN cum >= (99 * tot.n_keys + 99) // 100 THEN n END) AS p99
        |  FROM cum CROSS JOIN tot GROUP BY 1, 2, 3
        |)
        |SELECT n_keys, n_rows, max_n, p50, p90, p99,
        |  CAST((100 * max_n) // p50 AS BIGINT) AS skew_x100 FROM pct""".stripMargin,
    "q_zorder_layout" ->
      s"""WITH base AS (
         |  SELECT CAST(user_id % 256 AS BIGINT) AS ub,
         |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 256 AS BIGINT) AS db
         |  FROM events
         |), keyed AS (
         |  SELECT ub, db, (${zorderExpr("ub", "db", 8, "//")}) AS z FROM base
         |), f AS (SELECT ub, db, z // 1024 AS file_id FROM keyed)
         |SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
         |  min(ub) AS min_ub, max(ub) AS max_ub,
         |  min(db) AS min_db, max(db) AS max_db,
         |  max(ub) - min(ub) + 1 AS ub_span,
         |  max(db) - min(db) + 1 AS db_span
         |FROM f GROUP BY file_id ORDER BY file_id""".stripMargin,
    "q_merge_upsert" ->
      """WITH updates AS (
        |  SELECT o_orderkey AS u_key, 'U' AS u_status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) * 110 // 100 AS u_cents
        |  FROM orders WHERE o_orderkey % 7 = 0
        |), inserts AS (
        |  SELECT o_orderkey + 100000000 AS u_key, 'I' AS u_status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS u_cents
        |  FROM orders WHERE o_orderkey % 1000 = 0
        |), source AS (
        |  SELECT * FROM updates UNION ALL SELECT * FROM inserts
        |), merged AS (
        |  SELECT coalesce(u_status, o_orderstatus) AS status,
        |    coalesce(u_cents, CAST(round(o_totalprice * 100) AS BIGINT)) AS c
        |  FROM orders FULL OUTER JOIN source ON o_orderkey = u_key
        |)
        |SELECT status, count(*) AS n_rows,
        |  CAST(SUM(c) AS DOUBLE) / 100.0 AS total_price
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,
    "evt_locf" ->
      """WITH ev AS (
        |  SELECT * FROM events WHERE user_id IS NOT NULL AND user_id % 50 = 0
        |), users AS (
        |  SELECT DISTINCT user_id FROM ev
        |), bounds AS (
        |  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
        |), days AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds
        |), obs AS (
        |  SELECT user_id AS ou, CAST(ts AS DATE) AS od, max(value) AS obs_val
        |  FROM ev WHERE event_type = 'purchase' AND value IS NOT NULL
        |  GROUP BY 1, 2
        |), grid AS (
        |  SELECT user_id, day FROM users CROSS JOIN days
        |), carried AS (
        |  SELECT g.user_id, g.day,
        |    max(CASE WHEN o.obs_val IS NOT NULL THEN o.od END)
        |      OVER (PARTITION BY g.user_id ORDER BY g.day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_day
        |  FROM grid g LEFT JOIN obs o ON g.user_id = o.ou AND g.day = o.od
        |)
        |SELECT c.user_id, c.day, o2.obs_val AS val_filled
        |FROM carried c LEFT JOIN obs o2 ON c.user_id = o2.ou AND c.last_day = o2.od
        |ORDER BY c.user_id, c.day""".stripMargin,
    "pipe_curation_e2e" ->
      """WITH deduped AS (
        |  SELECT text, min(doc_id) AS doc_id, min(n_chars) AS n_chars
        |  FROM documents WHERE n_chars >= 100 GROUP BY text
        |), ev_toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 5
        |), ev AS (
        |  SELECT DISTINCT array_to_string(list_slice(t, i + 1, i + 5), ' ') AS sh
        |  FROM (SELECT t, unnest(range(0, len(t) - 4)) AS i FROM ev_toks)
        |), doc_toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM deduped
        |  WHERE len(string_split(text, ' ')) >= 5
        |), doc_sh AS (
        |  SELECT doc_id, array_to_string(list_slice(t, i + 1, i + 5), ' ') AS sh
        |  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 4)) AS i FROM doc_toks)
        |), contaminated AS (
        |  SELECT DISTINCT doc_id FROM doc_sh JOIN ev USING (sh)
        |), survivors AS (
        |  SELECT d.text, d.n_chars,
        |    try_cast('0x' || substr(md5(d.text), 1, 15) AS BIGINT) % 100 AS bucket
        |  FROM deduped d
        |  WHERE NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
        |)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM survivors GROUP BY 1 ORDER BY 1""".stripMargin,
    "evt_multi_touch" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id AS p_user,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts,
        |    CAST(round(value * 100) AS BIGINT) AS v_cents
        |  FROM events
        |  WHERE event_type = 'purchase' AND value IS NOT NULL AND user_id IS NOT NULL
        |), t AS (
        |  SELECT event_id AS t_id, user_id AS t_user,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS t_ts, event_type AS channel
        |  FROM events
        |  WHERE event_type IN ('view', 'click') AND user_id IS NOT NULL
        |), joined AS (
        |  SELECT p_id, v_cents, channel
        |  FROM p JOIN t ON p_user = t_user
        |    AND t_ts < p_ts AND t_ts >= p_ts - 259200000000
        |), credited AS (
        |  SELECT channel,
        |    v_cents * 1000000 // (count(*) OVER (PARTITION BY p_id)) AS credit6
        |  FROM joined
        |)
        |SELECT channel, count(*) AS n_touches,
        |  CAST(SUM(credit6) AS DOUBLE) / 100000000.0 AS credited_value
        |FROM credited GROUP BY channel ORDER BY channel""".stripMargin)
}
