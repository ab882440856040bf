package graft.streaming

import graft.pipeline.Warehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Deployment wrapper for the streaming side — the micro-batch analog of
  * [[graft.pipeline.BatchRunner]].
  *
  * The main production shape is [[upsertToWarehouse]]: stream → foreachBatch
  * → `Warehouse.partitionedUpsertWrite`. It streams the reference's cadence
  * (one complete file set per logical day landing in a directory,
  * `dags/daily_search_history.py:40`): each micro-batch dynamically
  * overwrites exactly the date partitions it touches, so
  *  - replays after a checkpoint recovery are idempotent (same batch →
  *    same partitions → same contents), fixing the reference's
  *    double-append hazard (SURVEY.md §2.1) in the streaming world;
  *  - downstream batch readers see a date-partitioned lake with file-level
  *    pruning, identical to the batch pipelines' output layout.
  *
  * Correctness constraint: a date's rows must be complete within one
  * trigger (dates are closed when their files land — the reference's daily
  * drop — or `maxFilesPerTrigger` is left unset so AvailableNow takes whole
  * file sets). If a date could straddle triggers, use the built-in
  * exactly-once file sink in append mode instead (StreamingFileIOSpec).
  *
  * Scale: foreachBatch writes are ordinary distributed parquet jobs; state
  * in upstream operators stays watermark-bounded (see EventStreams). One
  * streaming query per sink table; checkpoint dir is the unit of recovery.
  */
object StreamRunner {

  /** Start `transformed` (a streaming DataFrame carrying `partitionCol`)
    * upserting into `wh`/`table` per micro-batch.
    */
  def upsertToWarehouse(
      transformed: DataFrame,
      wh: Warehouse,
      table: String,
      partitionCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sink(transformed, checkpointDir, trigger, "update") { (batch, _) =>
      if (!batch.isEmpty) wh.partitionedUpsertWrite(batch, table, partitionCol)
    }

  /** The one streaming sink every entry point here starts: the stream's
    * micro-batches run `body` inside foreachBatch under `checkpointDir`,
    * the unit of recovery.
    */
  private def sink(
      stream: DataFrame,
      checkpointDir: String,
      trigger: Trigger,
      outputMode: String = "append")(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** The streaming form of [[graft.pipeline.Warehouse.writeAuditPublish]]:
    * every micro-batch is STAGED (quarantine table invisible to readers),
    * the caller's audit runs on a READBACK of the staged bytes (what
    * readers would see — catches writer-side truncation/schema drift),
    * and only a passing batch publishes, as a date-partition upsert (the
    * idempotent-replay publish [[upsertToWarehouse]] uses). A failing
    * batch never touches the live table: its rows are kept in a
    * per-batch-id quarantine table with the failure reason attached, so
    * forensics and replay-after-fix are table reads, not log archaeology.
    * The q_expectations_audit rule set is the natural audit body.
    *
    * At 100 TB this is the per-batch publish gate a streaming lake runs:
    * the stage write is the batch-sized cost already being paid, the
    * audit is one scan of the staged batch, and the gate keeps a bad
    * upstream drop (schema drift, null flood, duplicate replay) from ever
    * reaching readers — checkpoint recovery semantics are unchanged
    * because the gate lives inside foreachBatch's exactly-once contract.
    */
  def auditedUpsertToWarehouse(
      transformed: DataFrame,
      wh: Warehouse,
      table: String,
      partitionCol: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sink(transformed, checkpointDir, trigger, "update") { (batch, batchId) =>
      gatedPublish(batch, batchId, wh, table, Seq(partitionCol), audit): Unit
    }

  /** The per-micro-batch stage → audit-readback → publish/quarantine body
    * shared by every audited streaming sink (factored so new sinks reuse
    * the gate rather than re-implementing its crash-safety contract).
    * Returns true iff the batch PUBLISHED (non-empty and audit passed) —
    * sinks that maintain derived index tables key their maintenance on it.
    */
  private def gatedPublish(
      batch: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      partitionCols: Seq[String],
      audit: DataFrame => Option[String]): Boolean =
    gatedPublishAll(Seq((batch, table, partitionCols)), batchId, wh, audit)

  /** Multi-frame form of the gate for sinks whose batch spans SIBLING
    * tables that must stay consistent (postings + doclen): ALL frames are
    * staged, ALL staged readbacks audited, and only if every one passes
    * does ANY publish — a quarantined batch quarantines WHOLE. Publishing
    * the frames one gate at a time would let an earlier table commit and a
    * later one quarantine, leaving the batch half-indexed forever (the
    * checkpoint marks it done, so it is never repaired).
    */
  private def gatedPublishAll(
      frames: Seq[(DataFrame, String, Seq[String])],
      batchId: Long,
      wh: Warehouse,
      audit: DataFrame => Option[String]): Boolean =
    gatedFrames(frames.map { case (b, t, p) => (b, t, Some(p)) },
      batchId, wh, audit)

  /** The one implementation of the gate's stage → audit-readback →
    * publish-or-quarantine contract. A frame with `None` partition
    * columns is AUDIT-ONLY: staged, audited, and quarantined on failure
    * exactly like a publishing frame, but never written to its table —
    * the gate for batches that mutate only derived state
    * ([[auditGateOnly]]). Factored so every sink and gate mode shares
    * ONE copy of the crash-safety contract (stage naming, quarantine
    * columns, cleanup ordering).
    */
  private def gatedFrames(
      frames: Seq[(DataFrame, String, Option[Seq[String]])],
      batchId: Long,
      wh: Warehouse,
      audit: DataFrame => Option[String]): Boolean = {
    val nonEmpty = frames.filter(!_._1.isEmpty)
    if (nonEmpty.isEmpty) false
    else {
      val staged = nonEmpty.map { case (batch, table, partitionCols) =>
        val stage = s"__stage__${table}_b$batchId"
        wh.truncateWrite(batch, stage)
        (wh.read(batch.sparkSession, stage), stage, table, partitionCols)
      }
      val firstFailure = staged.view
        .flatMap { case (df, _, table, _) => audit(df).map(table -> _) }
        .headOption
      firstFailure match {
        case None =>
          staged.foreach { case (df, stage, table, partitionCols) =>
            partitionCols.foreach { pc =>
              wh.partitionedUpsertWrite(df, table, pc)
              // batch-keyed lakes note their live-batch ledger marker so
              // the health census is one flat listing, never a recursive
              // leaf walk
              if (pc.contains("ingest_batch")) wh.noteLiveBatch(table, batchId)
            }
            wh.dropTable(stage)
          }
          true
        case Some((failedTable, reason)) =>
          staged.foreach { case (df, stage, table, _) =>
            wh.truncateWrite(
              df.withColumn("__batch_id",
                  org.apache.spark.sql.functions.lit(batchId))
                .withColumn("__reason", org.apache.spark.sql.functions.lit(
                  if (table == failedTable) reason
                  else s"sibling table $failedTable quarantined: $reason")),
              s"__quarantine__${table}_b$batchId")
            wh.dropTable(stage)
          }
          false
      }
    }
  }

  /** Audit-ONLY form of the gate, for a batch that publishes no rows of
    * its own but still mutates derived state (a dup-only perceptual
    * batch merging copy mass into the sigs index): one [[gatedFrames]]
    * frame with no publish target — staged, readback-audited,
    * quarantined on failure — so the caller skips the state mutation on
    * a batch the audit rejects. Without this, such a batch would merge
    * its copy counts through the gate's empty-survivors short-circuit
    * with the checkpoint already marked done, never to be repaired. An
    * empty frame gates nothing (there is no state mutation either).
    */
  private def auditGateOnly(
      frame: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String]): Boolean =
    frame.isEmpty || gatedFrames(Seq((frame, table, None)), batchId, wh, audit)

  /** Streaming DEDUP'D corpus ingest — the foreachBatch twin of the
    * `dedup_incremental` + `pipe_ingest_e2e` batch pair, closing the
    * continuous-ingestion loop a training-data lake actually runs. Per
    * micro-batch of (doc_id, text) documents:
    *
    *  1. within-batch EXACT dedup: min-doc_id canonical per content md5
    *     (the pipe_ingest_e2e stage);
    *  2. cross-corpus NEAR-dup drop: the batch's MinHash signatures band
    *     against the PERSISTED corpus signature table and candidates
    *     exact-verify against the persisted shingle-hash table
    *     ([[graft.operators.Dedup.incrementalMatches]] — the same audited
    *     engine the batch query runs; work scales with the batch, corpus
    *     text is never read);
    *  3. survivors publish through the staged-readback audit gate into
    *     `<table>` (partitioned by ingest_batch — idempotent replay);
    *  4. INDEX MAINTENANCE: the survivors' signatures and shingle hashes
    *     partition-upsert into `<table>_sigs` / `<table>_hashes`, so the
    *     NEXT micro-batch dedups against everything ingested so far —
    *     including this one. A checkpoint replay rewrites its own
    *     partitions in all three tables (idempotent), and the corpus side
    *     EXCLUDES the replaying batch id's own index partitions (plus
    *     incrementalMatches' self-pair filter), so a replayed batch never
    *     drops its own documents — not even a same-batch near-dup PAIR —
    *     against the previous attempt's appended rows (spec'd with a
    *     same-batch-id re-run).
    *
    * At 100 TB: per-batch cost is shingling the BATCH plus one asymmetric
    * band equi-join against the signature lake (16-byte rows); the corpus
    * index grows with ingest exactly as [[graft.operators.Dedup]]'s
    * artifact scaladoc prescribes.
    */
  def dedupIngestToWarehouse(
      docStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minJaccard: Double = 0.5): StreamingQuery =
    sink(docStream, checkpointDir, trigger) { (batch, batchId) =>
      dedupPublishBatch(batch, batchId, wh, table, audit, minJaccard)
    }

  /** The per-micro-batch dedup'd-publish body shared by
    * [[dedupIngestToWarehouse]] (documents arrive as rows) and
    * [[crawlIngestToWarehouse]] (documents arrive inside `.warc.gz`
    * archives) — one audited implementation of the exact-dedup →
    * near-dup-vs-index → publish → index-maintenance contract.
    * `private[graft]` so the corpus-stats fixture
    * ([[graft.operators.TextAnalysis.CorpusStatsFixture]]) can replay
    * the REAL ingest body over deterministic slices.
    */
  private[graft] def dedupPublishBatch(
      batch: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      minJaccard: Double): Unit = {
    import org.apache.spark.sql.functions.{col, lit, md5, min}
    if (!batch.isEmpty) {
      val docs = batch.withColumn("__h", md5(col("text"))).cache()
      try {
        // one survivor per doc_id, chosen DETERMINISTICALLY (min content
        // hash wins): `survivors` is evaluated once for the publish job
        // and again for the signature/hash index jobs, so an arbitrary
        // per-job pick (dropDuplicates on doc_id alone) could publish one
        // copy's text while indexing a different copy's signatures —
        // min-hash-wins makes every evaluation agree. The remaining
        // dropDuplicates is over byte-identical (doc_id, hash) rows,
        // where any pick is the same row.
        val perId = docs.groupBy(col("doc_id")).agg(min(col("__h")).as("__h"))
        val uniq = docs.join(perId, Seq("doc_id", "__h"))
          .dropDuplicates("doc_id", "__h")
        // content-level exact dedup across doc_ids: min-doc_id canonical
        // per content hash
        val canon = uniq
          .groupBy(col("__h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"))
        val exact = uniq.join(canon, Seq("doc_id")).drop("__h")
        // hasAnyData, not exists: a first batch whose survivors produced
        // ZERO index rows (all docs below the 3-word shingling minimum)
        // leaves a schema-less sigs directory — reading it would poison
        // every later batch; semantically it IS "no index yet". After
        // [[gcLake]] the whole index may live in the snapshot with zero
        // live fragments, which is NOT "no index".
        val survivors =
          if (!hasAnyData(wh, s"${table}_sigs", s"${table}_sigs_serve")) exact
          else {
            val s = batch.sparkSession
            // exclude THIS batch id's own index partitions from the
            // corpus side: on an at-least-once replay (crash after
            // the writes, before the checkpoint offset commit) the
            // previous attempt's rows are already in the index, and
            // matching against them would drop every same-batch
            // near-dup PAIR (A matches B, B matches A — the
            // doc_new =!= doc_old filter only covers self-pairs).
            // The filter is on the partition column, so it prunes
            // files rather than scanning them — and still holds on
            // compacted rows, where ingest_batch rides as data.
            // Both index sides read snapshot+tail ([[hybridLakeRead]]):
            // per-batch match cost is one compacted generation plus the
            // post-fold fragments, bounded under perpetual ingest.
            val dupIds = graft.operators.Dedup.incrementalMatches(
                graft.operators.Dedup.shinglesOf(exact),
                hybridLakeRead(s, wh, s"${table}_sigs", s"${table}_sigs_serve")
                  .filter(col("ingest_batch") =!= batchId),
                hybridLakeRead(s, wh, s"${table}_hashes",
                    s"${table}_hashes_serve")
                  .filter(col("ingest_batch") =!= batchId)
                  .select(col("doc_id"), col("h")),
                minJaccard)
              .select(col("doc_new").as("doc_id")).distinct()
            exact.join(dupIds, Seq("doc_id"), "left_anti")
          }
        val published = gatedPublish(
          survivors.withColumn("ingest_batch", lit(batchId)),
          batchId, wh, table, Seq("ingest_batch"), audit)
        if (published) {
          val shS = graft.operators.Dedup.shinglesOf(survivors)
          wh.partitionedUpsertWrite(
            graft.operators.Dedup.minhashSigOf(shS)
              .withColumn("ingest_batch", lit(batchId)),
            s"${table}_sigs", Seq("ingest_batch"))
          wh.noteLiveBatch(s"${table}_sigs", batchId)
          wh.partitionedUpsertWrite(
            graft.operators.Dedup.shingleHashesOf(shS)
              .withColumn("ingest_batch", lit(batchId)),
            s"${table}_hashes", Seq("ingest_batch"))
          wh.noteLiveBatch(s"${table}_hashes", batchId)
          // PER-SOURCE ACCOUNTING (maintained only when the ingest rows
          // carry a `source` column — crawl-archive texts do not): one
          // ADDITIVE |sources|-row rollup of this batch's survivors,
          // partition-upserted by ingest_batch (a checkpoint replay
          // rewrites exactly its own rows). Survivors are disjoint
          // across batches, so per-source sums over the lake equal the
          // same aggregation over the whole published corpus — the mix
          // serve queries (pipe_domain_mix_incr / pipe_temperature_mix_incr)
          // read |batches|x|sources| rows instead of re-tokenizing the
          // corpus. Aggregated from the just-published partition's
          // READBACK (one scan of batch-sized files), not the survivors
          // plan — which would re-run the exact-dedup groupBys and the
          // whole index band-join a fourth time per batch. n_tainted
          // rides the lake in place of the batch-side
          // requireBpeCountable scan: a doc carrying a merge-placeholder
          // letter would make the BPE count wrong IDENTICALLY in engine
          // and oracle, so the serve queries refuse to finalize unless
          // the lake-wide taint sum is zero.
          if (survivors.columns.contains("source")) {
            import org.apache.spark.sql.functions.{count, expr, length, sum, when}
            val readback = wh.read(batch.sparkSession, table)
              .filter(col("ingest_batch") === batchId)
            wh.partitionedUpsertWrite(
              readback.groupBy(col("source")).agg(
                count(lit(1)).cast("bigint").as("n_docs"),
                sum(length(col("text")).cast("bigint")).as("total_chars"),
                sum(expr(graft.operators.TextAnalysis.bpeTokenCountSql))
                  .cast("bigint").as("n_tokens_bpe"),
                sum(when(col("text")
                    .rlike(graft.operators.TextAnalysis.bpeTaintPattern), 1L)
                  .otherwise(0L)).as("n_tainted"))
                .withColumn("ingest_batch", lit(batchId)),
              s"${table}_stats", Seq("ingest_batch"))
            wh.noteLiveBatch(s"${table}_stats", batchId)
          }
        }
      } finally docs.unpersist(): Unit
    }
  }

  /** Stats-lake COMPACTION — the ADDITIVE fold of the per-source
    * accounting lake [[dedupPublishBatch]] maintains: `<t>_stats` gains
    * one |sources|-row `ingest_batch` leaf per micro-batch, so after
    * thousands of batches every mix serve pays |batches| fragment opens
    * per read. Unlike the layout-only frontier/postings compactions this
    * one FOLDS: survivors are disjoint across batches, so the per-source
    * metric columns are additive by construction and the lake collapses
    * to ONE row per source (the sums plus `folded_thru`, the
    * source's newest contributing batch id — the snapshot-wide max is
    * the global fold boundary a delta reader resumes from, since every
    * folded batch wrote at least one source row), published as a
    * versioned `_stats_serve`
    * snapshot — the `_VERSION` flip is the atomic reader-visible commit,
    * a crashed compactor leaves only untrusted debris, concurrent
    * compactors CAS distinct generations, a pinned reader keeps its
    * generation. The folded sums equal the same aggregation over the
    * fragmented lake, so a mix served from the snapshot is provably
    * identical to the live serve (the pipe_domain_mix_compacted oracle
    * contract). Ingest keeps appending to the fragmented table while
    * readers serve the snapshot; the next run commits the next
    * generation. Returns the committed version.
    *
    * Concurrency: with `quiesced = false` only batch ids STRICTLY OLDER
    * than the newest stats id are trusted — the stats rollup is the
    * LAST write of a publishing batch (corpus, sigs, hashes land
    * first), so any id with a successor is a completed publish, while
    * the newest may still be mid-write (dynamic partition overwrite is
    * not directory-atomic). The id probe is a ledger-sized collect.
    */
  def compactStats(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): Int = {
    import org.apache.spark.sql.functions.{col, max}
    val serveName = s"${table}_stats_serve"
    // FOLD-FORWARD: |sources| + tail rows instead of the whole lake. A
    // tail row's `ingest_batch` and a snapshot row's `folded_thru` both
    // mean "the newest batch this row's mass covers", so one union +
    // groupBy computes both the sums and the new per-source watermark.
    foldForward(spark, wh, s"${table}_stats", serveName,
      newestExcluded(wh, serveName, quiesced), Nil,
      merge = (base, tail) => {
        val in = tail.select((("source" +: StatsCols).map(col) :+
          col("ingest_batch").cast("long").as("folded_thru")): _*)
        base.fold(in)(_.select(in.columns.map(col): _*).unionByName(in))
          .groupBy(col("source"))
          .agg(statsSums.head, (statsSums.tail :+
            max(col("folded_thru")).cast("bigint").as("folded_thru")): _*)
          // |sources|-sized report frame: one file, not 32 near-empty ones
          .coalesce(1)
      })
  }

  /** The stats lake's additive metric columns and their folded sums. */
  private val StatsCols =
    Seq("n_docs", "total_chars", "n_tokens_bpe", "n_tainted")

  private def statsSums: Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, sum}
    StatsCols.map(c => sum(col(c)).cast("bigint").as(c))
  }

  /** Stats-lake VACUUM — [[gcLake]] over the accounting lake, which
    * keeps it BOUNDED in a perpetual ingest. Safe because the stats lake
    * is PURELY DERIVED: once folded, nothing reads an old fragment — the
    * hybrid serve reads `> thru`, and [[compactStats]] folds forward
    * from the snapshot (never the vacuumed fragments). Returns the
    * deleted batch ids.
    */
  def gcStats(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      slackGenerations: Int = 1): Seq[Long] =
    gcLake(spark, wh, s"${table}_stats", s"${table}_stats_serve",
      slackGenerations)

  /** The snapshot-PLUS-TAIL stats serve — how a mix query reads the
    * accounting while ingest keeps running: the folded `_stats_serve`
    * snapshot covers everything up to the global fold boundary
    * ([[lakeThru]] — the generation's `thru` sidecar), and
    * the live lake contributes only the partitions STRICTLY ABOVE it
    * (`ingest_batch` is the partition column, so the tail read is
    * directory-pruned to batches the fold never saw). No loss and no
    * double count by construction: folded batches are ≤ the boundary,
    * tail batches are > it — including the possibly-mid-write newest
    * batch a `quiesced = false` compaction deliberately excluded, which
    * the tail re-reads from live once its publish completes. Cost:
    * |sources| snapshot rows + |new batches|×|sources| tail rows,
    * regardless of how many batches the fold already absorbed.
    */
  def statsServeHybrid(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val serveName = s"${table}_stats_serve"
    val snap = wh.readVersion(spark, serveName)
    val thru = lakeThru(spark, wh, serveName,
      wh.currentVersion(serveName).get)
    val cols = ("source" +: StatsCols).map(col)
    // hasData, not a bare read: a fully-vacuumed lake ([[gcStats]]) is a
    // schema-less directory — semantically an EMPTY tail, not an error
    val tail =
      if (!wh.hasData(s"${table}_stats")) snap.select(cols: _*).limit(0)
      else wh.read(spark, s"${table}_stats")
        .filter(col("ingest_batch") > thru)
        .select(cols: _*)
    snap.select(cols: _*).unionByName(tail)
      .groupBy(col("source")).agg(statsSums.head, statsSums.tail: _*)
  }

  /** The END-TO-END crawl ingestion sink — raw `.warc.gz` shard FILES
    * land in a directory and come out the other side as a deduplicated
    * text corpus with a self-maintaining near-dup index:
    *
    *   file DISCOVERY via the `binaryFile` stream with the `content`
    *   column pruned (only paths flow through the checkpoint — the
    *   exactly-once file-tracking machinery without the bytes) →
    *   per micro-batch, the listed shard files are read through the
    *   STREAMING `warcgz` member source
    *   ([[graft.operators.Crawl.crawlTextsFromFiles]]: one member
    *   inflated, CRC-verified, WARC-parsed, extracted, released per
    *   row) → [[dedupPublishBatch]] (exact dedup → near-dup-vs-index →
    *   audited publish → index maintenance).
    *
    * Because no whole-file row ever exists, Spark's 2 GB single-row
    * ceiling does not apply — real 1 GB+ CommonCrawl shards stream
    * member-at-a-time with bounded task memory. Every stage is the
    * already-audited implementation — the archive chain is
    * pipe_crawl_files_e2e's, the dedup chain is
    * dedupIngestToWarehouse's — composed inside one foreachBatch, so the
    * whole pipeline inherits their typed-degrade, replay-idempotence,
    * and quarantine contracts. At 100 TB this IS the production shape:
    * shard files arrive on object storage, each micro-batch decodes its
    * files where they are read (narrow), and only extracted text +
    * 16-byte signature rows ever shuffle.
    */
  def crawlIngestToWarehouse(
      spark: org.apache.spark.sql.SparkSession,
      landingDir: String,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minJaccard: Double = 0.5): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}
    // the binaryFile format's fixed schema (streaming file sources
    // require it explicitly); `content` is pruned by the select below,
    // so file BYTES are never read here — only listing metadata
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val fileStream = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .load(landingDir)
      .select(col("path"), col("length")) // content pruned at the scan
    sink(fileStream, checkpointDir, trigger) { (batch, batchId) =>
      // the batch is file METADATA (one row per shard file) — this
      // collect is bounded by files-per-trigger, never data-sized
      val paths = batch.select("path").collect().map(_.getString(0)).toSeq
      // salvage mode: a corrupt member ends its FILE's contribution at
      // the last verified boundary (crawlTexts' typed-degrade contract).
      // Loud-fail would be a PERMANENT poison pill here — the checkpoint
      // replays the same batch against the same corrupt shard forever.
      if (paths.nonEmpty)
        dedupPublishBatch(
          graft.operators.Crawl.crawlTextsFromFiles(spark, paths,
            salvage = true),
          batchId, wh, table, audit, minJaccard)
    }
  }

  /** Streaming IMAGE ingest with perceptual dedup — the multimodal twin
    * of [[dedupIngestToWarehouse]], closing the continuous-ingestion
    * loop for an image lake. Per micro-batch of (doc_id, payload) rows:
    *
    *  1. dHash where the bytes are read
    *     ([[graft.operators.Multimodal.dhash]]); corrupt payloads drop
    *     HERE, typed by the decode — only (doc_id, hash_hi, hash_lo)
    *     rows continue;
    *  2. within-batch EXACT dedup: identity collapse on the 64-bit hash
    *     ([[graft.operators.Multimodal.dhashCollapse]] — min-doc_id
    *     representative, the canonical-keeper convention);
    *  3. cross-corpus NEAR-dup drop: the batch's signatures band against
    *     the PERSISTED signature index
    *     ([[graft.operators.Multimodal.dhashIncrementalMatches]] —
    *     asymmetric join, work scales with the batch; corpus pixels are
    *     never re-decoded), with rows the replaying batch itself first
    *     inserted EXCLUDED (the at-least-once replay rule
    *     [[dedupIngestToWarehouse]] pins: a replayed batch must not
    *     match the previous attempt's rows);
    *  4. survivors publish through the staged-readback audit gate into
    *     `<table>` (partitioned by ingest_batch — idempotent replay) and
    *     the batch's index effect lands as ONE delta partition in the
    *     `<table>_sigs` LSM lake (see [[perceptualPublishBatch]] —
    *     insert + count-add rows; [[compactPerceptual]]/[[gcLake]] keep
    *     it bounded), so the NEXT micro-batch dedups against everything
    *     ingested so far at distinct-signature cost.
    *
    * At 100 TB: per-batch cost is decoding the BATCH plus one
    * signature-width band join against the distinct-signature index —
    * the image lake's bytes are read exactly once, at their own ingest.
    */
  def imageIngestToWarehouse(
      mediaStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    perceptualIngestToWarehouse(mediaStream, wh, table, audit, checkpointDir,
      graft.operators.Multimodal.dhash, "png", trigger)

  /** The VIDEO twin: keyframe dHash over decoded y4m luma
    * ([[graft.operators.Multimodal.videoDhash]]) through the same
    * collapse → incremental-match → audited-publish body.
    */
  def videoIngestToWarehouse(
      mediaStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    perceptualIngestToWarehouse(mediaStream, wh, table, audit, checkpointDir,
      graft.operators.Multimodal.videoDhash, "y4m", trigger)

  /** The AUDIO twin: the 60-bit four-feature energy-shape fingerprint
    * over REAL decoded PCM
    * ([[graft.operators.Multimodal.wavFingerprint60]]) through the
    * same collapse → incremental-match → audited-publish body, completing
    * the modality ladder the batch side has. Matching is EXACT signature
    * equality (maxHamming = 0): hamming tolerance on an energy-shape
    * code would re-open the over-merge the 60-bit widening closed — the
    * same rule the batch cut capstone applies.
    */
  def audioIngestToWarehouse(
      mediaStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    perceptualIngestToWarehouse(mediaStream, wh, table, audit, checkpointDir,
      df => graft.operators.Multimodal.wavFingerprint60(df)
        .select(col("doc_id"), col("format"), col("sig_hi").as("hash_hi"),
          col("sig_lo").as("hash_lo")),
      "wav", trigger, maxHamming = 0)
  }

  /** Streaming CRAWL-FRONTIER ingest — the continuous form of
    * `crawl_frontier_incr`, closing the loop on how the persisted
    * frontier is MAINTAINED: per micro-batch of raw (doc_id, payload)
    * WARC-record rows,
    *
    *  1. parse status-line records where the bytes are read
    *     ([[graft.operators.Crawl.redirectRecords]]) and APPEND
    *     them to the parsed-record lake `<table>_records` (partitioned
    *     by ingest_batch — idempotent replay), so the archive's bytes
    *     are decoded exactly once, at their own ingest;
    *  2. walk THIS batch's redirects — plus every currently-DANGLING
    *     source (a real crawler's retry queue: a chain that dangled
    *     because its target had not been crawled yet re-resolves the
    *     batch the target arrives) — against the ACCUMULATED parsed
    *     records ([[graft.operators.Crawl.resolveRedirectsAgainst]]);
    *  3. publish the round's settled outcomes into `<table>_settled`
    *     through the audit gate (partitioned by ingest_batch); the
    *     SERVE view ([[frontierSettled]]) takes each source's LATEST
    *     outcome, so a dangling superseded by a later ok never
    *     resurfaces.
    *
    * Replay safety: the retry set is derived EXCLUDING rows settled by
    * this batch id ([[frontierSettled]]'s excludeBatch guard), so a
    * replayed batch re-walks exactly what its first attempt walked and
    * rewrites its partition bit-identically — the first_batch idiom of
    * the perceptual index applied to walk state. Per-batch cost: decode
    * of the batch + a walk over (batch redirects + current danglings) —
    * both ingest-shaped; permanently-dangling sources re-walk each
    * batch until `retryMaxAge` ages them out (a source whose LAST
    * dangling verdict is more than that many batches old stops
    * retrying — the crawler's give-up rule; None retries forever).
    *
    * Convergence precondition: the serve view equals the from-scratch
    * walk (`pipe_frontier_serve`'s oracle contract) when each URL's
    * record is STABLE — the archive grows by NEW urls, the normal crawl
    * shape. A re-crawl that changes an existing url's response class
    * (200 → 3xx, or a new redirect target) alters edges that
    * already-settled ok/loop/cap chains walked through; reconciling
    * those requires re-enqueueing every source whose path touches the
    * changed url (an inverted path index — a different design). The
    * retry queue here re-reconciles DANGLING sources only, which is
    * exactly the outcome class that new records can legally change
    * under the stable-record rule.
    */
  def frontierIngestToWarehouse(
      mediaStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      retryMaxAge: Option[Long] = DefaultRetryMaxAge): StreamingQuery =
    sink(mediaStream, checkpointDir, trigger) { (batch, batchId) =>
      frontierPublishBatch(batch, batchId, wh, table, audit, retryMaxAge)
    }

  /** Default dangling-retry bound: a source whose last state CHANGE is
    * more than this many batches old stops re-walking and settles
    * `aged_out` (a real crawl's danglings are mostly permanent — an
    * unbounded default would grow per-batch walk work monotonically).
    * `Some(n)` keeps late-arriving targets re-resolving for n batches
    * after the last change; `None` retries forever (opt-in).
    */
  private[graft] val DefaultRetryMaxAge: Option[Long] = Some(8L)

  /** Merge a batch-derived `delta` into the bucket-partitioned frontier
    * side table `name` (edges / terminals): read back ONLY the buckets
    * the delta's keys hash to (a ≤[[graft.operators.Crawl
    * .FrontierBuckets]]-row collect), `combine` old∪new (an idempotent
    * collapse — min-rid keeper or distinct — so checkpoint replays
    * converge), and return
    *  - the merged TOUCHED-bucket frame to publish (partition column
    *    `bcol` re-derived, so the upsert dynamic-overwrites exactly the
    *    touched bucket directories), and
    *  - the WALK VIEW: untouched persisted buckets ∪ merged — the full
    *    post-batch index this batch's walk reads, still carrying `bcol`
    *    so the walk's per-hop pruning stays directory-pruned.
    * Per-batch I/O is the touched buckets' rows, never the lake.
    */
  private def mergeFrontierBuckets(
      wh: Warehouse,
      name: String,
      bcol: String,
      delta: DataFrame,
      keyCol: String,
      combine: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, not}
    import graft.operators.Crawl.frontierBucket
    def stamped(df: DataFrame) =
      df.withColumn(bcol, frontierBucket(col(keyCol)))
    if (!wh.hasData(name)) {
      val merged = stamped(combine(delta))
      (merged, merged)
    } else {
      val persisted = wh.read(delta.sparkSession, name)
      val touched = delta.select(frontierBucket(col(keyCol)).as("v"))
        .distinct().collect().map(_.getLong(0)).toIndexedSeq
      if (touched.isEmpty) (delta.limit(0), persisted)
      else {
        val merged = stamped(combine(
          persisted.filter(col(bcol).isin(touched: _*)).drop(bcol)
            .unionByName(delta)))
        (merged,
          persisted.filter(not(col(bcol).isin(touched: _*)))
            .unionByName(merged))
      }
    }
  }

  /** One micro-batch of the frontier ingest (see
    * [[frontierIngestToWarehouse]]). The walk never re-derives state
    * from the record archive: redirect EDGES (one row per source url,
    * min-record-id keeper) and 200-landing TERMINALS are maintained as
    * url-hash-bucketed lakes (`<t>_edges` / `<t>_terminals`) upserted
    * in the same atomic gate as the records and settled outcomes, and
    * each hop join directory-prunes them to the active frontier's
    * buckets ([[graft.operators.Crawl.walkChains]]). Retry sources'
    * raw records come from the doc_id-bucketed record lake pruned the
    * same way. A ledger row publishes LAST, marking the batch fully
    * committed — the compaction job's torn-publish guard
    * ([[compactFrontier]]).
    */
  private[graft] def frontierPublishBatch(
      batch: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      retryMaxAge: Option[Long] = DefaultRetryMaxAge): Unit = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import graft.operators.Crawl
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val recsName = s"${table}_records"
      val settledName = s"${table}_settled"
      // decode once; the checkpointed frame feeds the edge/terminal
      // deltas, the walk's starters, and the gated publish
      val recs = Crawl.redirectRecords(batch)
        .filter(col("format") === "http").localCheckpoint()
      // a batch with no parseable status-line records neither grows the
      // archive nor can change any outcome (retries against an UNCHANGED
      // archive re-derive identical rows) — and writing the empty frame
      // would leave a schema-less directory that poisons every later
      // read under checkpoint replay (the hasData scaladoc hazard)
      if (!recs.isEmpty) {
        // layout guard: a record lake written before the (db,
        // ingest_batch) re-key has no `db` column — keep reading it
        // unpruned and keep writing its original single-key layout
        // (mixing the two layouts in one directory would corrupt
        // partition discovery for every later read). New lakes get the
        // bucketed layout and the pruned retry path.
        val legacyRecs = wh.hasData(recsName) &&
          !wh.read(spark, recsName).columns.contains("db")
        // ONE-TIME BACKFILL: a record lake that predates the edge/
        // terminal side tables (the round-14 layout) seeds them from the
        // full archive on first contact — without it, chains through
        // OLD archive urls would walk against batch-only edges and
        // settle wrong. One archive scan, paid once; every later batch
        // sees hasData(edges) and is back to delta-sized work.
        // (either side missing triggers the full backfill: a crash
        // between the edge and terminal publishes of the backfill batch
        // itself must re-seed both on replay — the merges are idempotent)
        val backfill = hasAnyData(wh, recsName, s"${recsName}_serve") &&
          (!wh.hasData(s"${table}_edges") ||
            !wh.hasData(s"${table}_terminals"))
        val deltaRecs =
          if (!backfill) recs
          else hybridLakeRead(spark, wh, recsName, s"${recsName}_serve")
            .drop("db", "ingest_batch")
            .unionByName(recs)
        // batch-derived index deltas, merged into the persisted lakes at
        // touched-bucket cost; the walk views see the full post-batch
        // index without scanning it (replay overlap is safe: the
        // combines are idempotent, so re-merging rows the previous
        // attempt already published converges bit-identically)
        val (mergedEdges, edgesView) = mergeFrontierBuckets(wh,
          s"${table}_edges", "eb",
          Crawl.collapseEdges(Crawl.frontierEdgesOf(deltaRecs)), "cur",
          Crawl.collapseEdges)
        val (mergedTerms, termsView) = mergeFrontierBuckets(wh,
          s"${table}_terminals", "tb",
          Crawl.frontierTerminalsOf(deltaRecs), "t_url",
          _.distinct())
        // serve state as of BEFORE this batch id (the replay guard: a
        // replayed batch derives retries and deltas as if its first
        // attempt never ran). hasAnyData: after [[gcLake]] the settled
        // history may live entirely in its snapshot.
        val prior =
          if (!hasAnyData(wh, settledName, s"${settledName}_serve")) None
          else Some(frontierSettled(spark, wh, table,
            excludeBatch = Some(batchId)))
        // the retry queue: currently-dangling sources re-walk against
        // the grown index; their raw records come from the record lake
        // pruned to the retry ids' doc_id buckets. retryMaxAge ages out
        // sources whose LAST dangling verdict is older than that many
        // batches — delta-publishing stamps a verdict's batch only when
        // the outcome CHANGED, so the age is measured from the last
        // genuine state change, and the derivation stays deterministic
        // under replay (the verdicts are excludeBatch-guarded state,
        // not wall-clock). Expired danglings settle `aged_out` — typed,
        // so the serve view distinguishes "gave up" from "still
        // dangling" — and never re-walk (aged_out is not dangling).
        val (retry, agedOut) = prior match {
          case None => (recs.limit(0), None)
          case Some(p) =>
            val dang = p.filter(col("outcome") === "dangling")
            val (live, expired) = retryMaxAge match {
              case None => (dang, None)
              case Some(a) =>
                (dang.filter(col("ingest_batch") >= lit(batchId - a)),
                  Some(dang.filter(col("ingest_batch") < lit(batchId - a))
                    .select(col("doc_id"), col("status"), col("n_hops"),
                      lit("aged_out").as("outcome"), col("final_url"),
                      col("final_canon"))))
            }
            val liveIds = live.select(col("doc_id"))
            val dbs = liveIds
              .select(Crawl.frontierBucket(col("doc_id")).as("v"))
              .distinct().collect().map(_.getLong(0)).toIndexedSeq
            // snapshot + post-fold tail, both db-pruned (the snapshot is
            // db-partitioned, the live tail (db, ingest_batch)) — the
            // retry probe stays directory-pruned AND bounded after
            // compaction/vacuum
            val retryRecs =
              if (dbs.isEmpty) recs.limit(0)
              else if (legacyRecs)
                hybridLakeRead(spark, wh, recsName, s"${recsName}_serve")
                  .drop("ingest_batch")
                  .join(liveIds, Seq("doc_id"), "left_semi")
              else hybridLakeRead(spark, wh, recsName, s"${recsName}_serve")
                .filter(col("db").isin(dbs: _*))
                .drop("db", "ingest_batch")
                .join(liveIds, Seq("doc_id"), "left_semi")
            (retryRecs, expired)
        }
        val starters = recs.unionByName(retry).dropDuplicates("doc_id")
        val walk = Crawl.walkChains(starters,
          edgesView.select(col("cur"), col("nxt"), col("eb")),
          termsView.select(col("t_url"), col("tb")))
        // publish only CHANGED outcomes: a permanently-dangling source
        // re-walks each batch but re-publishes nothing, so the settled
        // table holds one row per source per outcome CHANGE — never
        // O(batches × danglings) — and the serve view's rank-1 window
        // stays walk-state-sized
        val changes = prior match {
          case None => walk
          case Some(p) =>
            val pr = p.select(col("doc_id"), col("status").as("p_status"),
              col("n_hops").as("p_n_hops"), col("outcome").as("p_outcome"),
              col("final_url").as("p_final_url"),
              col("final_canon").as("p_final_canon"))
            walk.join(pr, Seq("doc_id"), "left")
              .filter(not(col("status") <=> col("p_status") &&
                col("n_hops") <=> col("p_n_hops") &&
                col("outcome") <=> col("p_outcome") &&
                col("final_url") <=> col("p_final_url") &&
                col("final_canon") <=> col("p_final_canon")))
              .drop("p_status", "p_n_hops", "p_outcome", "p_final_url",
                "p_final_canon")
        }
        // fresh walk evidence beats giving up: a source that both aged
        // out AND was re-walked this batch (re-ingested) keeps the walk
        // row — two same-batch settled rows per doc_id would tie the
        // serve view's rank-1 window
        val settled = agedOut match {
          case None => changes
          case Some(a) =>
            changes.unionByName(
              a.join(walk.select(col("doc_id")), Seq("doc_id"), "left_anti"))
        }
        // ONE gate for every frame — a quarantined batch quarantines
        // WHOLE: its records never feed later walks, its settled rows
        // never reach the serve view, its edge/terminal deltas never
        // mislead a later chain (the gatedPublishAll sibling rule). The
        // 1-row LEDGER frame publishes LAST: its batch id present means
        // every sibling frame committed.
        val recsFrame =
          if (legacyRecs)
            (recs.withColumn("ingest_batch", lit(batchId)), recsName,
              Seq("ingest_batch"))
          else
            (recs.withColumn("db", Crawl.frontierBucket(col("doc_id")))
              .withColumn("ingest_batch", lit(batchId)), recsName,
              Seq("db", "ingest_batch"))
        gatedPublishAll(Seq(
          recsFrame,
          (settled.withColumn("ingest_batch", lit(batchId)), settledName,
            Seq("ingest_batch")),
          (mergedEdges, s"${table}_edges", Seq("eb")),
          (mergedTerms, s"${table}_terminals", Seq("tb")),
          (spark.range(1).select(lit(batchId).as("ingest_batch"),
            lit(1L).as("committed")), s"${table}_ledger",
            Seq("ingest_batch"))),
          batchId, wh, audit): Unit
      }
    }
  }

  /** Frontier-lake COMPACTION — [[compactPostings]]' versioned-snapshot
    * shape applied to the streaming frontier's two per-batch appenders:
    * `<t>_records` and `<t>_settled` gain one `ingest_batch` leaf per
    * micro-batch, so after thousands of batches every retry read and
    * serve window pays per-fragment open cost. This job rewrites the
    * accumulated fragments as ONE generation each — records re-bucketed
    * by `db` (the retry probe's pruning key, ~one file per bucket),
    * settled as a single walk-state-sized frame — published as VERSIONED
    * snapshots (`_records_serve` / `_settled_serve`): the `_VERSION`
    * flip is the atomic reader-visible commit, a crashed compactor
    * leaves only untrusted debris, concurrent compactors CAS distinct
    * generations, a pinned reader keeps its generation. Rows pass
    * through UNCHANGED (`ingest_batch` kept as a data column — the
    * serve view's rank-1 window needs it), so
    * [[frontierSettledCompacted]] is provably identical to the live
    * [[frontierSettled]]. The edge/terminal lakes need no compaction:
    * their bucket upserts dynamically OVERWRITE whole bucket
    * directories, so fragments never accumulate.
    *
    * Concurrency: with `quiesced = false` the read is restricted to
    * batch ids present in the LEDGER — the 1-row frame each batch
    * publishes last — so a mid-publish batch (dynamic partition
    * overwrite is not directory-atomic) can never be captured torn and
    * frozen into the immutable snapshot. Returns the committed
    * (recordsVersion, settledVersion).
    */
  def compactFrontier(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    // READ ORDER IS THE GUARD: the ledger is collected BEFORE the
    // records/settled readers snapshot their file listings. A batch
    // finishing its publish in between is then absent from the
    // ledger set (its ledger row lands last) and excluded — reading
    // the tables first would let a batch that completed after the
    // listing appear committed while only partially present in the
    // frozen listing. Ledger-sized collect: one row per micro-batch
    // ever ingested — itself read snapshot+tail, because the ledger is
    // ALSO a per-batch appender and is folded/vacuumed below (any
    // readable ledger id is trustworthy: the 1-row leaf either
    // committed whole or lists as absent, so the ledger fold needs no
    // trust guard of its own).
    val ledgerName = s"${table}_ledger"
    val committed: Option[Set[Long]] =
      if (quiesced) None
      else Some(hybridLakeRead(spark, wh, ledgerName, s"${ledgerName}_serve")
        .select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet)
    // a legacy record lake (pre-db layout) snapshots unpartitioned; the
    // bucketed layout keeps db so the snapshot stays retry-prunable
    val recsName = s"${table}_records"
    val recsParts =
      if (wh.hasData(recsName) &&
          wh.read(spark, recsName).columns.contains("db")) Seq("db")
      else Nil
    // the ledger folds too (fragment-count only — it is the last
    // remaining per-batch appender), so a perpetual ingest's frontier
    // is bounded in ALL its tables once gcLake runs with slack; guarded
    // because a frontier whose every batch quarantined has no ledger
    if (hasAnyData(wh, ledgerName, s"${ledgerName}_serve"))
      foldForward(spark, wh, ledgerName, s"${ledgerName}_serve",
        tail => Right(tail), Nil): Unit
    (foldForward(spark, wh, recsName, s"${recsName}_serve",
        trusted(wh, s"${recsName}_serve", committed), recsParts),
      foldForward(spark, wh, s"${table}_settled", s"${table}_settled_serve",
        trusted(wh, s"${table}_settled_serve", committed), Nil))
  }

  /** [[frontierSettled]] served from the COMPACTED snapshot — the same
    * rank-1-per-source window over the pinned `_settled_serve`
    * generation instead of the fragmented live table. Bit-identical to
    * the live view as of the compaction (the pipe_frontier_compacted
    * oracle contract).
    */
  def frontierSettledCompacted(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String): DataFrame =
    latestPerSource(wh.readVersion(spark, s"${table}_settled_serve"))

  /** The frontier's SERVE view: each source's LATEST settled outcome
    * (rank-1 by ingest_batch per doc_id — the settled table is
    * redirect-count-sized, so the window is walk-state-sized, never
    * archive-sized). Reads snapshot + tail ([[hybridLakeRead]]): with no
    * committed `_settled_serve` generation this is the live fragmented
    * table verbatim (pipe_frontier_serve's read); with one, the view
    * pays one generation + post-fold fragments and stays whole after
    * [[gcLake]] vacuums folded fragments (pipe_frontier_hybrid's read).
    * `excludeBatch` is the replay guard: a replaying
    * batch derives its retry set as if its own attempt never ran — an
    * ingest_batch DATA-column filter, so it removes the replayed rows
    * even after a compaction folded them into the snapshot.
    */
  def frontierSettled(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      excludeBatch: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = hybridLakeRead(spark, wh, s"${table}_settled",
      s"${table}_settled_serve")
    latestPerSource(excludeBatch
      .map(b => t.filter(col("ingest_batch") =!= b)).getOrElse(t))
  }

  /** The serve rule, in ONE place for the live and compacted views: each
    * source's latest settled row (rank-1 by ingest_batch per doc_id).
    */
  private def latestPerSource(settled: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, desc, row_number}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(desc("ingest_batch"))
    settled.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The ROUTED mixed-modality ingest — the production shape of a media
    * lake's landing zone: ONE stream of mixed (doc_id, payload) rows,
    * byte-sniff-routed and signed in a single decode pass
    * ([[graft.operators.Multimodal.mediaSig]] — PNG/JPEG → dHash,
    * WAV → the 60-bit energy fingerprint, Y4M → keyframe dHash), then
    * each modality's slice drives its own signature index through the
    * SAME per-modality body the dedicated twins run
    * ([[perceptualPublishHashed]]) with that modality's matching rule
    * (hamming ≤ 3 for image/video, exact equality for audio). Publishes
    * `<prefix>_image|_audio|_video` plus their `_sigs` indexes — all
    * replay-idempotent via the shared body's first_batch/last_batch
    * guards, under ONE checkpoint. Per-batch cost: one narrow decode of
    * the batch + three signature-width index matches; the mixed lake's
    * bytes are read exactly once, at their own ingest.
    */
  def mediaIngestToWarehouse(
      mediaStream: DataFrame,
      wh: Warehouse,
      tablePrefix: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    sink(mediaStream, checkpointDir, trigger) { (batch, batchId) =>
      mediaPublishBatch(batch, batchId, wh, tablePrefix, audit)
    }

  /** One micro-batch of the routed ingest: decode + route + sign ONCE
    * (localCheckpoint — the router feeds three branches),
    * then the shared per-modality publish body per slice. Unroutable
    * payloads drop typed at the router (the crawl salvage rule: loud
    * failure would be a permanent poison pill under checkpoint replay).
    */
  private[graft] def mediaPublishBatch(
      batch: DataFrame,
      batchId: Long,
      wh: Warehouse,
      tablePrefix: String,
      audit: DataFrame => Option[String]): Unit = {
    import org.apache.spark.sql.functions.col
    if (!batch.isEmpty) {
      val sigs = graft.operators.Multimodal.mediaSig(batch)
        .filter(col("modality").isin("image", "audio", "video"))
        .localCheckpoint()
      for ((m, maxH) <- Seq(("image", 3), ("video", 3), ("audio", 0)))
        perceptualPublishHashed(
          sigs.filter(col("modality") === m)
            .select(col("doc_id"), col("sig_hi").as("hash_hi"),
              col("sig_lo").as("hash_lo")),
          batchId, wh, s"${tablePrefix}_$m", audit, maxH)
    }
  }

  private def perceptualIngestToWarehouse(
      mediaStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      hashOf: DataFrame => DataFrame,
      okFormat: String,
      trigger: Trigger,
      maxHamming: Int = 3): StreamingQuery =
    sink(mediaStream, checkpointDir, trigger) { (batch, batchId) =>
      perceptualPublishBatch(batch, batchId, wh, table, audit,
        hashOf, okFormat, maxHamming)
    }

  /** Hash-bucket count of the perceptual signature index's FOLDED
    * generations ([[compactPerceptual]]'s `sb` partitioning) — fixed, so
    * a bucket-keyed reader prunes directories on the snapshot.
    */
  private[graft] val SigBuckets = 64L

  /** One micro-batch of the perceptual-ingest body. The signature index
    * is LSM-SHAPED — the same bounded-write discipline every other
    * streamed lake here follows, applied to the one index that used to
    * rewrite touched hash buckets per batch:
    *
    *  - `<table>_sigs` is the DELTA lake: each batch appends exactly ONE
    *    `ingest_batch` partition holding its insert rows (new keeper
    *    signatures: doc_id, hash_hi, hash_lo, add_n = batch copy mass,
    *    is_insert = true) and its count-add rows (mass merged into
    *    EXISTING keepers: doc_id = the corpus keeper, is_insert = false).
    *    Per-batch WRITE COST IS DELTA-SIZED — proportional to the batch,
    *    never to index mass — and a checkpoint replay's dynamic
    *    overwrite replaces its own partition wholesale, so a re-run can
    *    never double-count (no last_batch guard needed: the partition IS
    *    the batch's entire effect);
    *  - the match corpus reads base ∪ delta-INSERTS above the base's
    *    persisted watermark ([[perceptualSigsCorpus]] — the
    *    [[hybridLakeRead]] idiom; count-adds reference keepers already
    *    in the corpus, so matching never needs them), with rows FIRST
    *    SEEN by the replaying batch (`first_batch = batchId`, which for
    *    a delta insert IS its partition id) excluded — the previous
    *    attempt's rows can never drop the replay's docs;
    *  - [[compactPerceptual]] periodically folds base ∪ deltas into a
    *    NEW `sb`-bucketed generation through [[foldForward]] carrying
    *    the fold watermark sidecar, and [[gcLake]] then deletes folded
    *    delta partitions; a crash between the fold commit and the GC can
    *    never double-count — deltas at or below the watermark are
    *    simply never trusted again.
    *
    * The INVARIANT the layout preserves — logical index rows ==
    * distinct surviving signatures, each with its total copy mass
    * ([[perceptualSigsView]], the no-silent-drops rule) — is what keeps
    * every future batch's match join bounded.
    */
  private[graft] def perceptualPublishBatch(
      batch: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      hashOf: DataFrame => DataFrame,
      okFormat: String,
      maxHamming: Int): Unit = {
    import org.apache.spark.sql.functions.col
    if (!batch.isEmpty)
      perceptualPublishHashed(
        hashOf(batch).filter(col("format") === okFormat)
          .select(col("doc_id"), col("hash_hi"), col("hash_lo")),
        batchId, wh, table, audit, maxHamming)
  }

  /** The hash-frame half of the perceptual-ingest body — everything
    * after the modality's decode. Factored out so the ROUTED
    * mixed-modality sink ([[mediaIngestToWarehouse]]) can decode a
    * mixed batch ONCE and drive all three per-modality indexes through
    * this one implementation.
    */
  private[graft] def perceptualPublishHashed(
      hashed: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      maxHamming: Int): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    import graft.operators.Multimodal
    val sigsName = s"${table}_sigs"
    // no emptiness pre-check here: probing `hashed` would pay a partial
    // decode the callers' frames don't owe (the dedicated twins pass a
    // lazy hashOf chain), and the body below is empty-safe — an empty
    // frame flows to empty survivors/adds and writes nothing
    locally {
      // within-batch exact dedup WITH copy counts: one representative
      // per distinct hash, add_n = how many batch items carried it
      val exactCnt = hashed
        .groupBy(col("hash_hi"), col("hash_lo"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("add_n"))
        .select(col("doc_id"), col("hash_hi"), col("hash_lo"), col("add_n"))
        .cache()
      try {
        val hasIndex = hasAnyData(wh, sigsName, s"${sigsName}_serve")
        // cached: matches feed BOTH the survivor anti-join and the count
        // rollup — the dominant band join must not run twice
        val matched = (
          if (!hasIndex)
            exactCnt.limit(0).select(col("doc_id").as("doc_new"),
              col("add_n").as("dup_of"), col("hash_lo").as("dup_hash_lo"))
          else
            Multimodal.dhashIncrementalMatches(
              exactCnt.select(col("doc_id"), col("hash_hi"), col("hash_lo")),
              // base generation ∪ delta inserts above the persisted
              // watermark (the hybridLakeRead idiom) — the replaying
              // batch's own prior inserts excluded by first_batch,
              // which for an un-folded delta insert IS its partition id
              perceptualSigsCorpus(hashed.sparkSession, wh, table)
                .filter(col("first_batch") =!= batchId)
                .select(col("doc_id"), col("hash_hi"), col("hash_lo")),
              maxHamming, carryDupHashLo = true)
              .select(col("doc_new"), col("dup_of"), col("dup_hash_lo"))
          ).cache()
        val survivors = exactCnt.join(
            matched.select(col("doc_new").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti")
          .cache()
        try {
          // a DUP-ONLY batch (every item matched an existing signature)
          // publishes no docs, but its copy mass must still land as a
          // count-add delta — the gate's "empty batch" false would
          // otherwise silently drop the counts forever (the checkpoint
          // marks the batch done). The maintenance branch is still
          // GATED: the batch's staged hash readback passes the same
          // audit a publishing batch would, so a batch the audit would
          // quarantine never merges its counts either (auditGateOnly)
          val published =
            if (survivors.isEmpty) auditGateOnly(
              exactCnt.select(col("doc_id"), col("hash_hi"), col("hash_lo"))
                .withColumn("ingest_batch", lit(batchId)),
              batchId, wh, table, audit)
            else gatedPublish(
              survivors.select(col("doc_id"), col("hash_hi"), col("hash_lo"))
                .withColumn("ingest_batch", lit(batchId)),
              batchId, wh, table, Seq("ingest_batch"), audit)
          if (published) {
            // the batch's ENTIRE index effect as one delta partition:
            // insert rows for new keepers, count-add rows (keyed by the
            // corpus keeper's doc_id, carried through the match join)
            // for mass merged into existing signatures. Write cost is
            // the delta's rows; a replay's dynamic overwrite replaces
            // the partition wholesale, so re-runs converge by layout
            val inserts = survivors.select(
              col("doc_id"), col("hash_hi"), col("hash_lo"), col("add_n"),
              lit(true).as("is_insert"))
            val addRows = matched
              .join(exactCnt.select(col("doc_id").as("doc_new"),
                col("add_n")), "doc_new")
              .groupBy(col("dup_of")).agg(sum(col("add_n")).as("add_n"),
                // hash_lo is functionally determined by the keeper id
                // (one logical row per signature) — max is just a picker
                max(col("dup_hash_lo")).as("dup_hash_lo"))
              .select(col("dup_of").as("doc_id"),
                lit(null).cast("long").as("hash_hi"),
                col("dup_hash_lo").as("hash_lo"),
                col("add_n"), lit(false).as("is_insert"))
            val delta = inserts.unionByName(addRows)
              .withColumn("ingest_batch", lit(batchId))
              .localCheckpoint()
            if (!delta.isEmpty) {
              wh.partitionedUpsertWrite(delta, sigsName, Seq("ingest_batch"))
              wh.noteLiveBatch(sigsName, batchId)
            } else {
              // a REPLAY whose re-derived delta is empty must still erase
              // its previous attempt's partition — "the partition IS the
              // batch's entire effect" would otherwise hold only under
              // row-identical replay (a non-deterministic audit or
              // survivor set could leave stale insert/count-add rows)
              val stale = new java.io.File(wh.tablePath(sigsName),
                s"ingest_batch=$batchId")
              if (stale.exists()) Warehouse.deleteRecursively(stale)
              wh.dropLiveBatchNote(sigsName, batchId)
            }
          }
        } finally { survivors.unpersist(); matched.unpersist(): Unit }
      } finally exactCnt.unpersist(): Unit
    }
  }

  /** The perceptual index's (base generation, deltas-above-watermark) —
    * the raw ingredients every index read composes. An absent base
    * means "never folded" (all deltas); a vacuumed-empty live lake means
    * "no deltas" (typed empty frame).
    */
  private def perceptualParts(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String): (Option[DataFrame], DataFrame) = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    val sigsName = s"${table}_sigs"
    val serveName = s"${sigsName}_serve"
    val current = wh.currentVersion(serveName)
    val base = current.map(v => wh.readVersion(spark, serveName, Some(v)))
    val priorThru = current.map(v => lakeThru(spark, wh, serveName, v))
    val deltas =
      if (wh.hasData(sigsName))
        wh.read(spark, sigsName)
          .filter(col("ingest_batch") > priorThru.getOrElse(Long.MinValue))
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("hash_hi", LongType), StructField("hash_lo", LongType),
          StructField("add_n", LongType), StructField("is_insert", BooleanType),
          StructField("ingest_batch", LongType))))
    (base, deltas)
  }

  /** Delta INSERT rows lifted to the logical index-row shape. */
  private def perceptualInsertRows(deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    deltas.filter(col("is_insert"))
      .select(col("doc_id"), col("hash_hi"), col("hash_lo"),
        col("add_n").as("n_copies"),
        col("ingest_batch").cast("long").as("first_batch"),
        col("ingest_batch").cast("long").as("last_batch"))
  }

  /** Count-add deltas folded onto signature rows: n_copies accumulates
    * the added mass, last_batch advances to the newest adding batch.
    */
  private def perceptualApplyAdds(rows: DataFrame, deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, greatest, lit, max, sum}
    val adds = deltas.filter(!col("is_insert"))
      .groupBy(col("doc_id"))
      .agg(sum(col("add_n")).as("__add_n"),
        max(col("ingest_batch").cast("long")).as("__lb"))
    rows.join(adds, Seq("doc_id"), "left")
      .withColumn("n_copies",
        col("n_copies") + coalesce(col("__add_n"), lit(0L)))
      .withColumn("last_batch",
        greatest(col("last_batch"), coalesce(col("__lb"), lit(Long.MinValue))))
      .drop("__add_n", "__lb")
  }

  /** Base signature rows ∪ delta inserts — the ONE composition every
    * perceptual read shares (corpus, view, fold).
    */
  private def perceptualRows(base: Option[DataFrame],
      deltas: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    val ins = perceptualInsertRows(deltas)
    base.map(b => b.select(ins.columns.map(col): _*).unionByName(ins))
      .getOrElse(ins)
  }

  /** The MATCH-corpus read: base signature rows ∪ delta inserts — one
    * generation + |post-fold deltas| fragment opens per batch, bounded
    * under perpetual ingest. Count-adds are irrelevant to matching
    * (they reference keepers already present), so this read skips the
    * add-merge join entirely.
    */
  private def perceptualSigsCorpus(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String): DataFrame = {
    val (base, deltas) = perceptualParts(spark, wh, table)
    perceptualRows(base, deltas)
  }

  /** The LOGICAL perceptual index — one row per distinct surviving
    * signature `(doc_id = first-seen keeper, hash_hi, hash_lo, n_copies,
    * first_batch, last_batch)` with every count-add applied: what the
    * pre-LSM table materialized per batch, now composed at read time
    * from base ∪ deltas (and materialized by [[compactPerceptual]]).
    */
  private[graft] def perceptualSigsView(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String): DataFrame = {
    val (base, deltas) = perceptualParts(spark, wh, table)
    perceptualApplyAdds(perceptualRows(base, deltas), deltas)
  }

  /** Perceptual-index FOLD — materialize base ∪ deltas as the next
    * `sb`-bucketed generation (the LSM compaction): inserts become
    * rows, count-adds merge into their keepers, and the committed
    * sidecar watermark hands [[gcLake]] its delete boundary. A crash
    * between commit and GC cannot double-count (deltas at or below the
    * watermark are never trusted again). `quiesced = false` trusts only
    * batch ids strictly older than the newest. The fold is
    * PARTITION-SCOPED: an insert lands in its own signature's bucket,
    * and a count-add carries its KEEPER's hash_lo (functionally
    * determined by the keeper id — the addRows `max` picker), so
    * `pmod(hash_lo, SigBuckets)` over the deltas is a complete census
    * of every bucket this fold can change. Returns the committed (or
    * kept) version.
    */
  def compactPerceptual(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): Int = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val serveName = s"${table}_sigs_serve"
    foldForward(spark, wh, s"${table}_sigs", serveName,
      newestExcluded(wh, serveName, quiesced), Seq("sb"),
      merge = (base, deltas) =>
        perceptualApplyAdds(perceptualRows(base, deltas), deltas),
      bucketOf = _ => pmod(col("hash_lo"), lit(SigBuckets)))
  }

  /** Streaming IVF index ingest — the foreachBatch twin of
    * `sim_ivf_ingest`: each micro-batch of (vec_id, embedding) rows is
    * assigned to the FROZEN centroid set via
    * [[graft.operators.Similarity.cellAssignExpr]] (a narrow
    * literal-centroid projection: |K| codegen'd cosines + argmin per row —
    * no join, no window, no shuffle, so the whole transform is legal on
    * the streaming side), then published through the same staged-readback
    * audit gate as every other streaming sink, as a dynamic partition
    * upsert keyed (cell, ingest_batch):
    *  - `cell` first ⇒ the lake is cell-partitioned and a probe reading
    *    one cell prunes files at the top directory level (the
    *    sim_topk_ivf serving layout);
    *  - `ingest_batch` second ⇒ a checkpoint replay rewrites exactly its
    *    own leaf partitions — idempotent recovery without clobbering
    *    other batches' rows in the same cell.
    * At 100 TB the ingest cost is one narrow pass over each batch plus a
    * batch-sized partitioned write; the index grows with ingest and the
    * retrain signal stays with sim_ivf_drift.
    */
  def ivfIngestToWarehouse(
      embStream: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val (cellCol, csCol) =
      graft.operators.Similarity.cellAssignExpr(embStream.sparkSession, centroids)
    val assigned = embStream.select(col("vec_id"), col("embedding"), cellCol, csCol)
    sink(assigned, checkpointDir, trigger) { (batch, batchId) =>
      ivfPublishBatch(batch, batchId, wh, table, audit)
    }
  }

  /** The per-micro-batch publish body of [[ivfIngestToWarehouse]] (the
    * batch already carries its `cell`/`cs` assignment) — `private[graft]`
    * so the IVF-lake fixture can replay the REAL ingest over
    * deterministic slices.
    */
  private[graft] def ivfPublishBatch(
      assigned: DataFrame,
      batchId: Long,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String]): Unit = {
    import org.apache.spark.sql.functions.lit
    gatedPublish(assigned.withColumn("ingest_batch", lit(batchId)),
      batchId, wh, table, Seq("cell", "ingest_batch"), audit): Unit
  }

  /** Streaming SEMANTIC dedup ingest — the EMBEDDING twin of
    * [[dedupIngestToWarehouse]], closing the continuous-ingestion loop
    * for an embedding lake the way SemDeDup prunes a training corpus
    * (sim_semantic_dedup's semantics applied at ingest time instead of
    * as a post-hoc batch job). Per micro-batch of
    * (vec_id, label, embedding) rows:
    *
    *  1. SRP coding as a narrow literal-plane projection
    *     ([[graft.operators.Similarity.srpCodeCol]] over the FROZEN
    *     hyperplane set — the ivfIngest frozen-centroid idiom, so the
    *     transform is streaming-legal and the code space never drifts
    *     between batches);
    *  2. within-batch EXACT dedup: a vec_id appearing twice keeps the
    *     min (embedding, label) row (deterministic across the publish
    *     and any re-evaluation — the dedupPublishBatch min-hash rule),
    *     then min-vec_id canonical per identical embedding;
    *  3. cross-corpus SEMANTIC near-dup drop: batch rows join the
    *     PERSISTED lake on the (label, code) block and drop at
    *     round(cosine, 6) ≥ minCos — the sim_pairs_block blocking, run
    *     asymmetrically. The corpus read is directory-PRUNED to the
    *     batch's own distinct codes (a ≤ 2^planes bounded collect — the
    *     carryDupHashLo idiom) and EXCLUDES the replaying batch's own
    *     partitions, so an at-least-once replay never drops a same-batch
    *     semantic pair against its previous attempt's rows;
    *  4. survivors publish through the staged-readback audit gate into
    *     `<table>` partitioned (code, ingest_batch) — the lake IS the
    *     index (code first ⇒ block probes prune at the top directory
    *     level; batch-scoped leaves ⇒ idempotent replay).
    *
    * At 100 TB: per-batch cost is one narrow coding pass plus one
    * block-pruned asymmetric join against the lake — corpus vectors
    * outside the batch's code blocks are never read, and only
    * (vec_id, code) keys and verified-pair rows cross an exchange.
    */
  def semanticIngestToWarehouse(
      embStream: DataFrame,
      planes: Seq[Array[Float]],
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      minCos: Double = 0.25,
      maintainEvery: Int = 0): StreamingQuery =
    sink(embStream, checkpointDir, trigger) { (batch, batchId) =>
      semanticPublishBatch(batch, batchId, planes, wh, table, audit, minCos)
      // the same in-loop cadence as [[postingsIngestToWarehouse]]
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
        maintainSemantic(batch.sparkSession, wh, table): Unit
    }

  /** The per-micro-batch body of [[semanticIngestToWarehouse]] —
    * `private[graft]` so the semantic-lake fixture can replay the REAL
    * ingest over deterministic slices.
    */
  private[graft] def semanticPublishBatch(
      batch: DataFrame,
      batchId: Long,
      planes: Seq[Array[Float]],
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      minCos: Double): Unit = {
    import org.apache.spark.sql.functions.{call_function, col, lit, min, round, struct}
    if (!batch.isEmpty) {
      val s = batch.sparkSession
      graft.plans.GraftExtensions.ensureRegistered(s)
      // deterministic per-vec_id keeper FIRST (min (embedding, label)
      // struct — array ordering is total), then the code is re-derived
      // from the kept row so every later evaluation agrees
      val perId = batch
        .groupBy(col("vec_id"))
        .agg(min(struct(col("embedding"), col("label"))).as("r"))
        .select(col("vec_id"), col("r.embedding").as("embedding"),
          col("r.label").as("label"))
        .withColumn("code",
          graft.operators.Similarity.srpCodeCol(planes))
        .cache()
      try {
        // content-level exact dedup: min-vec_id canonical per identical
        // (label, embedding) — label included because every semantic
        // stage here blocks on it (sim_semantic_dedup forms no pair
        // across labels), so an identical vector under two labels keeps
        // BOTH rows, exactly as it would had they arrived in different
        // batches; collapsing on embedding alone would make lake content
        // depend on batch boundaries
        val canon = perId.groupBy(col("label"), col("embedding"))
          .agg(min(col("vec_id")).as("vec_id"))
          .select(col("vec_id"))
        val exact = perId.join(canon, Seq("vec_id"))
        val survivors =
          if (!hasAnyData(wh, table, s"${table}_serve")) exact
          else {
            // bounded by the code space (2^planes), NOT the batch or the
            // lake — the touched-block key set that prunes the corpus read
            val batchCodes = exact.select(col("code")).distinct()
              .collect().map(_.getLong(0)).toIndexedSeq
            // snapshot + tail, not the fragmented live lake: per-batch
            // match cost is one compacted generation + |new batches|
            // fragments, bounded under perpetual ingest (and the only
            // correct read once [[gcLake]] has vacuumed folded
            // fragments). The replay-exclusion filter still holds on
            // folded rows — ingest_batch rides the snapshot as data.
            val corpus = hybridLakeRead(s, wh, table, s"${table}_serve")
              .filter(col("ingest_batch") =!= batchId &&
                col("code").isin(batchCodes: _*))
              .select(col("vec_id").as("vec_old"),
                col("label"), col("code"),
                col("embedding").as("emb_old"))
            val dupIds = exact.join(corpus, Seq("label", "code"))
              .filter(col("vec_id") =!= col("vec_old"))
              .filter(round(call_function("graft_cosine",
                col("embedding"), col("emb_old")), 6) >= minCos)
              .select(col("vec_id")).distinct()
            exact.join(dupIds, Seq("vec_id"), "left_anti")
          }
        gatedPublish(
          survivors.withColumn("ingest_batch", lit(batchId)),
          batchId, wh, table, Seq("code", "ingest_batch"), audit): Unit
      } finally perId.unpersist(): Unit
    }
  }

  /** Semantic-lake COMPACTION — [[compactPostings]]' versioned-snapshot
    * shape applied to [[semanticPublishBatch]]'s `(code, ingest_batch)`
    * appender: one leaf per (touched code, micro-batch) means a
    * code-pruned serve read pays per-fragment open cost growing with
    * batch count. This job rewrites the accumulated lake as ONE
    * code-partitioned generation (~one file per SRP code: a hash
    * repartition on `code` before the partitioned write — block-pruned
    * reads survive compaction), published as a versioned `_serve`
    * snapshot with the usual contract: `_VERSION` flip is the atomic
    * commit, crashed compactors leave untrusted debris, concurrent
    * compactors CAS distinct generations, pinned readers keep their
    * generation. Rows pass through UNCHANGED (`ingest_batch` kept as a
    * data column), so the snapshot is provably identical to the live
    * lake (the sim_semdedup_compacted oracle contract). Ingest keeps
    * appending to the live table and its match join reads snapshot+tail
    * ([[hybridLakeRead]] — replay exclusion holds on folded rows because
    * `ingest_batch` rides the snapshot as data); the next run folds
    * FORWARD from this generation. Returns the committed version.
    *
    * Concurrency: with `quiesced = false` only batch ids strictly older
    * than the newest are trusted — the lake is the batch's ONLY table,
    * so the newest id may be a mid-publish partition upsert (not
    * directory-atomic); every older id's publish completed before the
    * next batch of the serialized foreachBatch began.
    */
  def compactSemantic(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): Int =
    compactBlockedLake(spark, wh, table, "code", quiesced)

  /** The published CORPUS lake compacted for serving: one
    * source-partitioned generation (`source` is the key mix cuts and
    * per-source exports prune on; the live lake is batch-partitioned
    * for replay idempotence, the snapshot is source-partitioned for
    * reads) — same contract, rows unchanged.
    */
  def compactCorpus(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): Int =
    compactBlockedLake(spark, wh, table, "source", quiesced)

  /** The IVF twin: [[ivfIngestToWarehouse]]'s `(cell, ingest_batch)`
    * lake compacted to one cell-partitioned generation — identical
    * contract, `cell` is the block key.
    */
  def compactIvf(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): Int =
    compactBlockedLake(spark, wh, table, "cell", quiesced)

  /** The shared body: a `(blockCol, ingest_batch)`-appended lake
    * rewritten as ONE blockCol-partitioned versioned `_serve`
    * generation, rows unchanged ([[foldForward]]). Every streamed lake
    * that appends one leaf per (block, batch) compacts through here —
    * the semantic lake on `code`, the IVF lake on `cell`, the corpus
    * lake on `source`.
    */
  private def compactBlockedLake(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      blockCol: String,
      quiesced: Boolean): Int =
    foldForward(spark, wh, table, s"${table}_serve",
      newestExcluded(wh, s"${table}_serve", quiesced), Seq(blockCol))

  /** The one fold every lake compaction shares, and the only code here
    * that commits a snapshot generation: new generation = `merge`(prior
    * snapshot, trusted live tail), the tail being the live partitions
    * strictly above the prior watermark. FOLD-FORWARD is required for
    * correctness once [[gcLake]] vacuums folded fragments — a whole-lake
    * refold would silently lose their rows. The default merge passes
    * rows through unchanged ([[compactBlockedLake]],
    * [[compactDedupIndex]], [[compactFrontier]], [[compactPostings]]);
    * [[compactStats]] sums per source and [[compactPerceptual]] applies
    * count-adds. `trust` is each lake's mid-publish guard over the TAIL
    * ([[trusted]]) — `Right` the trustable subset, `Left` the version to
    * keep serving when nothing in the tail can be trusted yet.
    *
    * An empty trusted tail is ALWAYS a no-op (returns the current
    * version): with a snapshot, committing an identical generation
    * would only churn the retention window out from under pinned
    * readers; with none (live data exists but nothing in it is trusted
    * yet), an EMPTY first generation would poison every later watermark
    * read. The committed generation CARRIES its fold watermark (the
    * `thru` sidecar), so hybrid readers and the vacuum boundary resolve
    * it without re-scanning the snapshot on every read.
    *
    * With one partition column `bc` the fold is PARTITION-SCOPED — the
    * write is ∝ TAIL-TOUCHED partition mass, not lake mass: the new
    * generation physically rewrites only the partitions holding tail
    * rows (prior rows of those partitions ∪ tail), while every
    * untouched partition carries forward by MANIFEST reference to the
    * older generation's directory
    * ([[graft.pipeline.Warehouse.manifestOf]] — resolved by readVersion
    * with zero extra jobs; pruneVersions refcounts the referenced
    * carriers). `bucketOf(bc)` is a tail row's partition value — the
    * column itself, or an expression when the partition is derived
    * (the perceptual index's `sb`). At 100 TB this is the difference
    * between a nightly maintenance job whose bill tracks the day's
    * ingest and a full-lake rewrite per fold.
    */
  private[graft] def foldForward(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      liveName: String,
      serveName: String,
      trust: DataFrame => Either[Int, DataFrame],
      partitionCols: Seq[String],
      merge: (Option[DataFrame], DataFrame) => DataFrame = unionRows,
      bucketOf: String => org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.col): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, collect_set, lit, max, sum, when}
    require(partitionCols.size <= 1,
      s"foldForward($liveName): at most one partition column")
    // a fully-vacuumed live lake (schema-less dir after [[gcLake]]) means
    // "no tail": with a committed snapshot this fold is a no-op; with
    // none there is nothing to fold at all
    if (!wh.hasData(liveName))
      return wh.currentVersion(serveName).getOrElse(
        throw new IllegalStateException(
          s"foldForward($liveName): no live data and no committed snapshot"))
    val lake = wh.read(spark, liveName)
    val current = wh.currentVersion(serveName)
    val priorThru = current.map(v => lakeThru(spark, wh, serveName, v))
    val base = current.map(v => wh.readVersion(spark, serveName, Some(v)))
    val tail =
      trust(priorThru.fold(lake)(t => lake.filter(col("ingest_batch") > t))) match {
        case Left(cv) => return cv
        case Right(df) => df
      }
    val scoped = partitionCols.headOption.map(bc => bc -> bucketOf(bc))
    // ONE tail-sized job is the emptiness probe, the new watermark AND
    // (partition-scoped) the touched-partition census
    val probe = tail.agg(
      coalesce(max(col("ingest_batch").cast("long")), lit(Long.MinValue)),
      scoped.toSeq.flatMap { case (_, b) => Seq(
        collect_set(b.cast("string")),
        coalesce(sum(when(b.isNull, 1L).otherwise(0L)), lit(0L))) }: _*)
      .collect()(0)
    val tailMax = probe.getLong(0)
    if (tailMax == Long.MinValue)
      return current.getOrElse(0)
    val thru = Map("thru" ->
      math.max(priorThru.getOrElse(Long.MinValue), tailMax).toString)
    val (out, manifest) = scoped match {
      case None => (merge(base, tail), (_: Int) => Map.empty[String, String])
      case Some((bc, bucket)) =>
        // a NULL block value would land in the default partition but
        // fall out of the manifest census — fail loudly rather than
        // silently losing a partition at the next carry-forward
        require(probe.getLong(2) == 0L,
          s"foldForward($liveName): null $bc values cannot fold partition-scoped")
        val touched = probe.getSeq[String](1).sorted
        // a base generation WITHOUT the partition column (a legacy
        // unpartitioned layout) has no partition directories to carry:
        // it is rewritten whole, and the new generation commits
        // manifest-less (every value it serves in its own dirs)
        val flatBase = base.exists(b => !b.columns.contains(bc))
        val priorMap: Map[String, Int] = current match {
          case Some(v) if !flatBase =>
            wh.manifestOf(serveName, v).map(_._2).getOrElse(
              // legacy full generation: every partition value it serves
              // is physically in its own dir (one flat listing)
              wh.partitionValuesOf(serveName, v, bc).map(_ -> v).toMap)
          case _ => Map.empty
        }
        val touchedBase = base.map { b =>
          if (flatBase) b
          else {
            val dt = b.schema(bc).dataType
            b.filter(touched.map(s => col(bc) === lit(s).cast(dt)).reduce(_ || _))
          }
        }
        (merge(touchedBase, tail).withColumn(bc, bucket).repartition(col(bc)),
          (nv: Int) =>
            if (flatBase) Map.empty[String, String]
            else wh.manifestMeta(bc, priorMap ++ touched.map(_ -> nv)))
    }
    wh.versionedWriteWith(out, serveName, partitionCols,
      nv => thru ++ manifest(nv))
  }

  /** [[foldForward]]'s default merge: prior snapshot ∪ tail, rows
    * unchanged (the tail projected to the snapshot's columns).
    */
  private def unionRows(base: Option[DataFrame], tail: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    base.fold(tail)(b => b.unionByName(tail.select(b.columns.map(col): _*)))
  }

  /** The one trust rule of a fold over a live lake: the tail limited to
    * the `committed` batch ids, or `Left` with the version to keep
    * serving when none is committed yet (publishing would point
    * `_serve` at an EMPTY generation). `None` is the quiesced fold — no
    * publish in flight, the whole tail is trusted.
    */
  private def trusted(
      wh: Warehouse,
      serveName: String,
      committed: Option[Set[Long]])(tail: DataFrame): Either[Int, DataFrame] = {
    import org.apache.spark.sql.functions.col
    committed match {
      case None => Right(tail)
      case Some(ids) if ids.isEmpty =>
        Left(wh.currentVersion(serveName).getOrElse(0))
      case Some(ids) =>
        Right(tail.filter(col("ingest_batch").isin(ids.toSeq: _*)))
    }
  }

  /** [[trusted]] under the single-table rule: with `quiesced = false`
    * only batch ids STRICTLY OLDER than the tail's newest are committed
    * — the newest may be a mid-publish partition upsert (not
    * directory-atomic); every older id's publish completed before the
    * serialized foreachBatch began the next, and a single-batch history
    * excludes itself. The id probe is a ledger-sized collect.
    */
  private def newestExcluded(
      wh: Warehouse,
      serveName: String,
      quiesced: Boolean)(tail: DataFrame): Either[Int, DataFrame] = {
    import org.apache.spark.sql.functions.col
    trusted(wh, serveName, Option.when(!quiesced) {
      val ids = tail.select(col("ingest_batch").cast("long")).distinct()
        .collect().map(_.getLong(0))
      ids.toSet -- ids.maxOption
    })(tail)
  }

  /** The fold watermark of a committed generation: the `thru` sidecar
    * persisted by the compactor at commit time (one tiny metadata read —
    * NO Spark job, so hybrid snapshot+tail reads are plan-time cheap),
    * falling back to the legacy full-generation scan for generations
    * committed before the sidecar existed — and BACKFILLING the sidecar
    * from that scan, so a legacy lake self-heals on first touch (the
    * scan runs once, after which [[lakeHealth]]'s metadata-only view and
    * every hybrid read see the real watermark).
    */
  private[graft] def lakeThru(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      serveName: String,
      v: Int): Long =
    wh.versionMeta(serveName, v).get("thru").map(_.toLong).getOrElse {
      val t = snapshotThru(wh.readVersion(spark, serveName, Some(v)))
      wh.writeVersionMeta(serveName, v, Map("thru" -> t.toString))
      t
    }

  /** Near-dup INDEX compaction — the fold-forward snapshot pair for
    * [[dedupPublishBatch]]'s `<t>_sigs` / `<t>_hashes` appenders, whose
    * per-batch `ingest_batch` leaves every later batch's match join must
    * open. Rows pass through unchanged (`ingest_batch` kept as data — the
    * replay-exclusion filter needs it); there is no block key because the
    * band join reads the whole index anyway, so the win is pure fragment
    * count: the ingest-side [[hybridLakeRead]] then opens ONE generation
    * + the post-fold tail per batch, bounded under perpetual ingest.
    * Both tables fold under the same trust rule as [[compactStats]]
    * (sigs/hashes land before the batch's stats rollup, so under
    * `quiesced = false` only ids strictly older than the newest are
    * trusted). Returns the committed (sigsVersion, hashesVersion).
    */
  def compactDedupIndex(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): (Int, Int) = {
    def one(liveName: String): Int =
      foldForward(spark, wh, liveName, s"${liveName}_serve",
        newestExcluded(wh, s"${liveName}_serve", quiesced), Nil)
    (one(s"${table}_sigs"), one(s"${table}_hashes"))
  }

  /** Watermark of a snapshot generation: the max batch id it covers —
    * one boundary that fold-forward, hybrid serves and vacuum all agree
    * on. A 1-row collect of a |snapshot|-sized agg.
    */
  private def snapshotThru(snap: DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max}
    // every rows-unchanged lake carries `ingest_batch` itself as DATA;
    // folded rows have no single batch id, so the perceptual index
    // carries `last_batch` (a count-add can postdate every insert) and
    // the stats lake `folded_thru` (each source's newest batch — every
    // folded batch wrote at least one source row)
    val batchCol = Seq("ingest_batch", "last_batch", "folded_thru")
      .find(snap.columns.contains).getOrElse("ingest_batch")
    // null-safe: an empty snapshot (a legacy generation committed before
    // foldForward's empty-tail guard) means "no watermark — the whole
    // live lake is tail", not a crash on every later read
    snap.agg(coalesce(max(col(batchCol).cast("long")),
        lit(Long.MinValue)).as("t"))
      .collect()(0).getLong(0)
  }

  /** The snapshot-PLUS-TAIL read of a rows-unchanged streamed lake —
    * [[statsServeHybrid]]'s shape generalized to every lake whose
    * compaction passes rows through unchanged (semantic / IVF / corpus /
    * frontier records / frontier settled / dedup index tables): the
    * pinned `_serve`-style generation covers everything at or below its
    * watermark, the live table contributes only partitions STRICTLY
    * ABOVE it (`ingest_batch` is a partition column of every live lake,
    * so the tail read is directory-pruned to batches the fold never
    * saw). No loss and no double count by construction — folded batches
    * are ≤ the boundary, tail batches are > it, including a
    * possibly-mid-write newest batch a `quiesced = false` compaction
    * deliberately excluded, which the tail re-reads from live once its
    * publish completes. With no committed generation the read is the
    * live lake verbatim (today's pre-compaction behavior); after
    * [[gcLake]] a fully-vacuumed live lake is an EMPTY tail, not an
    * error. This is also the INGEST-side corpus read: per-batch match
    * joins pay one generation + |tail| fragment opens instead of
    * |all batches| — and since `ingest_batch` rides the snapshot as
    * data, a replaying batch's own-rows exclusion filter
    * (`ingest_batch =!= batchId`) still removes its previous attempt's
    * rows even after they were folded in.
    */
  private[graft] def hybridLakeRead(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      liveName: String,
      serveName: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    wh.currentVersion(serveName) match {
      case None => wh.read(spark, liveName)
      case Some(v) =>
        val snap = wh.readVersion(spark, serveName, Some(v))
        if (!wh.hasData(liveName)) snap
        else {
          // sidecar-first: resolving the watermark is a metadata read,
          // not a snapshot scan — every serve query and every
          // ingest-side match join used to pay a full-generation
          // max(ingest_batch) job here before doing real work
          val thru = lakeThru(spark, wh, serveName, v)
          snap.unionByName(
            wh.read(spark, liveName).filter(col("ingest_batch") > thru)
              .select(snap.columns.map(col): _*))
        }
    }
  }

  /** The LAKE-HEALTH report — the unified maintenance-policy view an
    * operator running N bounded lakes checks daily, and the input a
    * future auto-compaction policy would consume: per (lake, live,
    * serve) triple, the live fragment state vs the committed snapshot
    * chain, resolved ENTIRELY from metadata (directory listings + the
    * watermark sidecars — NO Spark job, the [[lakeThru]] discipline).
    * Returned per lake:
    *  - `live_batches`: distinct live `ingest_batch` ids, from the
    *    marker LEDGER ([[graft.pipeline.Warehouse.liveBatches]] — one
    *    flat root listing per lake; a legacy marker-less lake pays one
    *    recursive census that backfills the markers, so at object-store
    *    scale an idle pass is O(lakes) LIST calls, not O(partitions));
    *  - `tail_batches`: live batches strictly above the current
    *    generation's sidecar watermark — the unfolded mass the next
    *    fold absorbs (no snapshot, or a legacy sidecar-less generation,
    *    conservatively counts every live batch as tail — which makes
    *    the next [[maintainLakes]] pass attempt a fold, whose
    *    [[lakeThru]] backfills the sidecar from one scan, so a legacy
    *    lake's health self-corrects after a single maintenance touch);
    *  - `retained_generations` / `current_version`: the committed
    *    snapshot chain ([[graft.pipeline.Warehouse.listVersions]];
    *    version 0 = never folded);
    *  - `vacuum_eligible`: whether [[gcLake]] at `slackGenerations`
    *    would delete at least one fragment NOW (enough retained
    *    generations AND live leaves at or below the slack boundary's
    *    watermark).
    */
  def lakeHealth(
      wh: Warehouse,
      lakes: Seq[(String, String, String)],
      slackGenerations: Int = 1): Seq[(String, Long, Long, Long, Long, Boolean)] =
    lakes.map { case (lake, liveName, serveName) =>
      // the census is the live-batch MARKER ledger (one flat root
      // listing — [[graft.pipeline.Warehouse.liveBatches]]); a legacy
      // marker-less lake pays one recursive walk that backfills the
      // markers, after which every pass is flat-listing only
      val live = wh.liveBatches(liveName)
      val versions = wh.listVersions(serveName)
      val current = wh.currentVersion(serveName)
      def sidecarThru(v: Int): Option[Long] =
        wh.versionMeta(serveName, v).get("thru").map(_.toLong)
      val thru = current.flatMap(sidecarThru)
      val tail = live.count(b => thru.forall(b > _))
      val eligible = versions.size > slackGenerations && {
        val bv = versions(versions.size - 1 - slackGenerations)
        sidecarThru(bv).exists(boundary => live.exists(_ <= boundary))
      }
      (lake, live.size.toLong, tail.toLong, versions.size.toLong,
        current.getOrElse(0).toLong, eligible)
    }

  /** One POLICY-DRIVEN maintenance pass over a set of streamed lakes —
    * the executor that consumes [[lakeHealth]]'s view: per lake, FOLD
    * when the unfolded tail has reached `foldAtTailBatches` live
    * batches (each lake supplies its own fold body via the thunk —
    * rows-unchanged folds and the perceptual count-merging fold run
    * under the same policy), then VACUUM at `slackGenerations` when the
    * health view says a sweep would reclaim fragments. Decisions are
    * metadata reads (the health rows); only the chosen folds/vacuums
    * touch data — so an idle pass over N healthy lakes costs N listings
    * and zero Spark jobs. After the vacuum, generation RETENTION is
    * enforced (`keepGenerations` newest committed snapshots kept —
    * [[graft.pipeline.Warehouse.pruneVersions]], also metadata-only);
    * `keepGenerations` must be > `slackGenerations` or a pinned reader
    * the vacuum spared could lose its generation to the prune. Returns
    * per lake (name, folded?, vacuumed leaf-batch count, pruned
    * generation count, current version after the pass) — the audit
    * trail an operator's daily maintenance job logs.
    *
    * Failure semantics: a throwing fold aborts the pass (fail fast, no
    * swallowed errors) — which is SAFE because the pass is resumable:
    * every completed lake's fold/vacuum/prune is already durable (the
    * versioned commit is the unit of progress), and a retry's health
    * reads skip work that already happened. A supervisor that wants
    * per-lake isolation wraps each lake in its own pass.
    */
  def maintainLakes(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      lakes: Seq[(String, String, String, () => Int)],
      foldAtTailBatches: Int = 2,
      slackGenerations: Int = 1,
      keepGenerations: Int = 2): Seq[(String, Boolean, Long, Long, Long)] = {
    require(keepGenerations > slackGenerations,
      "maintainLakes: retention must exceed the vacuum's reader slack")
    lakes.map { case (lake, liveName, serveName, fold) =>
      def health = lakeHealth(wh, Seq((lake, liveName, serveName)),
        slackGenerations).head
      // folded = the body COMMITTED a new generation — a fold that
      // no-ops (nothing trustable in the tail) must not be logged as an
      // action the audit trail then contradicts with an unchanged
      // version
      val before = wh.currentVersion(serveName).getOrElse(0)
      val folded = health._3 >= foldAtTailBatches && fold() > before
      val vacuumEligible = health._6 || {
        // a LEGACY sidecar-less boundary generation reads as ineligible
        // in the metadata-only health view, and a legacy lake whose
        // tail stays below the fold threshold would then accumulate
        // reclaimable fragments indefinitely (the sidecar self-heal
        // only fires on a fold). The maintain pass HAS a spark handle,
        // so backfill the boundary sidecar here ([[lakeThru]] — one
        // scan, persisted) and re-ask the now-healed health view.
        val versions = wh.listVersions(serveName)
        versions.size > slackGenerations && {
          val bv = versions(versions.size - 1 - slackGenerations)
          !wh.versionMeta(serveName, bv).contains("thru") && {
            lakeThru(spark, wh, serveName, bv): Unit
            health._6
          }
        }
      }
      val vacuumed =
        if (vacuumEligible)
          gcLake(spark, wh, liveName, serveName, slackGenerations).size.toLong
        else 0L
      val pruned =
        if (wh.listVersions(serveName).size > keepGenerations)
          wh.pruneVersions(serveName, keepGenerations).size.toLong
        else 0L
      (lake, folded, vacuumed, pruned,
        wh.currentVersion(serveName).getOrElse(0).toLong)
    }
  }

  /** Whether a streamed lake has ANY readable content — live fragments
    * or a committed snapshot generation. The ingest bodies' "no corpus
    * yet" guards must check both: after [[gcLake]] a lake's entire mass
    * can live in the snapshot with zero live fragments.
    */
  private def hasAnyData(wh: Warehouse, liveName: String,
      serveName: String): Boolean =
    wh.hasData(liveName) || wh.currentVersion(serveName).isDefined

  /** Lake VACUUM — the GC that keeps every streamed lake BOUNDED in a
    * perpetual ingest: live `ingest_batch` leaf partitions whose rows
    * are already carried by a retained snapshot generation are deleted,
    * leaving the live table |tail| fragments regardless of ingest age.
    * Safe ONLY because every reader of these lakes goes through the
    * snapshot+tail shape ([[hybridLakeRead]] — including the ingest-side
    * match joins — or [[statsServeHybrid]]) and every compactor folds
    * FORWARD ([[foldForward]]): once folded, nothing re-reads a vacuumed
    * fragment. The leaf dirs may sit UNDER block directories
    * (`code=X/ingest_batch=Y`), so the sweep recurses; a block directory
    * left empty is removed with its last leaf (partition discovery
    * tolerates it, but debris-free listings are the Warehouse
    * convention).
    *
    * `slackGenerations` is reader safety: only leaves at or below the
    * (current − slack)-th retained generation's watermark are deleted,
    * so a reader pinned up to `slack` generations behind still finds
    * every fragment its snapshot does not cover. With the default slack
    * 1 a single-generation table vacuums nothing; slack 0 is the
    * quiesced maintenance-window form (no concurrent readers — the
    * fixture/build case). Returns the deleted batch ids (distinct,
    * sorted).
    */
  def gcLake(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      liveName: String,
      serveName: String,
      slackGenerations: Int = 1): Seq[Long] = {
    val versions = wh.listVersions(serveName)
    if (versions.size <= slackGenerations) return Nil
    val boundaryVersion = versions(versions.size - 1 - slackGenerations)
    val boundary = lakeThru(spark, wh, serveName, boundaryVersion)
    def sweep(dir: java.io.File): Seq[Long] =
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.isDirectory)
        .flatMap { f =>
          val n = f.getName
          if (n.startsWith("ingest_batch="))
            scala.util.Try(n.stripPrefix("ingest_batch=").toLong)
              .toOption.filter(_ <= boundary).map { k =>
                Warehouse.deleteRecursively(f); Seq(k)
              }.getOrElse(Nil)
          else if (n.contains("=")) {
            val deleted = sweep(f)
            // a block dir whose every leaf was vacuumed: remove the husk
            if (Option(f.listFiles()).forall(_.isEmpty)) f.delete(): Unit
            deleted
          } else Nil
        }.toSeq
    val deleted = sweep(new java.io.File(wh.tablePath(liveName)))
      .distinct.sorted
    // the live-batch ledger marker goes with the fragments it tracked
    deleted.foreach(wh.dropLiveBatchNote(liveName, _))
    deleted
  }

  /** Streaming inverted-index maintenance — the foreachBatch twin of
    * txt_bm25_artifact's index build: each micro-batch of (doc_id, text)
    * documents is tokenized once and its postings (word, doc_id, tf) and
    * doc-length (doc_id, dl) rows publish through the staged-readback
    * audit gate as dynamic partition upserts:
    *  - postings keyed (wb, ingest_batch), where `wb` is the word's
    *    16-way md5 bucket ⇒ the index lake is TERM-BUCKETED and a BM25
    *    query for k terms prunes to ≤ k bucket directories — the
    *    [[ivfIngestToWarehouse]] cell-partitioning idiom applied to the
    *    lexical side;
    *  - doclen keyed (ingest_batch) alone (metadata-sized rows);
    *  - `ingest_batch` LAST ⇒ a checkpoint replay rewrites exactly its
    *    own leaf partitions — idempotent recovery, same contract as the
    *    IVF lake.
    * Postings and doclen pass ONE atomic gate ([[gatedPublishAll]]):
    * both staged, both audited, then both published or both quarantined —
    * a quarantined batch quarantines WHOLE; a postings-only commit would
    * silently deflate its docs' BM25 scores forever (the checkpoint marks
    * the batch done, so it is never repaired). Per-batch cost is one
    * narrow tokenize plus two partial-agg'd aggregations over the BATCH;
    * the corpus is never re-read, so at 100 TB the index stays fresh at
    * ingest cost while serving reads posting slices only.
    */
  /** Postings-lake COMPACTION — the Lucene segment merge for the streamed
    * inverted index. [[postingsIngestToWarehouse]] appends one
    * `(wb, ingest_batch)` leaf per micro-batch; after thousands of
    * batches a k-term BM25 probe reads thousands of posting fragments per
    * term bucket. This job rewrites the accumulated fragments as ONE
    * wb-partitioned generation (~one file per term bucket: a hash
    * repartition on `wb` before the partitioned write), published as a
    * VERSIONED snapshot — the `_VERSION` marker flip is the commit, so
    * the reader-visible swap is atomic, a crashed compactor leaves only
    * untrusted debris, concurrent compactors CAS distinct generations,
    * and a pinned reader keeps its generation until it re-resolves.
    * Rows pass through UNCHANGED (layout-only rewrite: each doc ingests
    * in exactly one batch, so (word, doc_id) never spans fragments) —
    * BM25 served from the compacted generation is provably identical to
    * the fragmented table and to live scoring (StreamRunnerSpec pins all
    * three; the txt_bm25_compacted oracle hash proves it end-to-end).
    * Ingest keeps appending to the fragmented table while readers serve
    * the snapshot; the next compaction run simply commits the next
    * generation over everything accumulated by then. Returns the
    * committed (postingsVersion, doclenVersion).
    *
    * Like every rows-unchanged compactor here this folds FORWARD
    * ([[foldForward]]): generation N = generation N−1 ∪ the live tail
    * above its watermark, an empty trusted tail is a no-op, and after
    * [[gcLake]] vacuums folded fragments nothing is lost — which is what
    * lets the ingest-facing and BM25 hybrid reads stay bounded.
    *
    * Concurrency: `quiesced = true` (the default; both in-repo callers
    * run after `awaitTermination`) asserts NO publish is in flight, and
    * the whole accumulated tail folds. With `quiesced = false` the
    * read is restricted to FULLY COMMITTED ingest batches — a
    * mid-publish micro-batch (dynamic partition overwrite is not
    * directory-atomic) would otherwise be captured torn and frozen into
    * the immutable `_v=N` snapshot forever. Committed = the batch id
    * appears in BOTH index tables (gatedPublishAll publishes postings
    * before doclen, so a postings-only id is a crashed or in-flight
    * publish) AND is not the newest id seen (the only one a serialized
    * foreachBatch can still be writing). The batch-id probe is a
    * ledger-sized collect (one row per micro-batch ever ingested).
    */
  def compactPostings(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      quiesced: Boolean = true): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    // the committed-in-BOTH-tables ∧ not-newest trust set is collected
    // ONCE, before either fold's file listing (the compactFrontier
    // read-order guard); `ingest_batch` now rides both snapshots as a
    // DATA column so fold-forward, the hybrid BM25 serve, and [[gcLake]]
    // share one watermark — a k-term probe still reads ~one file per
    // term bucket, the extra column is metadata-width.
    val committed: Option[Set[Long]] =
      if (quiesced) None
      else {
        // hasData guard: after [[gcLake]] fully vacuums a live index table
        // its directory is schema-less and spark.read would throw before
        // foldForward's own no-tail guard — a vacuumed-empty live lake
        // under perpetual ingest simply contributes no committed ids
        def ids(name: String): Set[Long] =
          if (!wh.hasData(name)) Set.empty
          else wh.read(spark, name).select(col("ingest_batch").cast("long"))
            .distinct().collect().map(_.getLong(0)).toSet
        val pb = ids(s"${table}_postings")
        val db = ids(s"${table}_doclen")
        // a single-batch history excludes itself as the newest; a
        // postings-only id is a torn publish — neither may be frozen in
        Some((pb intersect db) -- (pb ++ db).maxOption)
      }
    (foldForward(spark, wh, s"${table}_postings",
        s"${table}_postings_serve",
        trusted(wh, s"${table}_postings_serve", committed), Seq("wb")),
      foldForward(spark, wh, s"${table}_doclen", s"${table}_doclen_serve",
        trusted(wh, s"${table}_doclen_serve", committed), Nil))
  }

  def postingsIngestToWarehouse(
      docStream: DataFrame,
      wh: Warehouse,
      table: String,
      audit: DataFrame => Option[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maintainEvery: Int = 0): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, count, explode, lit, split}
    sink(docStream, checkpointDir, trigger) { (batch, batchId) =>
      // two aggregations branch off the tokenize; cache the narrow
      // token projection so the batch source is read once
      val toks = batch
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .cache()
      try {
        val postings = toks.groupBy(col("word"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
          .withColumn("wb", graft.functions.TextFunctions.md5Bits(col("word"), 1))
          .withColumn("ingest_batch", lit(batchId))
        val doclen = toks.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("dl"))
          .withColumn("ingest_batch", lit(batchId))
        // ONE gate over both index tables: stage both, audit both,
        // publish both or quarantine both — a postings-only commit
        // would silently drop the batch's docs from BM25 (no doc
        // lengths) with the checkpoint already marked done
        gatedPublishAll(Seq(
            (postings, s"${table}_postings", Seq("wb", "ingest_batch")),
            (doclen, s"${table}_doclen", Seq("ingest_batch"))),
          batchId, wh, audit): Unit
      } finally toks.unpersist(): Unit
      // MAINTENANCE CADENCE (VERDICT r17 #4): with `maintainEvery` N,
      // every Nth committed batch runs the policy pass over this
      // index IN the ingest loop — no external scheduler has to
      // remember the lake exists. The pass is replay-safe (a replayed
      // cadence tick's fold sees an already-folded tail and no-ops,
      // versions unchanged) and an idle tick is metadata-only (the
      // health reads — zero Spark jobs; spec-pinned).
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
        maintainPostings(batch.sparkSession, wh, table): Unit
    }
  }

  /** The policy pass ([[maintainLakes]]) over the streamed inverted
    * index's table pair. The postings entry's fold body is
    * [[compactPostings]] `quiesced = false`, which folds BOTH tables
    * atomically w.r.t. the committed-id trust rule — the doclen entry
    * therefore carries a read-only fold thunk (its fold already
    * happened as the postings entry's side effect; its own row still
    * drives the doclen lake's vacuum and retention).
    */
  def maintainPostings(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      foldAtTailBatches: Int = 2,
      slackGenerations: Int = 1,
      keepGenerations: Int = 2): Seq[(String, Boolean, Long, Long, Long)] =
    maintainLakes(spark, wh, Seq(
      ("postings", s"${table}_postings", s"${table}_postings_serve",
        () => compactPostings(spark, wh, table, quiesced = false)._1),
      ("doclen", s"${table}_doclen", s"${table}_doclen_serve",
        () => wh.currentVersion(s"${table}_doclen_serve").getOrElse(0))),
      foldAtTailBatches, slackGenerations, keepGenerations)

  /** [[maintainPostings]]' twin for the streamed semantic lake. */
  def maintainSemantic(
      spark: org.apache.spark.sql.SparkSession,
      wh: Warehouse,
      table: String,
      foldAtTailBatches: Int = 2,
      slackGenerations: Int = 1,
      keepGenerations: Int = 2): Seq[(String, Boolean, Long, Long, Long)] =
    maintainLakes(spark, wh, Seq(
      ("semantic", table, s"${table}_serve",
        () => compactSemantic(spark, wh, table, quiesced = false))),
      foldAtTailBatches, slackGenerations, keepGenerations)
}
