package graft.pipeline

import graft.sources.ParquetSource

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Pipeline/orchestration layer (SURVEY.md §2.11 G1-G5).
  *
  * The reference's Airflow DAG semantics, re-expressed without the
  * scheduler mechanics (non-goal per SURVEY.md):
  *  - G1 DAG with id            -> [[Pipeline]] (name + ordered stages)
  *  - G2 `a >> b >> c`          -> `stages` run strictly in order
  *  - G3 external config        -> constructor params on pipeline objects
  *  - G4 `{{ ds }}`/`ds_nodash` -> [[BatchContext]] threaded to every stage
  *  - `depends_on_past=True`    -> [[BatchRunner.run]] executes dates
  *    sequentially, aborting on first failure (later dates never run)
  *  - S5 WRITE_TRUNCATE         -> [[Warehouse.truncateWrite]] (idempotent
  *    re-run of a staging table)
  *  - S6 WRITE_APPEND           -> [[Warehouse.appendWrite]] (one batch per
  *    run accumulates; re-running a date double-appends, exactly like the
  *    reference — guarded by scheduling, not data-level idempotence;
  *    SURVEY.md §2.1 note)
  *
  * Scale: Warehouse tables are parquet directories; append writes add files
  * (no rewrite of existing data), truncate writes replace the directory.
  * At 100 TB per-table, appends stay O(batch) and a date-partitioned layout
  * (`partitionedAppendWrite`) makes downstream date filters prune files.
  */
case class BatchContext(runDate: LocalDate) {
  /** Airflow `{{ ds }}`: YYYY-MM-DD. */
  val ds: String = runDate.format(DateTimeFormatter.ISO_LOCAL_DATE)
  /** Airflow `{{ ds_nodash }}`: YYYYMMDD. */
  val dsNodash: String = runDate.format(DateTimeFormatter.BASIC_ISO_DATE)
}

/** Named columnar tables under a root directory — the engine's stand-in
  * for the reference's BigQuery datasets. `format` is any Spark columnar
  * source with filter pushdown + schema evolution ("parquet" default;
  * "orc" is first-class too — both ship with Spark, and WarehouseSpec
  * pins ORC round-trip equality and ORC-side predicate pushdown so the
  * lake format is a deployment choice, not a code change).
  */
class Warehouse(val root: String, val format: String = "parquet") {

  def tablePath(name: String): String = s"$root/$name"

  def read(spark: SparkSession, name: String): DataFrame =
    ParquetSource.read(spark, tablePath(name), format)

  def exists(name: String): Boolean =
    new java.io.File(tablePath(name)).exists()

  /** True when the table holds at least one DATA file. An all-empty frame's
    * write leaves a directory with only `_SUCCESS` — `exists()` is true but
    * the format cannot infer a schema from zero footers, so a reader keyed
    * on `exists()` alone would throw. Streaming index maintenance uses this
    * to treat a schema-less table as "no index yet" (a first micro-batch
    * whose survivors produce zero index rows — e.g. all docs below the
    * shingling minimum — must not poison every later batch's corpus read).
    */
  def hasData(name: String): Boolean = {
    def walk(f: java.io.File): Boolean =
      Option(f.listFiles()).getOrElse(Array.empty).exists(k =>
        (k.isFile && !k.getName.startsWith("_") && !k.getName.startsWith(".")) ||
          (k.isDirectory && walk(k)))
    walk(new java.io.File(tablePath(name)))
  }

  /** Live-batch LEDGER marker: one zero-byte `_b_<id>` file at the live
    * table's ROOT per committed ingest batch, written by every streamed-
    * lake publisher right after its partition upsert lands. The point is
    * [[liveBatches]]: the maintenance health view used to recursively
    * list every block directory per lake per pass to census live
    * `ingest_batch=` leaves — fine on a local FS, O(all partitions)
    * LIST calls on an object store. With markers the census is ONE flat
    * listing of the table root. Underscore-prefixed, so Spark scans and
    * [[hasData]] ignore them; idempotent (a checkpoint replay re-notes
    * its own id); [[graft.streaming.StreamRunner.gcLake]] drops the
    * marker with the fragments it vacuums.
    */
  def noteLiveBatch(name: String, batchId: Long): Unit = {
    val f = new java.io.File(tablePath(name), s"_b_$batchId")
    f.getParentFile.mkdirs()
    try java.nio.file.Files.createFile(f.toPath): Unit
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  def dropLiveBatchNote(name: String, batchId: Long): Unit =
    new java.io.File(tablePath(name), s"_b_$batchId").delete(): Unit

  private def liveBatchMarkers(name: String): Seq[Long] =
    Option(new java.io.File(tablePath(name)).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .flatMap { f =>
        val n = f.getName
        if (f.isFile && n.startsWith("_b_"))
          scala.util.Try(n.stripPrefix("_b_").toLong).toOption
        else None
      }.toSeq

  /** Distinct live `ingest_batch` ids of a streamed lake: the marker
    * ledger when present (one flat listing); otherwise — a LEGACY lake
    * written before markers existed — one recursive census that
    * BACKFILLS the markers, so the lake self-heals on first touch
    * exactly like the watermark sidecars. A schema-less (fully vacuumed
    * or never written) lake is simply empty.
    */
  def liveBatches(name: String): Seq[Long] = {
    val marks = liveBatchMarkers(name)
    if (marks.nonEmpty) marks.distinct.sorted
    else if (!hasData(name)) Nil
    else {
      val scanned = scanLiveBatches(name).distinct.sorted
      scanned.foreach(noteLiveBatch(name, _))
      scanned
    }
  }

  /** The recursive leaf census behind [[liveBatches]]' legacy fallback —
    * an override point so tests can count how often the expensive walk
    * actually runs.
    */
  protected def scanLiveBatches(name: String): Seq[Long] = {
    def walk(dir: java.io.File): Seq[Long] =
      Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.isDirectory)
        .flatMap { f =>
          val n = f.getName
          if (n.startsWith("ingest_batch="))
            scala.util.Try(n.stripPrefix("ingest_batch=").toLong)
              .toOption.toSeq
          else if (n.contains("=")) walk(f)
          else Nil
        }.toSeq
    walk(new java.io.File(tablePath(name)))
  }

  /** S5: WRITE_TRUNCATE — replace table contents (idempotent staging). */
  def truncateWrite(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).format(format).save(tablePath(name))

  /** Remove a table (stage/quarantine cleanup). */
  def dropTable(name: String): Unit =
    Warehouse.deleteRecursively(new java.io.File(tablePath(name)))

  /** S6: WRITE_APPEND — accumulate one batch per run. */
  def appendWrite(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Append).format(format).save(tablePath(name))

  /** Scale-path append: dynamic-partition overwrite on a date column, so
    * re-running a batch date replaces exactly that date's partition
    * (idempotent re-runs, unlike the reference's raw append) and readers
    * filtering on the partition column get file-level pruning.
    */
  def partitionedUpsertWrite(df: DataFrame, name: String, partitionCol: String): Unit =
    partitionedUpsertWrite(df, name, Seq(partitionCol))

  /** Multi-level variant: dynamic overwrite replaces exactly the LEAF
    * partitions the batch touches. The ivf-ingest layout uses
    * (cell, ingest_batch): cell first so readers prune by cell at the
    * top directory level, a batch-scoped second level so a checkpoint
    * replay rewrites exactly its own leaves (idempotent) without
    * clobbering other batches' rows in the same cell.
    */
  def partitionedUpsertWrite(df: DataFrame, name: String,
      partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .format(format)
      .save(tablePath(name))

  /** Incremental materialized-rollup maintenance: aggregate ONLY the new
    * batch (which carries complete data for its partition-key values — the
    * daily-batch contract) and partition-overwrite exactly those values in
    * the rollup table. At 100 TB this is the difference between touching
    * one day's partitions and recomputing the whole lake: refresh cost
    * tracks the INGEST, re-running a date is idempotent, and a late
    * correction batch replaces only its own dates. Readers see the rollup
    * as a plain partitioned table with file-level date pruning.
    */
  def refreshRollup(
      batch: DataFrame,
      rollupTable: String,
      partitionCol: String,
      keyCols: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column]): Unit = {
    import org.apache.spark.sql.functions.col
    val delta = batch
      .groupBy((partitionCol +: keyCols).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    partitionedUpsertWrite(delta, rollupTable, partitionCol)
  }

  /** Co-location layout for repeated fact-fact joins: both tables are
    * written bucketed (and sorted) on the join key with the same bucket
    * count, so every later join/aggregation on that key runs with ZERO
    * exchange — the shuffle is paid once at write time instead of per
    * query. This is the 100 TB answer to "lineitem ⋈ orders on every
    * dashboard query" (WarehouseSpec asserts the exchange-free plan).
    * Bucketed tables go through the session catalog (`saveAsTable`), which
    * records bucketing metadata parquet files alone can't carry.
    */
  def bucketedWrite(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", tablePath(table))
      .format(format)
      .saveAsTable(table)

  /** Versioned snapshot write — time travel for a plain-directory lake.
    * Each write lands in an immutable `_v=N` directory and a tiny
    * `_VERSION` marker names the current snapshot, committed by ATOMIC
    * rename so a reader never observes a half-written snapshot as
    * current. [[readVersion]] with no version serves the latest;
    * reproducibility runs pin an explicit one — the training-data-lineage
    * question ("exactly what did the corpus look like when this model
    * trained?") that pipe_snapshot_diff answers BETWEEN snapshots, this
    * answers AT one. At 100 TB this is what table formats do with
    * manifest files; the engine-side contract — immutable snapshot dirs,
    * marker flip as the commit — is identical. Versioned tables are read
    * via [[readVersion]], not [[read]] (the marker file and multiple
    * `_v=` dirs live under the table root). Returns the committed version.
    *
    * CONCURRENT writers are safe, optimistic-CAS style (what table
    * formats do on the manifest):
    *  1. a writer RESERVES its version number by atomically creating
    *     `_v=N.reserved` — the filesystem's create-exclusive is the CAS;
    *     a loser (another writer took N first) retries with a higher
    *     number, so two concurrent writers commit DISTINCT snapshots
    *     rather than silently shadowing each other in one directory. A
    *     writer that loses the reservation race [[maxReserveAttempts]]
    *     times fails loudly.
    *  2. the marker flip is MONOTONIC under a cross-process file lock:
    *     a slower writer with a lower version never regresses `_VERSION`
    *     below a faster writer's already-published snapshot.
    * A reservation whose writer crashed mid-write is inert debris: it
    * only burns a number (the no-reuse rule below), and [[pruneVersions]]
    * sweeps reservations at or below the committed current version.
    */
  def versionedWrite(df: DataFrame, name: String,
      partitionCols: Seq[String] = Nil): Int =
    versionedWrite(df, name, partitionCols, Map.empty[String, String])

  /** [[versionedWrite]] carrying a small METADATA payload with the
    * snapshot — written as a `_v=N.meta` sidecar (properties lines)
    * BEFORE the marker flip, so any reader that can resolve the version
    * can read its metadata without a data scan. The streamed-lake
    * compactors persist their fold watermark (`thru` = the max
    * `ingest_batch` the generation covers) here: the hybrid snapshot+tail
    * readers and the vacuum boundary then resolve the watermark from one
    * tiny file read instead of a full-generation `max()` scan per read —
    * the same role a table format's snapshot summary plays. Crash safety:
    * a sidecar without its committed dir is inert debris (swept with the
    * dir by [[pruneVersions]]); a committed dir is never current without
    * its sidecar because the sidecar lands before the flip.
    */
  def versionedWrite(df: DataFrame, name: String,
      partitionCols: Seq[String], meta: Map[String, String]): Int =
    versionedWriteWith(df, name, partitionCols, _ => meta)

  /** [[versionedWrite]] whose metadata payload depends on the COMMITTED
    * version number — the partition-scoped fold needs this: its manifest
    * maps every partition value to the physical generation holding it,
    * and freshly-rewritten partitions map to the generation being
    * committed, whose number is only known once the reservation CAS
    * settles.
    */
  def versionedWriteWith(df: DataFrame, name: String,
      partitionCols: Seq[String], metaFor: Int => Map[String, String]): Int = {
    val base = new java.io.File(tablePath(name))
    base.mkdirs()
    var attempt = 0
    var committed = -1
    while (committed < 0) {
      // Next version = max over ALL on-disk _v= dirs (committed or not)
      // AND live reservations, not the marker: if a prior writer died
      // after the snapshot dir committed (_SUCCESS present) but before
      // the marker flip, the marker is stale — deriving from it would
      // Overwrite-rewrite a committed-visible snapshot under a pinned
      // reader. Counting uncommitted debris too is safe (it only skips a
      // number) and avoids ever reusing a dir name.
      val next = (0 +: (versionDirs(name).map(_._2) ++ reservedVersions(name)))
        .max + 1
      val reservation = new java.io.File(base, s"_v=$next.reserved")
      try {
        java.nio.file.Files.createFile(reservation.toPath): Unit // the CAS
        try {
          // partitioned snapshots (e.g. a compacted postings generation
          // partitioned by term bucket) keep directory-level pruning
          // inside the immutable `_v=N` dir. STATIC overwrite always: a
          // snapshot dir is fresh by construction, and a session-level
          // dynamic partitionOverwriteMode would suppress the `_SUCCESS`
          // marker versionCommitted gates reads on
          val w = df.write.mode(SaveMode.Overwrite).format(format)
            .option("partitionOverwriteMode", "static")
          (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
            .save(s"${tablePath(name)}/_v=$next")
          val meta = metaFor(next)
          if (meta.nonEmpty) writeVersionMeta(name, next, meta)
          flipMarkerForward(name, next)
          committed = next
        } finally reservation.delete(): Unit // the dir now claims the number
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1
          if (attempt >= Warehouse.maxReserveAttempts)
            throw new IllegalStateException(
              s"versionedWrite($name): lost the version-reservation race " +
                s"$attempt times — concurrent writers are storming this table")
      }
    }
    committed
  }

  /** Live `_v=N.reserved` markers (in-flight or crashed writers). */
  private def reservedVersions(name: String): Seq[Int] =
    Option(new java.io.File(tablePath(name)).listFiles())
      .getOrElse(Array.empty)
      .flatMap { f =>
        val n = f.getName
        if (f.isFile && n.startsWith("_v=") && n.endsWith(".reserved"))
          scala.util.Try(
            n.stripPrefix("_v=").stripSuffix(".reserved").toInt).toOption
        else None
      }.toSeq

  /** Advance `_VERSION` to `v` unless a higher version already published.
    * Serialized across processes by a lock file (and across this JVM's
    * threads by the shared monitor — JVM file locks don't nest within a
    * process), so read-compare-flip is atomic and the marker is monotone.
    */
  private def flipMarkerForward(name: String, v: Int): Unit =
    Warehouse.markerFlipMonitor.synchronized {
      val base = new java.io.File(tablePath(name))
      val ch = java.nio.channels.FileChannel.open(
        new java.io.File(base, "_VERSION.lock").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          if (currentVersion(name).forall(_ < v)) {
            val tmp = new java.io.File(base, "_VERSION.tmp")
            java.nio.file.Files.write(tmp.toPath, v.toString.getBytes("UTF-8"))
            java.nio.file.Files.move(tmp.toPath,
              new java.io.File(base, "_VERSION").toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
          }
        } finally lock.release()
      } finally ch.close()
    }

  /** Write (or backfill) a committed snapshot's `_v=N.meta` sidecar —
    * [[versionedWrite]]'s meta step, also reachable on its own so a
    * reader that had to DERIVE a legacy generation's metadata by scan
    * can persist it and heal the lake (the fold-forward self-heal).
    */
  private[graft] def writeVersionMeta(name: String, v: Int,
      meta: Map[String, String]): Unit = {
    // tmp + atomic rename: the backfill path runs on READS, so a
    // concurrent reader must never observe a torn sidecar (a partially
    // written `thru` would under-report the watermark and a hybrid read
    // would double-count the overlap)
    val tmp = new java.io.File(tablePath(name),
      s"_v=$v.meta.tmp${java.util.UUID.randomUUID.toString.take(8)}")
    java.nio.file.Files.write(tmp.toPath,
      meta.toSeq.sorted.map { case (k, mv) => s"$k=$mv" }
        .mkString("", "\n", "\n").getBytes("UTF-8")): Unit
    try
      java.nio.file.Files.move(tmp.toPath,
        new java.io.File(tablePath(name), s"_v=$v.meta").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    catch {
      // the READ-path backfill can race a concurrent [[pruneVersions]]
      // whose debris sweep deleted this tmp between write and move;
      // the backfill is best-effort (the next reader re-derives and
      // retries), so a vanished tmp must not fail the READER — and the
      // sweep itself is mtime-gated, so this arm is belt-and-braces
      case _: java.nio.file.NoSuchFileException => ()
    }
  }

  /** The `_v=N.meta` sidecar payload of a committed snapshot (empty when
    * the writer carried none — e.g. generations committed by older code,
    * for which readers fall back to deriving what they need by scan).
    */
  def versionMeta(name: String, v: Int): Map[String, String] = {
    val f = new java.io.File(tablePath(name), s"_v=$v.meta")
    if (!f.exists()) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty)
      .flatMap { l =>
        val i = l.indexOf('=')
        if (i <= 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
      }.toMap
  }

  /** The committed snapshot version, if any ([[versionedWrite]] tables). */
  def currentVersion(name: String): Option[Int] = {
    val marker = new java.io.File(tablePath(name), "_VERSION")
    if (!marker.exists()) None
    else Some(new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim.toInt)
  }

  /** A snapshot dir counts ONLY with its writer-completion `_SUCCESS`
    * marker — bare directory existence may be crash debris from a write
    * that died before the marker flip (the rule
    * [[graft.operators.Artifacts]] enforces with its done marker).
    */
  private def versionCommitted(name: String, v: Int): Boolean =
    new java.io.File(new java.io.File(tablePath(name), s"_v=$v"), "_SUCCESS").exists()

  /** Read a snapshot: the pinned `version`, or the current one. Fails
    * loudly on a missing table, a pruned/unknown version, or an
    * UNCOMMITTED snapshot dir (crash debris without `_SUCCESS`) — a
    * lineage read silently falling through to "latest", or trusting a
    * half-written directory, would defeat the point.
    *
    * A generation carrying a partition MANIFEST ([[manifestOf]] — the
    * partition-scoped fold's commit shape) resolves to the union of its
    * own freshly-written partitions and the CARRIED partition
    * directories it references inside older generations' dirs, each
    * carried read pruned to exactly the referenced partition values.
    * Resolution is metadata-only (the sidecar was already read for the
    * manifest; the per-directory loads are lazy plan construction) — no
    * Spark job runs here beyond normal scan setup.
    */
  def readVersion(spark: SparkSession, name: String,
      version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(name)).getOrElse(
      throw new IllegalArgumentException(s"no committed versions of $name"))
    require(versionCommitted(name, v),
      s"version $v of $name does not exist (pruned or never written)")
    def loadGen(g: Int): DataFrame =
      ParquetSource.read(spark, s"${tablePath(name)}/_v=$g", format)
    manifestOf(name, v) match {
      case None => loadGen(v)
      case Some((bc, map)) =>
        import org.apache.spark.sql.functions.{col, lit}
        val byGen = map.groupBy(_._2).view
          .mapValues(_.keys.toSeq.sorted).toSeq.sortBy(_._1)
        byGen.map { case (g, vals) =>
          val df = loadGen(g)
          if (g == v) df // the fresh dir holds exactly its own partitions
          else {
            // typed-literal equality chain (not `isin` string coercion):
            // the predicate lands on the PARTITION column, so each
            // carried generation's scan prunes to the referenced dirs
            val dt = df.schema(bc).dataType
            df.filter(vals.map(s => col(bc) === lit(s).cast(dt))
              .reduce(_ || _))
          }
        }.reduce(_ unionByName _)
    }
  }

  /** A generation's partition manifest, when it committed partition-
    * scoped: the block column plus, for EVERY partition value of the
    * logical generation, the PHYSICAL generation whose `_v=` directory
    * holds that partition's data (the committing generation itself for
    * freshly-rewritten partitions, an older generation for carried
    * ones). `None` for full (manifest-less) generations.
    */
  def manifestOf(name: String, v: Int): Option[(String, Map[String, Int])] = {
    val meta = versionMeta(name, v)
    meta.get("mfcol").map { bc =>
      bc -> meta.collect { case (k, g) if k.startsWith("mf.") =>
        Warehouse.unescapePart(k.stripPrefix("mf.")) -> g.toInt
      }
    }
  }

  /** The sidecar payload encoding a partition manifest ([[manifestOf]]'s
    * inverse) — merged into the fold's `thru` metadata at commit.
    */
  private[graft] def manifestMeta(blockCol: String,
      map: Map[String, Int]): Map[String, String] =
    Map("mfcol" -> blockCol) ++ map.map { case (value, g) =>
      s"mf.${Warehouse.escapePart(value)}" -> g.toString
    }

  /** Partition values physically present inside a generation's `_v=`
    * directory (one flat listing) — how a partition-scoped fold learns
    * the value set of a LEGACY full generation that carries no manifest.
    */
  private[graft] def partitionValuesOf(name: String, v: Int,
      blockCol: String): Seq[String] =
    Option(new java.io.File(tablePath(name), s"_v=$v").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"$blockCol="))
      .map(f => Warehouse.unescapePart(f.getName.stripPrefix(s"$blockCol=")))
      .toSeq

  /** Every `_v=N` directory with a NUMERIC suffix, as (dir, version).
    * Non-numeric strays (`_v=tmp`) are ignored rather than throwing —
    * one bad directory must not break listing/reads/retention for the
    * whole table.
    */
  private def versionDirs(name: String): Seq[(java.io.File, Int)] =
    Option(new java.io.File(tablePath(name)).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap { f =>
        if (!f.getName.startsWith("_v=")) None
        else scala.util.Try(f.getName.stripPrefix("_v=").toInt).toOption.map(f -> _)
      }.toSeq

  /** All COMMITTED snapshot versions, ascending (uncommitted crash
    * debris is invisible — see [[versionCommitted]]).
    */
  def listVersions(name: String): Seq[Int] =
    versionDirs(name).map(_._2)
      .filter(versionCommitted(name, _)).sorted

  /** Retention: keep the newest `keep` committed snapshots (the current
    * one is never dropped regardless). Uncommitted `_v=` crash debris is
    * swept ONLY when its version holds NO live reservation: with
    * concurrent writers, a slower writer can be OVERTAKEN — its
    * uncommitted dir may sit at or below the committed current version
    * while its write is still in flight — so "below current" alone no
    * longer implies debris. A writer holds its `_v=N.reserved` marker for
    * the whole write (released in its `finally`), so live-reservation ⇒
    * possibly in flight ⇒ untouchable; no reservation ⇒ the writer
    * finished or failed, and an uncommitted dir is safe to sweep.
    * Reservations themselves are swept only when their snapshot dir IS
    * committed (the unambiguous crashed-between-flip-and-release window);
    * a reservation with no committed dir might be a writer that reserved
    * but hasn't saved yet — left alone, it only burns a number. Returns
    * the pruned COMMITTED versions.
    */
  def pruneVersions(name: String, keep: Int): Seq[Int] = {
    require(keep >= 1, "pruneVersions: keep must be >= 1")
    val cur = currentVersion(name)
    val reserved = reservedVersions(name).toSet
    // REFCOUNT over the retained manifests: a partition-scoped fold's
    // generation references partition directories physically inside
    // OLDER generations' dirs. Any generation a retained manifest still
    // points at is a CARRIER — its referenced dirs are live data for
    // current readers and must survive every sweep below. References
    // expire as later folds rewrite those partitions; an expired
    // carrier is reclaimed as ordinary debris on a later prune.
    val committedAll = listVersions(name)
    val retained = (committedAll.sorted.reverse.take(keep) ++ cur).distinct
    val refs: Map[Int, Set[String]] = retained
      .flatMap { v =>
        manifestOf(name, v).toSeq.flatMap { case (_, m) =>
          m.collect { case (value, g) if g != v => g -> value }
        }
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    versionDirs(name)
      .filter { case (_, v) =>
        !versionCommitted(name, v) && cur.exists(v <= _) && !reserved(v) &&
          !refs.contains(v)
      }
      .foreach { case (f, _) => Warehouse.deleteRecursively(f) }
    reserved
      .filter(v => versionCommitted(name, v))
      .foreach(v => new java.io.File(tablePath(name), s"_v=$v.reserved")
        .delete(): Unit)
    val dropped = committedAll.sorted.reverse.drop(keep)
      .filterNot(cur.contains)
    dropped.foreach { v =>
      refs.get(v) match {
        case None =>
          Warehouse.deleteRecursively(
            new java.io.File(tablePath(name), s"_v=$v"))
          new java.io.File(tablePath(name), s"_v=$v.meta").delete(): Unit
        case Some(keptVals) =>
          // CARRIER DEMOTION: the generation leaves the committed chain
          // (its `_SUCCESS` and sidecar go, so direct pinned reads fail
          // loudly and listVersions/retention no longer count it) but
          // its REFERENCED partition dirs stay as physical storage for
          // the retained manifests that point here. Unreferenced
          // partitions — dead weight no reader can reach — are
          // reclaimed now.
          val dir = new java.io.File(tablePath(name), s"_v=$v")
          Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
            .foreach { f =>
              val isKeptPartition = f.isDirectory && {
                val n = f.getName
                val i = n.indexOf('=')
                i > 0 && keptVals.contains(
                  Warehouse.unescapePart(n.substring(i + 1)))
              }
              if (!isKeptPartition) Warehouse.deleteRecursively(f)
            }
          new java.io.File(tablePath(name), s"_v=$v.meta").delete(): Unit
      }
    }
    // crashed writeVersionMeta tmp files are inert debris — swept here,
    // but ONLY when old enough (mtime) that no in-flight read-path
    // sidecar backfill can still be between its write and atomic move
    val tmpCutoff = System.currentTimeMillis() - Warehouse.metaTmpSweepAgeMs
    Option(new java.io.File(tablePath(name)).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.contains(".meta.tmp") &&
        f.lastModified() < tmpCutoff)
      .foreach(_.delete(): Unit)
    dropped.sorted
  }

  /** Write-Audit-Publish: the publish gate a lake runs so readers NEVER see
    * a bad batch. The batch is staged in a quarantine directory invisible
    * to readers, the caller's audit runs on a READBACK of the staged bytes
    * (what readers would actually see — catches writer-side truncation or
    * schema drift, which auditing the in-memory frame cannot), and only a
    * passing audit publishes, by directory swap. A failing audit leaves
    * the live table untouched and the staged directory in place for
    * forensics. Returns `Right(())` on publish, `Left(reason)` on audit
    * failure.
    *
    * At 100 TB the same protocol runs on object-store paths with the swap
    * as a metastore location flip (or a table-format snapshot commit);
    * the engine-side contract — stage, audit the readback, publish
    * atomically, never mutate live — is identical. q_expectations_audit
    * is the natural audit body.
    */
  def writeAuditPublish(
      spark: SparkSession,
      df: DataFrame,
      name: String,
      audit: DataFrame => Option[String]): Either[String, Unit] = {
    val stagePath = tablePath(s"__stage__$name")
    df.write.mode(SaveMode.Overwrite).format(format).save(stagePath)
    audit(ParquetSource.read(spark, stagePath, format)) match {
      case Some(reason) => Left(reason)
      case None =>
        val live = new java.io.File(tablePath(name))
        val retired = new java.io.File(tablePath(s"__retired__$name"))
        Warehouse.deleteRecursively(retired)
        if (live.exists() && !live.renameTo(retired))
          Left(s"publish failed: could not retire live $name")
        else if (!new java.io.File(stagePath).renameTo(live)) {
          // Promote failed after live was already retired (renameTo can
          // fail cross-device or on platform file locks). Roll the old
          // live copy back so the "failing publish leaves live untouched"
          // contract holds; if even the rollback fails, say so loudly —
          // that is the one state needing operator intervention. On a
          // FIRST publish there is no previous live to restore — say
          // that, not "restored", so the operator knows readers see
          // nothing rather than the old table.
          Left(
            if (!retired.exists())
              s"publish failed: could not promote staged $name (no previous live existed)"
            else if (retired.renameTo(live))
              s"publish failed: could not promote staged $name (previous live restored)"
            else s"publish failed: could not promote staged $name AND rollback failed — live copy is at ${retired.getPath}")
        } else {
          Warehouse.deleteRecursively(retired)
          Right(())
        }
    }
  }
}

object Warehouse {
  /** Reservation-race retries before a concurrent versionedWrite gives up
    * loudly (each loss means another writer just took the next number —
    * ten consecutive losses is a stampede, not contention).
    */
  private[pipeline] val maxReserveAttempts = 10

  /** Minimum age (mtime) before [[Warehouse.pruneVersions]] sweeps a
    * `.meta.tmp` sidecar fragment — long enough that a read-path
    * backfill's write→atomic-move window can never race the sweep.
    */
  private[pipeline] val metaTmpSweepAgeMs = 10L * 60 * 1000

  /** JVM-wide monitor for `_VERSION` flips — `FileChannel.lock` guards
    * cross-process but throws on overlap within one JVM.
    */
  private[pipeline] val markerFlipMonitor = new Object

  /** Percent-escape for partition VALUES inside manifest sidecar keys
    * (`mf.<value>=<gen>` must survive the sidecar's first-'=' split and
    * line framing) — the same escaping family Spark applies to
    * partition directory names, so [[Warehouse.partitionValuesOf]] can
    * decode a directory name with [[unescapePart]] too.
    */
  private[graft] def escapePart(s: String): String =
    s.flatMap { c =>
      if (c.isLetterOrDigit || c == '_' || c == '.' || c == '-') c.toString
      else f"%%${c.toInt}%02X"
    }

  private[graft] def unescapePart(s: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length)
        try {
          out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch {
          case _: NumberFormatException => out.append(s.charAt(i)); i += 1
        }
      else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    // listFiles() returns null on I/O error or concurrent removal — never NPE
    // from inside the publish gate.
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(deleteRecursively)
    if (f.exists()) f.delete(): Unit
  }
}

/** One task in a pipeline (reference: one Airflow operator). */
case class Stage(name: String, run: (SparkSession, Warehouse, BatchContext) => Unit)

/** G1/G2: a named, ordered chain of stages. */
case class Pipeline(name: String, stages: Seq[Stage])

/** Task retry / run timeout policy — the reference configures
  * `retries: 1, retry_delay: 5 minutes` per task and a 20-minute
  * `dagrun_timeout` per DAG run (`dags/airflow_monitoring.py:9-10,18`).
  * `retries` = additional attempts AFTER the first (Airflow's meaning);
  * `retryDelayMs` sleeps between attempts; `runTimeoutMs` bounds one
  * date's run (None = unbounded). `sleep`/`clock` are injectable so specs
  * exercise the semantics without wall-clock waits.
  */
case class RetryPolicy(
    retries: Int = 0,
    retryDelayMs: Long = 0L,
    runTimeoutMs: Option[Long] = None,
    sleep: Long => Unit = Thread.sleep,
    clock: () => Long = System.currentTimeMillis)

/** One date's run exceeded `RetryPolicy.runTimeoutMs` — the backfill stops
  * (depends_on_past: later dates never run), like an Airflow dagrun timeout
  * failing the run.
  */
class RunTimeoutException(msg: String) extends RuntimeException(msg)

/** What a backfill actually did: dates fully completed, and every retry
  * that was needed ((ds, stage) -> extra attempts consumed).
  */
case class RunReport(completedDates: Seq[LocalDate],
                     retries: Map[(String, String), Int])

object BatchRunner {

  /** Run `pipeline` once per date in `dates`, strictly in order —
    * `depends_on_past` + `wait_for_downstream` semantics: a failure (a
    * stage exhausting its retries, or a date's run exceeding the timeout)
    * stops the whole backfill; subsequent dates do not run.
    *
    * Per stage: up to `policy.retries` re-attempts after a throw, with
    * `retryDelayMs` between attempts — the flaky-IO batch-job contract the
    * reference gets from Airflow. Per date: if the elapsed run time
    * exceeds `runTimeoutMs` after a stage completes (stages are not
    * interrupted mid-flight — Spark jobs don't die cleanly that way), the
    * run aborts with [[RunTimeoutException]].
    */
  def run(spark: SparkSession, wh: Warehouse, pipeline: Pipeline,
          dates: Seq[LocalDate],
          policy: RetryPolicy = RetryPolicy()): RunReport = {
    val retried = scala.collection.mutable.Map[(String, String), Int]()
    val completed = scala.collection.mutable.ArrayBuffer[LocalDate]()
    for (date <- dates) {
      val ctx = BatchContext(date)
      val runStart = policy.clock()
      for (stage <- pipeline.stages) {
        var attempt = 0
        var done = false
        while (!done) {
          try {
            stage.run(spark, wh, ctx)
            done = true
          } catch {
            // NonFatal only: retrying an OutOfMemoryError re-runs the
            // stage in a broken JVM, and swallowing InterruptedException
            // ignores a cancellation — both must propagate immediately
            case e: Throwable
                if scala.util.control.NonFatal(e) && attempt < policy.retries =>
              attempt += 1
              retried((ctx.ds, stage.name)) = attempt
              if (policy.retryDelayMs > 0) policy.sleep(policy.retryDelayMs)
          }
        }
        policy.runTimeoutMs.foreach { t =>
          val elapsed = policy.clock() - runStart
          if (elapsed > t)
            throw new RunTimeoutException(
              s"run for ${ctx.ds} exceeded ${t} ms after stage '${stage.name}' " +
                s"(elapsed ${elapsed} ms) — aborting backfill, later dates unrun")
        }
      }
      completed += date
    }
    RunReport(completed.toSeq, retried.toMap)
  }

  def dateRange(start: LocalDate, endInclusive: LocalDate): Seq[LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(endInclusive)).toSeq

  /** Catchup planning (Airflow `catchup=True` without the scheduler): which
    * dates of the schedule are NOT yet present in a date-partitioned output
    * table. Reads ONLY the partition values (distinct over the partition
    * column of a partitioned layout — file listing, no data scan at scale),
    * so resuming an interrupted backfill re-runs exactly the missing days:
    * `run(..., missingDates(...))`. A table that doesn't exist yet needs
    * the whole schedule.
    */
  def missingDates(spark: SparkSession, wh: Warehouse, table: String,
                   partitionCol: String, schedule: Seq[LocalDate]): Seq[LocalDate] = {
    if (!wh.exists(table)) schedule
    else {
      val present = wh.read(spark, table)
        .select(org.apache.spark.sql.functions.col(partitionCol).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      schedule.filterNot(d => present(BatchContext(d).ds))
    }
  }
}
