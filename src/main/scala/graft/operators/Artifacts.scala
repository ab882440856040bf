package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one artifact store: every table, streamed-lake fixture and file
  * export the operators build once per source fingerprint and then read
  * back is published here, under one root, by one protocol.
  *
  *  - Keys are `<kind>_<pathTag>_<fingerprint>`. The fingerprint (source
  *    file names, lengths, mtimes) makes regenerated source data rebuild;
  *    the path tag scopes pruning to one source dir, so sessions working
  *    different dirs never delete each other's artifacts.
  *  - A build runs under a per-build scratch prefix (`<key>__bld<uuid>`)
  *    and publishes by renaming every suffix'd table into place. The done
  *    marker (`<key>__DONE`, content = the layout version) is written
  *    LAST: a crash anywhere before it leaves a key that reads as not
  *    done and rebuilds, never a marked-complete partial artifact, and a
  *    code change that alters the table set bumps the layout so stale
  *    shapes rebuild instead of being served.
  *  - The recheck-and-swap runs under a per-key OS file lock
  *    (`<key>__LOCK`), so a second process cannot drop tables a first one
  *    just published. The lock is taken inside a per-key JVM monitor,
  *    because JVM file locks do not nest across threads (the
  *    [[graft.pipeline.Warehouse]] `_VERSION` flip follows the same
  *    rule); the monitor also spans the build, so two threads asking for
  *    one key build it once.
  *  - After a build, superseded generations of the same kind and source
  *    dir, crashed scratch of any generation, and stranded
  *    `__stage__`/`__quarantine__` gate debris are pruned — only entries
  *    older than [[pruneAgeMs]] (a younger one may belong to a live
  *    concurrent builder). `__LOCK` files are never swept: deleting a
  *    lock another process holds would let a third process lock the
  *    recreated path.
  *  - A per-JVM memo serves repeat calls without touching the disk.
  *
  * At 100 TB the same protocol runs on object-store paths with the
  * rename as a metastore location flip; queries here inherit the
  * build-once, read-back shape exactly.
  */
private[graft] object Artifacts {

  /** The store's single root. */
  val wh = new graft.pipeline.Warehouse(
    new java.io.File(sys.props("java.io.tmpdir"), "graft_derived").getPath)

  /** Minimum age before pruning deletes an entry. */
  private[graft] val pruneAgeMs = 60L * 60 * 1000

  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def canonical(f: java.io.File): String =
    try f.getCanonicalPath catch {
      case _: java.io.IOException => f.getAbsolutePath
    }

  private def md5Hex(s: String, n: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(n)

  /** Content fingerprint of `<d>/<source>.parquet`: file names, lengths
    * and mtimes, plus the canonical path (a relative spelling or a
    * symlink to the same dir is the same fixture).
    */
  def fingerprint(d: String, source: String): String = {
    val src = new java.io.File(d, s"$source.parquet")
    val files =
      if (src.isDirectory)
        Option(src.listFiles()).getOrElse(Array.empty[java.io.File]).sortBy(_.getName)
      else Array(src)
    val desc = files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    md5Hex(s"${canonical(src)}|$desc", 16)
  }

  /** Path-only tag of `<d>/<source>.parquet` (content-independent). */
  def pathTag(d: String, source: String): String =
    md5Hex(canonical(new java.io.File(d, s"$source.parquet")), 8)

  /** Keys of `kind` that carry a done marker, over every source dir. */
  private[graft] def published(kind: String): Seq[String] = {
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(kind) + "_[0-9a-f]{8}_[0-9a-f]{16}__DONE")
    entries.map(_.getName).filter(pat.matcher(_).matches())
      .map(_.stripSuffix("__DONE")).sorted.toSeq
  }

  private def entries: Array[java.io.File] =
    Option(new java.io.File(wh.root).listFiles())
      .getOrElse(Array.empty[java.io.File])

  private def isDone(done: java.io.File, layout: String): Boolean =
    done.exists() && (try new String(
      java.nio.file.Files.readAllBytes(done.toPath), "UTF-8") == layout
    catch { case _: java.io.IOException => false })

  /** Build (if needed) and publish the artifact `kind` derived from
    * `<d>/<source>.parquet`; returns its key. `build` writes every
    * `suffixes` table (`""` = the key itself) under the scratch prefix
    * it is given. `extraPruneSuffixes` names tables that are not part of
    * the build (e.g. `_serve` snapshots compacted later) but must be
    * swept with their generation.
    */
  def publish(kind: String, d: String, source: String = "documents",
      suffixes: Seq[String] = Seq(""), layout: String = "v1",
      extraPruneSuffixes: Seq[String] = Nil)(build: String => Unit): String = {
    val tag = pathTag(d, source)
    val fp = fingerprint(d, source)
    val key = s"${kind}_${tag}_$fp"
    if (!built.contains(key))
      monitors.computeIfAbsent(key, _ => new Object).synchronized {
        if (!built.contains(key)) {
          val done = new java.io.File(wh.root, s"${key}__DONE")
          if (!isDone(done, layout)) {
            val scratch = s"${key}__bld${java.util.UUID.randomUUID.toString.take(8)}"
            try {
              build(scratch)
              new java.io.File(wh.root).mkdirs()
              val ch = java.nio.channels.FileChannel.open(
                new java.io.File(wh.root, s"${key}__LOCK").toPath,
                java.nio.file.StandardOpenOption.CREATE,
                java.nio.file.StandardOpenOption.WRITE)
              try {
                val lk = ch.lock() // blocks until a concurrent publisher exits
                try {
                  if (!isDone(done, layout)) // under the lock this recheck is final
                    swap(key, scratch, suffixes, done, layout)
                } finally lk.release()
              } finally ch.close()
            } finally entries.filter(_.getName.startsWith(scratch))
              .foreach(f => wh.dropTable(f.getName))
            prune(kind, tag, fp, suffixes ++ extraPruneSuffixes,
              optionalSuffix = suffixes.contains(""))
          }
          built.add(key): Unit
        }
      }
    key
  }

  /** Move every scratch table onto its live name, then write the marker.
    * A failed rename throws before the marker exists.
    */
  private def swap(key: String, scratch: String, suffixes: Seq[String],
      done: java.io.File, layout: String): Unit = {
    suffixes.foreach { suf =>
      wh.dropTable(s"$key$suf") // unmarked or stale-layout debris
      if (!new java.io.File(wh.tablePath(s"$scratch$suf"))
          .renameTo(new java.io.File(wh.tablePath(s"$key$suf"))))
        throw new IllegalStateException(s"could not publish artifact $key$suf")
    }
    java.nio.file.Files.write(done.toPath, layout.getBytes("UTF-8")): Unit
  }

  /** Read the one-table artifact `name` derived from
    * `<d>/<source>.parquet`, writing `build` only if no published copy
    * exists.
    */
  def table(s: SparkSession, d: String, source: String, name: String)(
      build: => DataFrame): DataFrame =
    wh.read(s, publish(name, d, source)(wh.truncateWrite(build, _)))

  private def prune(kind: String, tag: String, fp: String,
      suffixes: Seq[String], optionalSuffix: Boolean): Unit = {
    val staleMs = System.currentTimeMillis() - pruneAgeMs
    val sufAlt = ("__DONE" +: suffixes.filter(_.nonEmpty).distinct)
      .map(java.util.regex.Pattern.quote).mkString("|")
    val pat = java.util.regex.Pattern.compile(
      "(__stage__|__quarantine__)?" + java.util.regex.Pattern.quote(kind) +
        s"_${tag}_([0-9a-f]{16})(__bld[0-9a-f]{8})?($sufAlt)" +
        (if (optionalSuffix) "?" else "") + "(_b[0-9]+)?")
    entries.foreach { f =>
      val m = pat.matcher(f.getName)
      val debris = m.matches() && f.lastModified < staleMs &&
        (m.group(2) != fp || // superseded generation
          m.group(3) != null || // crashed scratch (any generation)
          m.group(1) != null) // stranded stage/quarantine
      if (debris) wh.dropTable(f.getName)
    }
  }
}
