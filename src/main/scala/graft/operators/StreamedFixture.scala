package graft.operators

import org.apache.spark.sql.SparkSession

/** A MULTI-TABLE streamed fixture published through [[Artifacts]]: a
  * fixture whose content is a streaming ingest body replayed over
  * deterministic slices of the dataset, built once per source
  * fingerprint and then served read-only by oracle queries — frontier
  * lakes ([[Crawl.FrontierFixture]]), corpus stats, semantic/IVF and
  * postings lakes, and the lake-maintenance demos. A subclass supplies
  * only its build body; the store owns keys, locking, the marker-last
  * publish and pruning.
  *
  * @param kind     key prefix, unique per fixture (`fs` frontier serve,
  *                 `cs` corpus stats, ...)
  * @param suffixes the per-build table suffixes that must ALL land for
  *                 the fixture to be complete (`""` = the prefix table
  *                 itself)
  * @param layout   layout version string recorded in the done marker
  * @param extraPruneSuffixes additional suffixes (e.g. compacted
  *                 `_serve` snapshots) that are NOT part of the build
  *                 but must be swept with their generation
  */
private[graft] abstract class StreamedFixture(
    kind: String,
    suffixes: Seq[String],
    layout: String,
    extraPruneSuffixes: Seq[String] = Nil) {

  val wh: graft.pipeline.Warehouse = Artifacts.wh

  private val compacted =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val compactLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run a fixture's compaction `job` once per prefix per JVM — each
    * compactor call commits a NEW snapshot generation, so the memo keeps
    * a session from stacking identical versions. The job reports whether
    * a committed generation EXISTS (not merely "returned without
    * throwing"): a compactor can legitimately return without committing
    * (the non-quiesced no-trusted-tail path), and memoizing that would
    * permanently serve "no committed versions" — so only `true` lands in
    * the memo; a failed or commit-less run retries on the next call.
    * Serialized on a PER-PREFIX lock, never the store's build
    * monitor — a long compaction must not block concurrent [[build]]
    * memo hits (read-only serve queries) or another prefix's compaction.
    */
  protected final def compactOnce(p: String)(job: => Boolean): Unit =
    if (!compacted.contains(p))
      compactLocks.computeIfAbsent(p, _ => new Object).synchronized {
        if (!compacted.contains(p) && job)
          compacted.add(p): Unit
      }

  /** Write every `suffixes` table under the `scratch` prefix. */
  protected def buildScratch(s: SparkSession, d: String, scratch: String): Unit

  /** The dataset table whose content fingerprint keys the fixture
    * generation (rebuilds on data change, prunes superseded
    * generations).
    */
  protected def sourceTable: String = "documents"

  /** Build (if needed) and return the fixture's table prefix. */
  def build(s: SparkSession, d: String): String =
    Artifacts.publish(kind, d, sourceTable, suffixes, layout,
      extraPruneSuffixes)(buildScratch(s, d, _))
}
