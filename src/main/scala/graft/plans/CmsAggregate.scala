package graft.plans

import org.apache.spark.sql.types._

/** `graft_cms(hash)` — a Count-Min sketch over a caller-supplied 60-bit
  * md5-derived hash (feed `TextFunctions.md5Bits(key, 15)`), as a
  * [[DenseCells]] family with CONSTANT 2 KB state per group (d = 4 rows ×
  * w = 64 buckets of BIGINT). Returns the sketch itself as a sparse
  * `ARRAY<STRUCT<cell INT, cnt BIGINT>>` sorted by cell id ASC (cell =
  * row·64 + bucket), one entry per non-zero cell — the persistable summary
  * `graft_cms_merge` (`merging = true`) re-aggregates without touching raw
  * rows. CMS cells are plain sums, so that rollup is bit-identical to
  * sketching the union of the raw rows.
  *
  * Cell map: the 60-bit hash is split into four 15-bit lanes (the same
  * lanes `graft_bloom` uses); row i's bucket is the LOW 6 BITS of lane i:
  * `bucket_i = (h >>> 15·i) & 63`. Every arrival adds 1 to one cell per
  * row; merge is element-wise sum. Point-frequency estimate for a key =
  * `min_i cell[i·64 + bucket_i(h_key)]` — computed OUTSIDE the aggregate
  * (see TextAnalysis.txt_cms_freq) so the emitted summary stays a pure
  * mergeable state, the same contract as `graft_hll` / `graft_qsketch`.
  *
  * Guarantees (Cormode & Muthukrishnan, J. Algorithms 2005): the estimate
  * NEVER undercounts, and with d rows × w buckets overcounts by more than
  * `e·N/w` with probability ≤ `e^-d` (N = total arrivals). All arithmetic
  * is integer on a deterministic md5-derived hash, so — unlike library
  * sketches whose hash families are implementation-defined — every cell
  * and every estimate is bit-reproducible in any engine (the DuckDB oracle
  * rebuilds the cells from `md5()` and matches exactly).
  *
  * Why this next to `graft_mgsketch`? Misra–Gries answers "which items are
  * frequent" (a candidate SET with a superset guarantee); CMS answers "how
  * often does THIS item occur" for any queried key, including keys chosen
  * after the scan — the point-lookup sketch a 100 TB vocabulary audit
  * persists per shard and sums later. Both shuffle constant bytes per
  * group per mapper; the direct `GROUP BY token` alternative shuffles the
  * full vocabulary.
  */
case class CmsAggregate(merging: Boolean = false) extends DenseCells {
  import CmsAggregate.{D, W}

  override def base: String = "graft_cms"
  override def cells: Int = CmsAggregate.Cells
  override def entryType: StructType = CmsAggregate.entryType
  override def combine(a: Long, b: Long): Long = a + b

  override def add(buf: Array[Long], h: Long): Unit = {
    var i = 0
    while (i < D) {
      buf(i * W + ((h >>> (15 * i)) & 63L).toInt) += 1L
      i += 1
    }
  }
}

object CmsAggregate {
  /** Depth (independent rows) and width (buckets per row). */
  val D: Int = 4
  val W: Int = 64
  val Cells: Int = D * W

  val entryType: StructType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
}
