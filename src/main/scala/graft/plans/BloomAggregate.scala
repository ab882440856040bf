package graft.plans

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `graft_bloom(hash)` — a Bloom filter over a caller-supplied 60-bit
  * md5-derived hash (feed `TextFunctions.md5Bits(key, 15)`), as a
  * [[DenseCells]] family with CONSTANT 4 KB state. Returns the bitmap as
  * `ARRAY<BIGINT>` of exactly 512 words (m = 32768 bits).
  *
  * Probe positions are the four disjoint 15-bit lanes of the SAME 60-bit
  * hash: `p_i = (h >>> 15·i) & 32767`, i = 0..3 — pure integer bit
  * arithmetic, so (unlike library Blooms with implementation-defined
  * hashing) the bitmap is bit-reproducible in any engine and the driver
  * oracle rebuilds it in SQL. Membership test of a probe key is "all four
  * of ITS lanes set": `((bloom[p/64 + 1] >> (p % 64)) & 1) = 1` per lane —
  * a plain projection after broadcasting the 1-row bitmap (see
  * Dedup.dedup_bloom_prefilter). False positives possible (that's the
  * deal), false negatives impossible; with n keys the FP rate is
  * ≈ (1 − e^(−4n/32768))^4 — ~0.5 % at n = 2048, ~4 % at n = 5000 —
  * sized for per-partition/per-day key sets that are ORed together.
  *
  * Merge is bitwise OR — commutative, associative, idempotent — so
  * building per-partition filters and unioning them equals one global
  * build bit-for-bit, and persisted filters keep absorbing new batches:
  * the incremental-ingest prefilter at 100 TB (a 4 KB — or, scaled up, a
  * few GB — summary ships to the ingest job instead of the corpus
  * itself).
  */
case object BloomAggregate extends DenseCells {
  /** m = 32768 bits. */
  val Words: Int = 512
  val Lanes: Int = 4

  override def base: String = "graft_bloom"
  override def cells: Int = Words
  override def merging: Boolean = false
  override def entryType: StructType = null // dense result, no `_merge` twin
  override def dataType(in: Seq[DataType]): DataType = ArrayType(LongType, containsNull = false)
  override def combine(a: Long, b: Long): Long = a | b

  override def add(buf: Array[Long], h: Long): Unit = {
    var i = 0
    while (i < Lanes) {
      val p = ((h >>> (15 * i)) & 32767L).toInt
      buf(p >>> 6) |= (1L << (p & 63))
      i += 1
    }
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())
}
