package graft.plans

import org.apache.spark.sql.types._

/** `graft_hll(hash)` — HyperLogLog registers over a caller-supplied 60-bit
  * hash (feed `TextFunctions.md5Bits(key, 15)`), as a [[DenseCells]]
  * family with CONSTANT 256-byte serialized state per group. Returns the
  * register set itself: `ARRAY<STRUCT<b INT, r INT>>` sorted by bucket id
  * ASC, one row per non-zero register — the persistable summary
  * `graft_hll_merge` (`merging = true`) re-aggregates without touching raw
  * rows. Union of HLLs over disjoint-or-not inputs is exact register max,
  * so the rollup is bit-identical to sketching the union of the raw rows.
  *
  * Register map (p = 8, m = 256 buckets):
  *  - bucket `b = h & 255` (low 8 bits);
  *  - `w = h >>> 8` (the remaining 52 bits);
  *  - `rho = 53 - bitLength(w)` (leading zeros of the 52-bit lane + 1;
  *    `w == 0` → 53);
  *  - `register[b] = max(rho)`.
  *
  * Everything is integer bit arithmetic on a DETERMINISTIC md5-derived
  * hash, so — unlike library HLLs whose hash/bias tables are
  * implementation-defined — the registers and the estimate below are
  * bit-reproducible in any engine (the DuckDB oracle rebuilds the registers
  * with `bin()` length and matches the hash). Same design rule as
  * `graft_bottomk`/`graft_qsketch`: determinism first, then accuracy.
  *
  * The estimate is computed OUTSIDE the aggregate by a libm-free integer
  * walk (see Relational.q_hll_distinct): `S = Σ_buckets 2^(53 - r)` (absent
  * buckets contribute `2^53`; max `256·2^53 = 2^61` — no overflow), then
  * `est = α·m²·2^53 / S` with `α = 0.7213/(1 + 1.079/256)` spelled as the
  * same IEEE expression on both engines. No small-range linear-counting
  * correction in oracle-checked columns — it needs `ln()`, and libm is not
  * bit-portable; `n_zero_regs` is emitted so a consumer can apply it.
  *
  * Why this next to KMV (`graft_bottomk`)? KMV keeps k·16 bytes and yields
  * a deterministic SAMPLE (reusable for quantiles/overlap); HLL keeps a
  * flat 256 bytes with ~6.5% error regardless of cardinality — the summary
  * you persist per partition/day at 100 TB and union later. Both shuffle
  * constant bytes per group per mapper (partial aggregation), vs
  * COUNT(DISTINCT)'s full distinct-key shuffle.
  */
case class HllAggregate(merging: Boolean = false) extends DenseCells {
  override def base: String = "graft_hll"
  override def cells: Int = HllAggregate.M
  override def entryType: StructType = HllAggregate.entryType
  override def maxValue: Long = 53L
  override def combine(a: Long, b: Long): Long = math.max(a, b)

  override def add(buf: Array[Long], h: Long): Unit = {
    val b = (h & 255L).toInt
    val w = h >>> 8
    val rho = if (w == 0L) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
    if (rho > buf(b)) buf(b) = rho
  }

  // one byte per register on the wire (rho <= 53)
  override def serialize(buf: Array[Long]): Array[Byte] = buf.map(_.toByte)
  override def deserialize(bytes: Array[Byte]): Array[Long] = bytes.map(_.toLong)
}

object HllAggregate {
  /** Register count (p = 8). */
  val M: Int = 256

  val entryType: StructType = StructType(Seq(
    StructField("b", IntegerType, nullable = false),
    StructField("r", IntegerType, nullable = false)))
}
