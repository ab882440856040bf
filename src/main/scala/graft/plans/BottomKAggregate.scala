package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `graft_bottomk(hash, value, k)` — per group, the k SMALLEST DISTINCT
  * hashes with an attached payload value, as a bounded [[SketchAggregate]]
  * family. Returns `ARRAY<STRUCT<h BIGINT, v DOUBLE>>` sorted by h ASC.
  *
  * This is the state of two classic mergeable sketches:
  *  - **KMV distinct-count**: feed a uniform hash of the key; the estimate is
  *    (k-1)·M/kth_min over the returned array. Deterministic (unlike HLL's
  *    implementation-defined registers) because the hash is user-supplied.
  *  - **Bottom-k uniform sample**: feed a hash of a UNIQUE row key and the
  *    measure as payload; the k kept rows are a deterministic uniform sample
  *    of the group, usable for approximate quantiles with an exact,
  *    engine-portable definition (same rows kept under any partitioning).
  *
  * Why not `row_number() OVER (PARTITION BY g ORDER BY h)`? With few groups
  * the window plan shuffles EVERY distinct hash into ~|groups| partitions —
  * maximal skew at scale for a sketch whose whole point is bounded k-row
  * state. This aggregate is partial-aggregation friendly: map-side buffers
  * cap at k entries per group, the shuffle carries ≤ k rows per group per
  * mapper, and merge is a bounded sorted-merge. Same machinery as
  * [[TopKAggregate]] with the opposite ordering plus distinct-on-hash.
  */
case class BottomKAggregate(k: Int) extends SketchFamily[BottomKBuffer] {

  override def name: String = "graft_bottomk"
  override def params: Seq[Any] = Seq(k)
  override def inputTypes: Seq[DataType] = Seq(LongType, DoubleType)
  override def dataType(in: Seq[DataType]): DataType =
    ArrayType(BottomKAggregate.entryType, containsNull = false)

  override def create(): BottomKBuffer = new BottomKBuffer(k)

  override def update(buf: BottomKBuffer, in: Array[Expression], row: InternalRow): BottomKBuffer = {
    val h = in(0).eval(row)
    val v = in(1).eval(row)
    if (h != null && v != null) buf.insert(h.asInstanceOf[Long], v.asInstanceOf[Double])
    buf
  }

  override def merge(a: BottomKBuffer, b: BottomKBuffer): BottomKBuffer = {
    var i = 0
    while (i < b.size) { a.insert(b.hs(i), b.vs(i)); i += 1 }
    a
  }

  override def eval(buf: BottomKBuffer): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      rows(i) = InternalRow(buf.hs(i), buf.vs(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: BottomKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k); out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) { out.writeLong(buf.hs(i)); out.writeDouble(buf.vs(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BottomKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val kk = in.readInt(); val n = in.readInt()
    val buf = new BottomKBuffer(kk)
    var i = 0
    while (i < n) { buf.insert(in.readLong(), in.readDouble()); i += 1 }
    buf
  }
}

object BottomKAggregate {
  val entryType: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("v", DoubleType, nullable = false)))
}

/** Bounded ascending-by-hash list of at most k DISTINCT-hash entries.
  * Duplicate hashes keep the MINIMUM payload — an arrival-order-independent
  * rule, so the kept sample is identical under any partitioning and can be
  * reproduced exactly by another engine (the oracle dedupes on hash keeping
  * min payload the same way). For the sketch use-cases the hash is unique
  * per logical row, so the rule only matters on a ~2^-62 hash collision.
  */
final class BottomKBuffer(val k: Int) {
  var size: Int = 0
  val hs: Array[Long] = new Array[Long](k)
  val vs: Array[Double] = new Array[Double](k)

  def insert(h: Long, v: Double): Unit = {
    // strict >: a duplicate of the CURRENT MAX hash must fall through to the
    // dedup branch below so its min-payload update still applies
    if (size == k && h > hs(size - 1)) return
    // binary search for insertion point
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (hs(mid) < h) lo = mid + 1 else hi = mid
    }
    if (lo < size && hs(lo) == h) { // distinct on hash: keep min payload
      if (v < vs(lo)) vs(lo) = v
      return
    }
    if (size < k) size += 1
    var j = size - 1
    while (j > lo) { hs(j) = hs(j - 1); vs(j) = vs(j - 1); j -= 1 }
    hs(lo) = h; vs(lo) = v
  }
}
