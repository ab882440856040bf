package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_mgsketch(item, k)` — a Misra–Gries heavy-hitters summary with at
  * most k counters per group. Returns `ARRAY<STRUCT<token STRING, cnt
  * BIGINT>>` sorted by token ASC.
  *
  * Guarantee (the classic MG bound, preserved by the merge below — Agarwal
  * et al., "Mergeable Summaries", PODS'12): every item with true frequency
  * `> n/(k+1)` is present in the summary, and each reported count
  * undercounts by at most `n/(k+1)`.
  *
  * The summary is NOT arrival-order deterministic (which marginal items
  * survive depends on interleaving), so it is never oracle-hashed directly.
  * The deterministic pattern — used by TextAnalysis.txt_heavy_hitters — is
  * the standard two-pass: (1) this sketch finds a ≤ k-item CANDIDATE set
  * with the superset guarantee; (2) a second scan counts ONLY the
  * candidates exactly (broadcast semi-join, tiny build side) and keeps
  * those with exact count `> n/(k+1)`. The guarantee makes pass 2's output
  * independent of which extra candidates pass 1 happened to keep — exact,
  * deterministic, oracle-checkable.
  *
  * Why this instead of `GROUP BY token ORDER BY count DESC LIMIT k`? The
  * direct form shuffles EVERY distinct token (at 100 TB: the full vocab,
  * trillions of keys, heavy skew). This aggregate's map-side partials cap
  * at k entries, the shuffle carries ≤ k·mappers rows per group, and pass
  * 2 is a broadcast filter + an aggregation over ≤ k distinct keys.
  *
  * Update cost: O(1) amortized — each decrement pass removes total count
  * mass that arrivals paid in; implemented as a single sweep when the map
  * is full and a new item misses.
  */
case class MisraGriesAggregate(k: Int) extends SketchFamily[MgBuffer] {

  override def name: String = "graft_mgsketch"
  override def params: Seq[Any] = Seq(k)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType(in: Seq[DataType]): DataType =
    ArrayType(MisraGriesAggregate.entryType, containsNull = false)

  override def create(): MgBuffer = new MgBuffer(k)

  override def update(buf: MgBuffer, in: Array[Expression], row: InternalRow): MgBuffer = {
    val v = in(0).eval(row)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString, 1L)
    buf
  }

  override def merge(a: MgBuffer, b: MgBuffer): MgBuffer = { a.mergeFrom(b); a }

  override def eval(buf: MgBuffer): Any = {
    val entries = buf.sortedEntries
    val rows = new Array[Any](entries.length)
    var i = 0
    while (i < entries.length) {
      rows(i) = InternalRow(UTF8String.fromString(entries(i)._1), entries(i)._2)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: MgBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val entries = buf.sortedEntries
    out.writeInt(buf.k); out.writeInt(entries.length)
    entries.foreach { case (t, c) => out.writeUTF(t); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val kk = in.readInt(); val n = in.readInt()
    val buf = new MgBuffer(kk)
    var i = 0
    while (i < n) { val t = in.readUTF(); val c = in.readLong(); buf.add(t, c); i += 1 }
    buf
  }
}

object MisraGriesAggregate {
  val entryType: StructType = StructType(Seq(
    StructField("token", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))
}

/** At most k (item → count) counters with the Misra–Gries maintenance
  * rule. `add(item, w)` handles weighted arrivals so deserialize/merge
  * reuse the same path.
  */
final class MgBuffer(val k: Int) {
  private val counts = new java.util.HashMap[String, Long]()

  def add(item: String, w: Long): Unit = {
    val cur = counts.get(item)
    if (cur != 0L || counts.containsKey(item)) {
      counts.put(item, cur + w)
    } else if (counts.size < k) {
      counts.put(item, w)
    } else {
      // full and item absent: decrement-all by the largest amount that
      // keeps the invariant — min(w, current minimum). One sweep; if the
      // new item's weight survives the decrement it takes a slot.
      var minC = Long.MaxValue
      val it0 = counts.values().iterator()
      while (it0.hasNext) { val c = it0.next(); if (c < minC) minC = c }
      val d = math.min(w, minC)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nc = e.getValue - d
        if (nc <= 0L) it.remove() else e.setValue(nc)
      }
      if (w > d) counts.put(item, w - d)
    }
  }

  /** MG merge: add counters pairwise, then if over k survive, subtract the
    * (k+1)-th largest count from all and drop non-positives (ties broken
    * toward keeping lexicographically-smaller tokens, purely to make the
    * in-engine summary stable; the two-pass consumer is independent of it).
    */
  def mergeFrom(other: MgBuffer): Unit = {
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counts.get(e.getKey)
      counts.put(e.getKey, cur + e.getValue)
    }
    if (counts.size > k) {
      val entries = sortedByCountDescTokenAsc
      val d = entries(k)._2 // (k+1)-th largest count
      counts.clear()
      var i = 0
      while (i < entries.length) {
        val nc = entries(i)._2 - d
        if (nc > 0L) counts.put(entries(i)._1, nc)
        i += 1
      }
    }
  }

  def size: Int = counts.size

  def sortedEntries: Array[(String, Long)] = {
    val arr = new Array[(String, Long)](counts.size)
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey, e.getValue); i += 1 }
    scala.util.Sorting.quickSort(arr)(Ordering.by(_._1))
    arr
  }

  private def sortedByCountDescTokenAsc: Array[(String, Long)] = {
    val arr = sortedEntries // token ASC, so the stable sort breaks count ties on token
    scala.util.Sorting.stableSort(arr, (a: (String, Long), b: (String, Long)) => a._2 > b._2)
    arr
  }
}
