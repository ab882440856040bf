package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `graft_topk(score, id, k)` — grouped top-k as a [[SketchAggregate]]
  * family: each group keeps a BOUNDED buffer of its k best
  * (score DESC, id ASC) pairs.
  *
  * Why not `row_number() OVER (PARTITION BY g ORDER BY ...) <= k`? The
  * window plan shuffles EVERY row of every group and sorts each partition;
  * this aggregate is partial-aggregation friendly — map-side buffers cap at
  * k entries per group, so the shuffle carries at most k rows per group per
  * mapper and no sort is needed. At 100 TB with millions of rows per hot
  * group, that's the difference between shuffling the fact table and
  * shuffling k·groups rows.
  *
  * Returns `ARRAY<STRUCT<score DOUBLE, id BIGINT>>` sorted (score DESC,
  * id ASC) — explode + posexplode to get ranked rows (see
  * `Relational.q_topk_grouped_agg`). Deterministic: total tiebreak on id.
  *
  * The buffer is a plain sorted insert into an Array of max k elements —
  * for small k (top-3/top-10) this beats a heap's constant factor; swap in
  * a bounded heap for large k.
  */
case class TopKAggregate(k: Int) extends SketchFamily[TopKBuffer] {

  override def name: String = "graft_topk"
  override def params: Seq[Any] = Seq(k)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, LongType)
  override def dataType(in: Seq[DataType]): DataType =
    ArrayType(TopKAggregate.entryType, containsNull = false)

  override def create(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, in: Array[Expression], row: InternalRow): TopKBuffer = {
    val s = in(0).eval(row)
    val i = in(1).eval(row)
    if (s != null && i != null) buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(a: TopKBuffer, b: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < b.size) { a.insert(b.scores(i), b.ids(i)); i += 1 }
    a
  }

  override def eval(buf: TopKBuffer): Any = {
    val rows = new Array[Any](buf.size)
    var i = 0
    while (i < buf.size) {
      rows(i) = InternalRow(buf.scores(i), buf.ids(i))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k); out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) { out.writeDouble(buf.scores(i)); out.writeLong(buf.ids(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val kk = in.readInt(); val n = in.readInt()
    val buf = new TopKBuffer(kk)
    var i = 0
    while (i < n) { buf.insert(in.readDouble(), in.readLong()); i += 1 }
    buf
  }
}

object TopKAggregate {
  val entryType: StructType = StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false)))
}

/** Bounded (score DESC, id ASC) list of at most k entries, kept sorted. */
final class TopKBuffer(val k: Int) {
  var size: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** true if (s1,i1) ranks strictly better than (s2,i2). */
  @inline private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  def insert(s: Double, id: Long): Unit = {
    if (size == k && !better(s, id, scores(size - 1), ids(size - 1))) return
    // find insertion point (small k: linear scan)
    var pos = if (size == k) size - 1 else size
    while (pos > 0 && better(s, id, scores(pos - 1), ids(pos - 1))) pos -= 1
    if (size < k) size += 1
    var j = size - 1
    while (j > pos) { scores(j) = scores(j - 1); ids(j) = ids(j - 1); j -= 1 }
    scores(pos) = s; ids(pos) = id
  }
}
