package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** `graft_bounded_collect(row_struct, k)` — per-group row collection with a
  * HARD buffer bound of k entries: update stops inserting once the buffer
  * holds k rows, and merge concatenates only up to k. Returns
  * `ARRAY<STRUCT<...>>` (the child struct's fields) in arbitrary order.
  *
  * The contract the hot-band guard ([[graft.operators.Dedup.capHotBands]])
  * builds on: a group with n <= k total rows is collected LOSSLESSLY (no
  * map-side buffer can overflow before the union of all buffers reaches n,
  * and merge never truncates below k), while a group with n > k — whose
  * collection the caller is going to DISCARD anyway, deciding by a count
  * that rides the same aggregate — costs at most k entries per map-side
  * buffer instead of n. That bound is what makes the guard skew-proof: a
  * pathological hot group (millions of rows on one band value) shuffles
  * k rows per mapper, never the group.
  *
  * Truncation order is arbitrary by design (which k of a hot group's rows
  * survive depends on partial-buffer arrival order); callers MUST NOT use
  * the collection of an over-k group. Deterministic consumers filter on the
  * accompanying count first.
  */
case class BoundedCollectAggregate(k: Int, rowType: StructType = null)
  extends SketchFamily[BoundedRowsBuffer] {

  override def name: String = "graft_bounded_collect"
  override def params: Seq[Any] = Seq(k)
  override def accepts(in: Seq[DataType]): Boolean = in match {
    case Seq(s: StructType) => s.fields.nonEmpty
    case _ => false
  }
  override def expects: String = "a non-empty STRUCT"
  override def dataType(in: Seq[DataType]): DataType = ArrayType(in.head, containsNull = false)

  // the codec needs the row layout, known only once the child resolves
  override def bind(in: Seq[DataType]): BoundedCollectAggregate = in.head match {
    case s: StructType => copy(rowType = s)
    case _ => this
  }

  override def create(): BoundedRowsBuffer = new BoundedRowsBuffer(k)

  override def update(
      buf: BoundedRowsBuffer, in: Array[Expression], row: InternalRow): BoundedRowsBuffer = {
    if (buf.rows.length < k) {
      val v = in(0).eval(row)
      if (v != null) buf.rows += v.asInstanceOf[InternalRow].copy()
    }
    buf
  }

  override def merge(a: BoundedRowsBuffer, b: BoundedRowsBuffer): BoundedRowsBuffer = {
    var i = 0
    while (a.rows.length < k && i < b.rows.length) {
      a.rows += b.rows(i)
      i += 1
    }
    a
  }

  override def eval(buf: BoundedRowsBuffer): Any =
    new GenericArrayData(buf.rows.toArray[Any])

  // serialization crosses the partial/final boundary (and the sort-based
  // aggregation fallback): rows go through an UnsafeProjection so the bytes
  // are self-contained regardless of the incoming row representation
  @transient private lazy val toUnsafe = UnsafeProjection.create(rowType)

  override def serialize(buf: BoundedRowsBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.rows.length)
    var i = 0
    while (i < buf.rows.length) {
      val u = toUnsafe(buf.rows(i))
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, null)
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BoundedRowsBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new BoundedRowsBuffer(k)
    val nFields = rowType.fields.length
    var i = 0
    while (i < n) {
      val sz = in.readInt()
      val arr = new Array[Byte](sz)
      in.readFully(arr)
      val row = new UnsafeRow(nFields)
      row.pointTo(arr, sz)
      buf.rows += row
      i += 1
    }
    buf
  }
}

/** At most k collected rows; plain append, truncation handled by callers. */
final class BoundedRowsBuffer(val k: Int) {
  val rows: ArrayBuffer[InternalRow] = new ArrayBuffer[InternalRow](math.min(k, 16))
}
