package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The one Catalyst aggregate behind every bounded-state graft aggregate
  * (`graft_topk`, `graft_bottomk`, `graft_bounded_collect`,
  * `graft_mgsketch`, `graft_hll`, `graft_cms`, `graft_qsketch`,
  * `graft_bloom` and the `_merge` twins). It owns the plumbing — name,
  * type check, result type, offset and children copies — and delegates the
  * buffer to a [[SketchFamily]].
  *
  * Plans print the children, then the family's `params`, then the two
  * buffer offsets — `graft_topk(score#1, id#2L, 3, 0, 0)` — and never the
  * family object itself.
  */
case class SketchAggregate[B](
    family: SketchFamily[B],
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[B] {

  // runtime view: the family bound to the resolved input types, and the
  // children as an array so the per-row update indexes without a Seq walk
  @transient private lazy val sketch: SketchFamily[B] = family.bind(children.map(_.dataType))
  @transient private lazy val in: Array[Expression] = children.toArray

  override def prettyName: String = family.name
  override def nullable: Boolean = false
  override def dataType: DataType = family.dataType(children.map(_.dataType))

  override protected def stringArgs: Iterator[Any] =
    children.iterator ++ family.params ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    if (family.accepts(types)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${family.name} expects ${family.expects}, got " +
      (if (types.length == 1) types.head.catalogString
       else types.map(_.catalogString).mkString("(", ", ", ")")))
  }

  override def createAggregationBuffer(): B = sketch.create()
  override def update(buf: B, input: InternalRow): B = sketch.update(buf, in, input)
  override def merge(a: B, b: B): B = sketch.merge(a, b)
  override def eval(buf: B): Any = sketch.eval(buf)
  override def serialize(buf: B): Array[Byte] = sketch.serialize(buf)
  override def deserialize(bytes: Array[Byte]): B = sketch.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAggregate[B] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAggregate[B] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAggregate[B] =
    copy(children = newChildren)
}

/** One aggregate family's buffer semantics over a buffer `B`. Families are
  * case classes so equal arguments give equal (deduplicable) aggregates.
  */
abstract class SketchFamily[B] extends Serializable {
  def name: String

  /** Arguments printed after the children in plans (e.g. `k`). */
  def params: Seq[Any] = Nil

  /** The accepted child types; families with a looser rule override
    * [[accepts]] and [[expects]].
    */
  def inputTypes: Seq[DataType] = Nil
  def accepts(in: Seq[DataType]): Boolean = in == inputTypes
  def expects: String =
    if (inputTypes.length == 1) inputTypes.head.sql else inputTypes.map(_.sql).mkString("(", ", ", ")")

  def dataType(in: Seq[DataType]): DataType

  /** This family specialised to resolved child types (called once per
    * aggregate instance at run time).
    */
  def bind(in: Seq[DataType]): SketchFamily[B] = this

  def create(): B
  /** Folds one input row; `in` are the aggregate's children. */
  def update(buf: B, in: Array[Expression], row: InternalRow): B
  def merge(a: B, b: B): B
  def eval(buf: B): Any
  def serialize(buf: B): Array[Byte]
  def deserialize(bytes: Array[Byte]): B
}

/** Dense-cell families (HLL, CMS, qsketch, Bloom): a fixed `Array[Long]` of
  * `cells`, combined element-wise by [[combine]] — commutative and
  * associative, so the result is identical under any partitioning or merge
  * order.
  *
  * With `merging = true` the family is its own `_merge` twin: same buffer,
  * codec and result, but each input is an already-built `(index, value)`
  * entry array (e.g. read back from a per-day summary table) folded in
  * with the same [[combine]]. Re-aggregating persisted summaries is
  * therefore bit-identical to sketching the union of the raw rows — the
  * rollup-without-raw-data path at 100 TB.
  *
  * The default codec writes the cells as big-endian longs; [[eval]] is the
  * sparse `(index, value)` array of non-zero cells, sorted by index.
  */
abstract class DenseCells extends SketchFamily[Array[Long]] {
  def base: String
  def cells: Int
  def merging: Boolean

  /** `STRUCT<index INT, value INT|BIGINT>` of [[eval]]'s sparse entries
    * (null for a dense result).
    */
  def entryType: StructType
  /** Largest value a `_merge` entry may carry (the smallest is 0). */
  def maxValue: Long = Long.MaxValue
  def combine(a: Long, b: Long): Long
  /** Folds one raw (non-null BIGINT) input into the cells. */
  def add(buf: Array[Long], v: Long): Unit

  override def name: String = if (merging) base + "_merge" else base
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def accepts(in: Seq[DataType]): Boolean =
    if (!merging) super.accepts(in)
    else in match {
      case Seq(ArrayType(s: StructType, _)) => s.map(_.dataType) == entryType.map(_.dataType)
      case _ => false
    }
  override def expects: String =
    if (!merging) super.expects
    else entryType.map(f => s"${f.name} ${f.dataType.sql}").mkString("ARRAY<STRUCT<", ", ", ">>") +
      s" (a $base result)"
  override def dataType(in: Seq[DataType]): DataType = ArrayType(entryType, containsNull = false)

  override def create(): Array[Long] = new Array[Long](cells)

  override def update(buf: Array[Long], in: Array[Expression], row: InternalRow): Array[Long] = {
    val v = in(0).eval(row)
    if (v != null) {
      if (merging) foldEntries(buf, v.asInstanceOf[ArrayData]) else add(buf, v.asInstanceOf[Long])
    }
    buf
  }

  private def foldEntries(buf: Array[Long], entries: ArrayData): Unit = {
    val intValued = entryType(1).dataType == IntegerType
    val n = entries.numElements()
    var i = 0
    while (i < n) {
      val e = entries.getStruct(i, 2)
      val c = e.getInt(0)
      val v = if (intValued) e.getInt(1).toLong else e.getLong(1)
      require(c >= 0 && c < cells && v >= 0L && v <= maxValue,
        s"$name: entry (${entryType(0).name}=$c, ${entryType(1).name}=$v) outside sketch domain")
      buf(c) = combine(buf(c), v)
      i += 1
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < cells) { a(i) = combine(a(i), b(i)); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val intValued = entryType(1).dataType == IntegerType
    val rows = new Array[Any](buf.count(_ != 0L))
    var j = 0
    var i = 0
    while (i < cells) {
      if (buf(i) != 0L) {
        rows(j) = if (intValued) InternalRow(i, buf(i).toInt) else InternalRow(i, buf(i))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](cells * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    buf.foreach(bb.putLong)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(cells)(bb.getLong())
  }
}
