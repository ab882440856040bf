package graft

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Pins the serialized buffer bytes of every graft sketch aggregate.
  *
  * These bytes cross the partial/final shuffle boundary and are persisted in
  * the state-store checkpoints of the windowed streaming sketches, so a
  * layout change strands existing checkpoints. Each case builds two buffers
  * from fixed inputs, merges them, and compares the SHA-256 of `serialize`
  * with a literal; `deserialize` followed by `eval` must give the original
  * result. The `_merge` twins, fed their base sketch's result, must produce
  * the base sketch's bytes.
  */
class SketchCodecSpec extends SparkSuiteBase {

  /** SplitMix64 finalizer: a fixed, well-spread 64-bit sequence. */
  private def mix(i: Long): Long = {
    var z = i * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def hash60(i: Int): Long = mix(i) >>> 4

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  private def build(name: String, in: Seq[DataType], k: Option[Int]): TypedImperativeAggregate[_] = {
    val args: Seq[Expression] =
      in.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) } ++ k.map(Literal(_))
    spark.sessionState.functionRegistry.lookupFunction(new FunctionIdentifier(name), args) match {
      case a: TypedImperativeAggregate[_] => a
      case other => fail(s"$name built ${other.getClass.getName}, not a TypedImperativeAggregate")
    }
  }

  private def fold[T](agg: TypedImperativeAggregate[T], rows: Seq[InternalRow]): T =
    rows.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, r))

  private def evalOf[T](agg: TypedImperativeAggregate[T], rows: Seq[InternalRow]): Any =
    agg.eval(fold(agg, rows))

  /** (sha256 of the merged buffer's bytes, eval of the merged buffer,
    * eval after a serialize/deserialize round trip), all as Scala values.
    */
  private def pin[T](agg: TypedImperativeAggregate[T], rows: Seq[InternalRow]): (String, Any, Any) = {
    val (left, right) = rows.splitAt(rows.length / 2)
    val merged = agg.merge(fold(agg, left), fold(agg, right))
    val bytes = agg.serialize(merged)
    def scala(v: Any): Any = CatalystTypeConverters.convertToScala(v, agg.dataType)
    (sha256(bytes), scala(agg.eval(merged)), scala(agg.eval(agg.deserialize(bytes))))
  }

  private def check(
      name: String, in: Seq[DataType], k: Option[Int], rows: Seq[InternalRow], expected: String)
      : Unit = {
    val (digest, evaluated, roundTripped) = pin(build(name, in, k), rows)
    assert(digest == expected, s"$name serialized bytes changed: sha256 $digest")
    assert(roundTripped == evaluated, s"$name deserialize + eval differs from eval")
  }

  /** The twin, fed the base sketch's rows as one persisted summary, must
    * serialize to the base sketch's bytes.
    */
  private def checkTwin(base: String, baseRows: Seq[InternalRow], entry: StructType, expected: String)
      : Unit = {
    val summary = evalOf(build(base, Seq(LongType), None), baseRows)
    check(s"${base}_merge", Seq(ArrayType(entry, containsNull = false)), None,
      Seq(InternalRow(summary)), expected)
  }

  private val hashRows: Seq[InternalRow] = (0 until 400).map(i => InternalRow(hash60(i)))

  private val hllEntry = StructType(Seq(StructField("b", IntegerType), StructField("r", IntegerType)))
  private val cmsEntry = StructType(Seq(StructField("cell", IntegerType), StructField("cnt", LongType)))
  private val qEntry = StructType(Seq(StructField("b", IntegerType), StructField("cnt", LongType)))

  private val Hll = "9e88025520aca377364db81e5af687fe033da17838437dbb849f2de8e388041d"
  private val Cms = "aae9b665c46683b85538983c819a504aff310da7331cbddc783fcab51641d156"
  private val QSketch = "0290f05535e92f63b68fb6751415b0c02debc6ae9a3c9e20b2537e82b1cc7917"

  test("graft_topk bytes are pinned") {
    val rows = (0 until 64).map(i => InternalRow(((i * 37) % 101).toDouble, (i % 50).toLong))
    check("graft_topk", Seq(DoubleType, LongType), Some(5), rows,
      "afdb914de920ac11adf97b8750d5b881c343ab2d226e6a5401c9a88f500ccbf1")
  }

  test("graft_bottomk bytes are pinned") {
    val rows = (0 until 200).map(i => InternalRow(hash60(i % 150), (i % 17).toDouble))
    check("graft_bottomk", Seq(LongType, DoubleType), Some(8), rows,
      "5a3b3d081394cbfdba790fb6127190b3aa399591095020db9552482c79910468")
  }

  test("graft_bounded_collect bytes are pinned") {
    val rowType = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val rows = (0 until 8).map(i =>
      InternalRow(InternalRow(i.toLong * 1000, UTF8String.fromString(s"row-$i"))))
    check("graft_bounded_collect", Seq(rowType), Some(5), rows,
      "7e396fe0ff1b32452706f1c35b1605a60bd70b41d3992dc11443a4245da14c6e")
  }

  test("graft_mgsketch bytes are pinned") {
    val rows = (0 until 300).map(i =>
      InternalRow(UTF8String.fromString(s"t${(i.toLong * i) % 13}")))
    check("graft_mgsketch", Seq(StringType), Some(4), rows,
      "525c3368aba80a606f181bd81ae58ae0cff8a52d05b47ddc01c0c3d1273397e4")
  }

  test("graft_bloom bytes are pinned") {
    check("graft_bloom", Seq(LongType), None, hashRows,
      "40a1c26ed518a3a40f872926c11142566c102711584eee2fd06212a4f4665d89")
  }

  test("graft_hll and graft_hll_merge bytes are pinned") {
    check("graft_hll", Seq(LongType), None, hashRows, Hll)
    checkTwin("graft_hll", hashRows, hllEntry, Hll)
  }

  test("graft_cms and graft_cms_merge bytes are pinned") {
    check("graft_cms", Seq(LongType), None, hashRows, Cms)
    checkTwin("graft_cms", hashRows, cmsEntry, Cms)
  }

  test("graft_qsketch and graft_qsketch_merge bytes are pinned") {
    // values spread over the exact (v < 32) and log-linear ranges
    val rows = (0 until 400).map(i => InternalRow(mix(i) >>> (4 + i % 58)))
    check("graft_qsketch", Seq(LongType), None, rows, QSketch)
    checkTwin("graft_qsketch", rows, qEntry, QSketch)
  }
}
