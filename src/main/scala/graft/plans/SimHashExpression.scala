package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_simhash16(text)` — 16-bit SimHash of a whitespace-tokenized text
  * column in ONE pass per row.
  *
  * Bit-identical to the relational formulation in `operators.Dedup`
  * (explode tokens → md5 → 16 per-bit ±1 sums → sign bits): same
  * tokenization (single-space split keeping trailing empties), same token
  * hash (first 8 md5 hex chars as an unsigned 32-bit value), same majority
  * vote. But where the relational form EXPLODES every token into a row and
  * shuffles 16 partial sums per doc through a groupBy, this evaluates inside
  * the scan projection — the signature of a 100 TB corpus costs one narrow
  * pass, no shuffle at all.
  *
  * CodegenFallback: the md5 loop stays an interpreted call inside the
  * surrounding whole-stage-codegen'd projection (the digest dominates; a
  * doGenCode version would save only the call overhead).
  */
case class SimHash16(child: Expression) extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_simhash16"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SimHashImpl.eval(input.asInstanceOf[UTF8String].toString, bits = 16)

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

/** `graft_simhash60(text)` — the 60-bit variant (60 = the md5-prefix width
  * of graft's portable integer hash; fits a BIGINT with headroom). This is
  * the library-surface fingerprint width ([[graft.functions.TextFunctions
  * .simhash]]); bit-identical to the portable HOF fold kept there as
  * `simhashPortable` (FunctionsSpec pins the equivalence), but one
  * interpreted pass per row instead of a 60-slot vote array rebuilt per
  * token by the HOF evaluator.
  */
case class SimHash60(child: Expression) extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "graft_simhash60"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    SimHashImpl.eval(input.asInstanceOf[UTF8String].toString, bits = 60)

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** Shared one-pass SimHash evaluator.
  *
  * Token hash widths mirror the portable md5-prefix hashes exactly:
  *  - 16-bit form votes with the first 8 hex chars (4 digest bytes,
  *    unsigned 32-bit) — only bits 0..15 vote;
  *  - 60-bit form votes with the first 15 hex chars (7.5 digest bytes,
  *    unsigned 60-bit).
  */
private[plans] object SimHashImpl {
  def eval(text: String, bits: Int): Long = {
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](bits)
    // split(" ", -1): trailing empty tokens kept, matching Spark's
    // split(text, ' ') HOF-side tokenization exactly
    val tokens = text.split(" ", -1)
    var t = 0
    while (t < tokens.length) {
      md.reset()
      val digest = md.digest(tokens(t).getBytes("UTF-8"))
      val th =
        if (bits == 16)
          // first 8 hex chars == first 4 digest bytes, as unsigned 32-bit
          ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
            ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        else {
          // first 15 hex chars == 7 full bytes + the HIGH nibble of byte 7,
          // as unsigned 60-bit (matches conv(substring(md5(w),1,15),16,10))
          var v = 0L
          var i = 0
          while (i < 7) { v = (v << 8) | (digest(i) & 0xffL); i += 1 }
          (v << 4) | ((digest(7) & 0xf0L) >> 4)
        }
      var b = 0
      while (b < bits) {
        if (((th >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
