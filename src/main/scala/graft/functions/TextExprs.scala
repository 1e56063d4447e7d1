package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd text-analysis scalars: the whole simhash/fingerprint
  * computation runs inside whole-stage codegen via a static call, with no
  * object deserialization — same results as the TextStats Scala twins
  * (asserted in Code32Spec).
  */
abstract class StringToLongExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
}

/** 32-bit SimHash over md5-derived word codes == TextStats.simhash32. */
case class Simhash32(child: Expression) extends StringToLongExpr {
  override def prettyName: String = "graft_simhash32"
  override protected def nullSafeEval(input: Any): Any =
    TextExprImpl.simhash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.simhash32($c)")
  override protected def withNewChildInternal(newChild: Expression): Simhash32 =
    copy(child = newChild)
}

/** Polynomial document fingerprint == TextStats.fingerprint. */
case class Fingerprint(child: Expression) extends StringToLongExpr {
  override def prettyName: String = "graft_fingerprint"
  override protected def nullSafeEval(input: Any): Any =
    TextExprImpl.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): Fingerprint =
    copy(child = newChild)
}

/** Unicode NFC normalization (UAX #15 canonical composition via
  * java.text.Normalizer) — the pre-tokenization hygiene pass every text
  * pipeline runs before hashing/dedup/tokenizing, since the SAME visible
  * text arrives from the web in both composed and decomposed forms and
  * every content hash in this engine would otherwise split on it. A
  * native expression (not a UDF) so the normalization stays inside
  * whole-stage codegen; the ASCII fast path returns the input buffer
  * untouched (web corpora are mostly ASCII — no String round-trip).
  * Cross-engine checkable: DuckDB's `nfc_normalize` implements the same
  * standard form (q_normalize pins md5 equality of the outputs).
  */
case class Nfc(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_nfc"
  override protected def nullSafeEval(input: Any): Any =
    TextExprImpl.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextExprImpl.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): Nfc =
    copy(child = newChild)
}

/** Static impls reachable from generated Java. Delegates to the TextStats
  * reference implementations so expression and typed paths cannot drift.
  */
object TextExprImpl {
  def simhash32(s: UTF8String): Long =
    graft.core.text.TextStats.simhash32(s.toString)
  def fingerprint(s: UTF8String): Long =
    graft.core.text.TextStats.fingerprint(s.toString)

  def nfc(s: UTF8String): UTF8String = {
    // ASCII is NFC by definition: skip the String round-trip entirely
    val n = s.numBytes
    var i = 0
    var ascii = true
    while (ascii && i < n) { if ((s.getByte(i) & 0x80) != 0) ascii = false; i += 1 }
    if (ascii) s
    else {
      val str = s.toString
      if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
    }
  }
}
