package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine's 32-bit content code:
  * first 4 md5 bytes of the UTF-8 input as a Long in [0, 2^32) —
  * exactly [[graft.core.Ids.code32]], but codegen'd so it runs inside
  * whole-stage codegen instead of a deserializing Scala closure
  * (SURVEY §7.3: promote the hottest scalar to an Expression).
  *
  * SQL-reproducible (the oracle contract): conv(substr(md5(x),1,8),16,10).
  */
case class Code32(child: Expression) extends StringToLongExpr {
  override def prettyName: String = "graft_code32"

  override protected def nullSafeEval(input: Any): Any =
    Code32Impl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Code32Impl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Code32 =
    copy(child = newChild)
}

/** Static implementation reachable from generated Java. */
object Code32Impl {
  def compute(s: UTF8String): Long = {
    val b = s.getBytes
    graft.core.Ids.code32(b, 0, b.length)
  }
}

/** The one registry of the engine's native functions. */
object GraftFunctions {
  private def unary(name: String, cls: Class[_], build: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), cs => build(cs.head))

  val descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    unary("graft_code32", classOf[Code32], Code32),
    unary("graft_simhash32", classOf[Simhash32], Simhash32),
    unary("graft_fingerprint", classOf[Fingerprint], Fingerprint),
    unary("graft_nfc", classOf[Nfc], Nfc),
    (FunctionIdentifier("graft_min_ids"),
      new ExpressionInfo(classOf[BoundedMinIds].getName, "graft_min_ids"), BoundedMinIds.build))

  /** Registers every native function on `spark`'s session (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
