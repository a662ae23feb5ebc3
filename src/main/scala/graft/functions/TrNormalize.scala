package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The Turkish normalization pipelines as ONE native codegen'd expression:
  * the Column form of the [[TrText]] kernels, and the only one.
  *
  * It generates a single static call per row, so a fused stage (e.g. page
  * synthesis → extract → normalize → block-key) stays inside
  * WholeStageCodegen. Interpreted eval (`nullSafeEval`) and generated code
  * call the same [[TrNormalize.applyMode]]; null in gives null out.
  *
  * `mode` ∈ full | static | punct (N9 / N10 / N11 in SURVEY.md §2.1). */
case class TrNormalize(child: Expression, mode: String) extends UnaryExpression {
  require(TrNormalize.Modes.contains(mode), s"bad mode $mode")
  override def dataType: DataType = StringType
  override def prettyName: String = s"tr_normalize_$mode"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      TrNormalize.applyMode(input.asInstanceOf[UTF8String].toString, mode))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"""UTF8String.fromString(graft.functions.TrNormalize.applyMode($c.toString(), "$mode"))""")

  override protected def withNewChildInternal(newChild: Expression): TrNormalize =
    copy(child = newChild)
}

object TrNormalize {
  val Modes = Set("full", "static", "punct")

  def applyMode(s: String, mode: String): String = mode match {
    case "full"   => TrText.normalizeFullS(s)
    case "static" => TrText.normalizeStaticS(s)
    case _        => TrText.normalizePunctOnlyS(s)
  }

  def full(c: Column): Column = Bridge.column(TrNormalize(Bridge.expression(c), "full"))
  def static(c: Column): Column = Bridge.column(TrNormalize(Bridge.expression(c), "static"))
  def punct(c: Column): Column = Bridge.column(TrNormalize(Bridge.expression(c), "punct"))
}
