package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Random-hyperplane LSH signature of a float/double vector as a native
  * codegen'd Catalyst expression: bit p is the sign of the projection of the
  * vector onto deterministic plane p, whose weights are ±1 from
  * `hash(p, d) & 1` (Spark Murmur3, seed 42 — no RNG state, reproducible on
  * any executor).
  *
  * Value-identical to the nested-HOF Column construction it replaces
  * (`aggregate(sequence, … zip_with(v, sequence, x*±1) …)`) — including the
  * left-to-right double summation order, the float→double promotion, and the
  * null-element poisoning (any null element nulls every projection, giving
  * signature 0). The HOF shape evaluates interpreted per element per plane,
  * re-entering the lambda machinery 24×dim times per row — the same cliff
  * SimHash hit before [[SimHashUtil.simhash]] (BENCH.md item 6). Here: one tight
  * loop, one cached per-plane seed, two int mixes per (plane, dim).
  *
  * Hand-written, not a `Bridge.staticCall`: it dispatches on float vs
  * double elements at analysis, which a static call chosen by argument
  * class cannot do.
  */
case class HyperplaneSig(child: Expression, planes: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  // child.dataType is unresolved at construction (the Column API builds the
  // expression pre-analysis) — inspect it lazily, and surface a bad type as
  // an analysis-time failure via checkInputDataTypes, not a constructor throw
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig needs array<float|double>, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    HyperplaneUtil.signature(input.asInstanceOf[ArrayData], planes, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HyperplaneUtil.signature($c, $planes, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneUtil {

  def signature(arr: ArrayData, planes: Int, isFloat: Boolean): Long = {
    val n = arr.numElements()
    // null-element poisoning parity: zip_with yields a null product, the
    // aggregate sum goes null, `proj > 0` is null ⇒ every bit stays 0
    var d = 0
    while (d < n) { if (arr.isNullAt(d)) return 0L; d += 1 }
    var sig = 0L
    var p = 0
    while (p < planes) {
      val base = Murmur3_x86_32.hashInt(p, 42) // hash(p, d) = two int mixes
      var proj = 0.0d
      d = 0
      while (d < n) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        val sign = if ((Murmur3_x86_32.hashInt(d, base) & 1) == 1) 1.0d else -1.0d
        proj += x * sign
        d += 1
      }
      // Spark compares doubles nan-safely (NaN > 0 is TRUE in both codegen
      // and interpreted GreaterThan) — a NaN element poisons every plane's
      // sum, and the Column witness then sets every bit; mirror that
      if (proj > 0 || java.lang.Double.isNaN(proj)) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def hyperplaneSig(c: Column, planes: Int): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(c), planes))
}
