package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity of two float/double vectors as a native codegen'd
  * expression — the scoring kernel of every ANN path (brute-force top-k,
  * threshold pairs, IVF probe + candidate scoring, embedding-dedup
  * verification).
  *
  * Value-identical to the Column construction it replaces
  * (`dot(a,b)/sqrt(dot(a,a))/sqrt(dot(b,b))` with `dot` =
  * `aggregate(zip_with(x,y,u*v), 0.0d, acc+p)`), including:
  *  - float×float products multiply in FLOAT then promote to double for the
  *    running sum (Spark's Multiply on two floats); any double side promotes
  *    the product to an all-double multiply;
  *  - left-to-right summation order and the two sequential divisions;
  *  - null poisoning: a null element anywhere, or a length mismatch
  *    (zip_with pads the shorter array with nulls), nulls the whole result.
  *
  * ONE deliberate divergence: a zero-norm vector. Under Spark 4's ANSI
  * default the Column shape's `Divide` THROWS (DIVIDE_BY_ZERO, measured in
  * both eval paths) — one degenerate embedding would kill a whole 100-TB
  * job. This expression returns NULL instead: a null fails every `>=`
  * threshold filter and sorts LAST under the `desc` top-k windows, so the
  * row scores nothing and matches nothing. (NaN would do the OPPOSITE —
  * Spark treats NaN as greater than every numeric, so a NaN cosine would
  * pass every threshold and rank first in every top-k.) The property test
  * pins both behaviors so the divergence stays a decision, not an accident.
  *
  * Inputs must share an element type (both float or both double): a mixed
  * pair multiplies float×double in double while the Column shape's
  * float×float products round to float first, which would silently break
  * the bit-identity the oracle hashes rely on — rejected at analysis.
  *
  * The HOF shape re-enters the lambda interpreter 3×dim times per pair
  * (dot(a,b), dot(a,a), dot(b,b)); this is one fused loop.
  *
  * Hand-written, not a `Bridge.staticCall`: it dispatches on float vs
  * double elements at analysis, which a static call chosen by argument
  * class cannot do.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elem(t: DataType): Option[DataType] = t match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (elem(left.dataType), elem(right.dataType)) match {
      case (Some(l), Some(r)) if l == r => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim needs two arrays of the SAME float|double element type, " +
          s"got ${left.dataType} / ${right.dataType}")
    }

  private lazy val leftFloat = left.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }
  private lazy val rightFloat = right.dataType match {
    case ArrayType(FloatType, _) => true; case _ => false
  }

  /** Boxed so `null` can signal the poisoned (null-element / length
    * mismatch) case to both eval paths. */
  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null // zip_with pads the shorter with nulls
    var d = 0
    while (d < n) {
      if (a.isNullAt(d) || b.isNullAt(d)) return null
      d += 1
    }
    val floatMul = leftFloat && rightFloat
    var ab = 0.0d; var aa = 0.0d; var bb = 0.0d
    d = 0
    while (d < n) {
      if (floatMul) {
        val x = a.getFloat(d); val y = b.getFloat(d)
        ab += (x * y).toDouble; aa += (x * x).toDouble; bb += (y * y).toDouble
      } else {
        val x = if (leftFloat) a.getFloat(d).toDouble else a.getDouble(d)
        val y = if (rightFloat) b.getFloat(d).toDouble else b.getDouble(d)
        ab += x * y; aa += x * x; bb += y * y
      }
      d += 1
    }
    // zero-norm: the HOF shape throws ANSI DIVIDE_BY_ZERO here; null is the
    // only value that genuinely "matches nothing" (NaN sorts FIRST desc and
    // passes >= filters under Spark's NaN-greatest semantics)
    if (aa == 0.0d || bb == 0.0d) return null
    java.lang.Double.valueOf(ab / math.sqrt(aa) / math.sqrt(bb))
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (r == null) null else r.doubleValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSim].getName)
    val boxed = ctx.freshName("cosRes")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $boxed = $ref.compute($a, $b);
      if ($boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $boxed.doubleValue(); }
    """)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSim(Bridge.expression(a), Bridge.expression(b)))
}
