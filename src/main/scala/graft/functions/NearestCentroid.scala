package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** IVF nearest-centroid cell assignment as a native codegen'd expression:
  * argmax over `cents` of cosine(vec, centroid), first-max tie-break (cells
  * in ascending order), nan-safe comparison.
  *
  * Value-identical to the literal-array `transform` + `aggregate` fold in
  * `Similarity.assignCells` — including:
  *  - the FLOAT multiply inside the dot product (Spark's `zip_with(x, y,
  *    u*v)` multiplies float×float in float, then promotes each product to
  *    double for the running sum) vs the all-double path for double vectors;
  *  - the division order `dot(v,c) / sqrt(dot(v,v)) / sqrt(dot(c,c))`;
  *  - Spark's nan-safe GreaterThan in the fold: an all-NaN vector scores NaN
  *    against every centroid and lands in cell 0 (NaN beats the -2.0 init
  *    and nothing beats NaN), while a ZERO-NORM vector yields cell -1 — its
  *    cosines are all null (CosineSim's null-on-zero-norm), no cell ever
  *    beats the init (see the vv == 0.0 guard below);
  *  - null-element poisoning (a null element nulls every cosine, so no cell
  *    ever beats the init and the fold returns cell -1).
  *
  * The HOF fold re-enters the lambda interpreter nCells×dim times per row;
  * this is one tight loop with hoisted centroid norms (the same constants
  * Catalyst folds out of the literal-array shape). The centroid matrix is a
  * constructor value, shipped with the serialized expression exactly like
  * the literal array it replaces.
  *
  * Hand-written, not a `Bridge.staticCall`: it dispatches on float vs
  * double elements at analysis, which a static call chosen by argument
  * class cannot do.
  */
case class NearestCentroid(child: Expression, cents: Seq[Seq[Double]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"nearest_centroid needs array<float|double>, got $t")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // float copies for the exact float-multiply path, plus each centroid's
  // norm computed with the same per-element arithmetic the Column fold uses
  @transient private lazy val centsF: Array[Array[Float]] =
    cents.map(_.map(_.toFloat).toArray).toArray
  @transient private lazy val centsD: Array[Array[Double]] =
    cents.map(_.toArray).toArray
  @transient private lazy val centNorms: Array[Double] =
    if (isFloat) centsF.map(c => math.sqrt(c.map(x => (x * x).toDouble).sum))
    else centsD.map(c => math.sqrt(c.map(x => x * x).sum))

  def compute(arr: ArrayData): Int = {
    val n = arr.numElements()
    var d = 0
    while (d < n) { if (arr.isNullAt(d)) return -1; d += 1 } // null poisons all cosines
    // vector norm once (the fold recomputes it per cell to the same value)
    var vv = 0.0d
    d = 0
    while (d < n) {
      if (isFloat) { val x = arr.getFloat(d); vv += (x * x).toDouble }
      else { val x = arr.getDouble(d); vv += x * x }
      d += 1
    }
    // zero-norm vector: CosineSim yields null against every centroid, so no
    // cell ever beats the fold's init — cell -1, exactly like the witness
    if (vv == 0.0d) return -1
    val vNorm = math.sqrt(vv)
    var bestD = -2.0d
    var bestC = -1
    var c = 0
    val k = cents.length
    while (c < k) {
      // zip_with pads the shorter array with nulls: a dimension mismatch
      // nulls the product sum and the cosine, so the cell can never win —
      // mirror by skipping it outright; same for a zero-norm centroid
      // (CosineSim yields null for it)
      val dimOk = (if (isFloat) centsF(c).length else centsD(c).length) == n &&
        centNorms(c) != 0.0d
      if (dimOk) {
        var num = 0.0d
        d = 0
        if (isFloat) {
          val cv = centsF(c)
          while (d < n) { num += (arr.getFloat(d) * cv(d)).toDouble; d += 1 }
        } else {
          val cv = centsD(c)
          while (d < n) { num += arr.getDouble(d) * cv(d); d += 1 }
        }
        val cos = num / vNorm / centNorms(c)
        // Spark nan-safe GreaterThan: NaN beats any non-NaN, never a NaN
        val gt = if (java.lang.Double.isNaN(cos)) !java.lang.Double.isNaN(bestD)
                 else cos > bestD // Java >: false when bestD is NaN — correct
        if (gt) { bestD = cos; bestC = c }
      }
      c += 1
    }
    bestC
  }

  // A NULL input array also yields cell -1, not null: the witness fold's
  // cosines all go null, nothing beats the init, and getField("cell")
  // returns the init's non-null -1 — so this expression is never null
  // (keeps downstream groupBy("cell") total, no null-cell group).
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) -1 else compute(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        int ${ev.value} = ${childGen.isNull} ? -1 : $ref.compute(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  def nearestCentroid(c: Column, cents: Seq[Seq[Double]]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(c), cents))
}
