package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** Minimal bridge into `private[sql]` Column↔Expression conversion APIs
  * (Spark 4.x moved the `new Column(expr)` constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`). Lives under
  * `org.apache.spark.sql` so the package-private members are visible. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A call of the static `method` of the Scala object `kernel` (through its
    * static forwarder) as Spark's own `StaticInvoke`: interpreted `eval` and
    * generated code call the same method, one call per row inside
    * whole-stage codegen. Each argument comes with its declared input type,
    * so the analyzer casts or rejects a wrong one, as for Spark's built-in
    * functions. A null argument gives a null result unless `propagateNull`
    * is false, in which case the kernel receives the null; kernels never
    * return null. */
  def staticCall(kernel: AnyRef, method: String, returns: DataType,
      args: Seq[(Column, AbstractDataType)], propagateNull: Boolean = true): Column =
    column(StaticInvoke(kernel.getClass, returns, method, args.map(a => expression(a._1)),
      args.map(_._2), propagateNull = propagateNull, returnNullable = false))
}
