package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversions (Spark 4 moved
  * the classic constructors behind the connect/classic split). Used by
  * graft.functions.VecKernels and graft.filters.PayloadScalar to expose
  * custom codegen expressions as Columns. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType`/`TypeCollection` are `private[sql]`, but custom
    * expressions must name them to declare `inputTypes` (the hook the
    * analyzer's ImplicitTypeCasts rule reads to coerce e.g. the
    * `array<decimal>` a SQL `array(0.1, ...)` literal produces). */
  type AbsType = org.apache.spark.sql.types.AbstractDataType
  def typeCollection(ts: AbsType*): AbsType =
    org.apache.spark.sql.types.TypeCollection(ts: _*)
}
