package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, TypeCollection}

/** The one bridge between Column code and the project's Catalyst kernels.
  *
  * Spark's Column <-> Expression conversions (`ExpressionUtils.column` /
  * `.expression`) are private to `org.apache.spark.sql`, which is why this
  * object lives under that package. Kernels are built as case classes over
  * the (still unresolved) child expressions and wrapped straight into a
  * Column, so no session function registry is involved: the analyzer
  * resolves the children and runs the kernel's input-type check like any
  * builtin's. */
object KernelColumn {
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analysis-time input check of the embedding kernels: every child must
    * be array<float> or array<double>, else DATATYPE_MISMATCH. (Spark's
    * type-collection check is private to `org.apache.spark.sql` as well.) */
  def checkFloatOrDoubleArrays(children: Seq[Expression]): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(children,
      children.map(_ => TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))))
}
