package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Columns over Catalyst expressions, in the package-private factory
  * style of Spark's own `DatasetFactory`: `classic.ExpressionUtils` is
  * package-private to Spark. graft's native kernels (kernel-table rows
  * and kernel classes) are built through it as expressions, so they
  * resolve in any session, whatever its function registry holds. */
object ExpressionColumn {

  /** The Column that evaluates `e`. */
  def apply(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The (possibly unresolved) Catalyst expression behind `c`. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
