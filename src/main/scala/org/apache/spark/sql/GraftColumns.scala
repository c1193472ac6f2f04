package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** A Column over a Catalyst expression. The public Column API has no
  * such constructor; the `Kernels` Column APIs use this one to pass a
  * kernel's state already built, as an `ObjectType` literal.
  */
object GraftColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
