package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The one bridge between the engine's native Catalyst expressions and the
  * Column API. Spark keeps `classic.ExpressionUtils` package-private, so
  * this object lives in `org.apache.spark.sql` and re-exports its two
  * conversions. A Column built here carries the expression itself: it
  * registers nothing on any session and resolves against whichever
  * session's DataFrame it is applied to.
  */
object NativeColumn {
  /** `e` as a Column; unresolved children resolve at analysis. */
  def apply(e: Expression): Column = ExpressionUtils.column(e)

  /** The (possibly unresolved) expression behind `c`. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
