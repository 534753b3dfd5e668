package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Wraps a Catalyst expression as a Column and back. Spark SQL keeps
  * `classic.ExpressionUtils` package-private, so this shim lives in
  * Spark's package (as [[RddFrames]] does). Library code uses it to call
  * its own expressions without a function registry lookup. */
object ExpressionColumns {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
