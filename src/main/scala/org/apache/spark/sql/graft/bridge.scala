package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge to Spark's `private[sql]` Column⇄Expression conversions
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft's native Catalyst
  * expressions can be exposed as user-facing `Column`s. Standard extension
  * practice for libraries adding expressions; nothing else from the private
  * API is touched.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
