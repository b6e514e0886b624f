package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for Spark 4's connect-split API, where the
  * conversion utilities are `private[sql]` (same factory pattern as the
  * public examples in SNIPPETS.md [2]/[3]).
  */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
