package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Spark 4 removed the public `new Column(Expression)` constructor; the
 * supported bridge (`ExpressionUtils`, columnNodeSupport.scala) is
 * `private[sql]`. This shim lives in the `org.apache.spark.sql` namespace —
 * the standard extension-library technique (Delta, Sedona, etc. do the
 * same) — to expose Column↔Expression conversion to graft.
 */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** A grouping key as Spark's aggregation evaluates it: -0.0 and NaN
    * normalized (`NormalizeFloatingNumbers`, also `private[sql]`). */
  def groupingKey(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
