package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's package-private Column <-> Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils is private[sql] in
  * Spark 4). Standard technique for libraries shipping native Catalyst
  * expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` normalised as grouping normalises a key (−0.0 to 0.0, one NaN),
    * through nested arrays and structs; `private[sql]` in Spark 4.
    */
  def groupingKey(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
