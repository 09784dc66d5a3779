package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge for the `private[sql]` Column <-> Expression converters (the
  * supported pattern for libraries contributing native Catalyst
  * expressions without a fork; Spark 4 moved Column internals behind
  * ColumnNode so `new Column(expr)` no longer exists).
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The single-part attribute name behind a plain `col("x")` Column —
    * None for any computed expression (Spark 4 hides the ColumnNode
    * behind `private[sql]`, hence the bridge).
    */
  def plainAttrName(c: Column): Option[String] = c.node match {
    case ua: org.apache.spark.sql.internal.UnresolvedAttribute
        if ua.nameParts.length == 1 => Some(ua.nameParts.head)
    case _ => None
  }

  /** Whether `t` compares strings by their bytes (UTF8_BINARY collation). */
  def binaryEquality(t: org.apache.spark.sql.types.StringType): Boolean =
    t.supportsBinaryEquality
}
