package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Column <-> Catalyst expression conversion for graft's own expressions.
 * Spark keeps the converters `private[sql]` (`classic.ExpressionUtils`);
 * this object lives under `org.apache.spark.sql` only to re-export them,
 * so a Column helper can build its expression case class directly instead
 * of naming it through a session's function registry.
 */
object ExpressionColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
