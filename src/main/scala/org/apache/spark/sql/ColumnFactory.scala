package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Converts between Columns and Catalyst expressions. The converters
  * (`classic.ExpressionUtils`) are private to this package; graft's native
  * expressions use them to be built as ordinary Columns, which plan the
  * same in every session, with or without a function registry entry.
  */
object ColumnFactory {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
