package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Column<->Expression converters in Spark 4
  * (Column no longer wraps an Expression directly) and the
  * `private[spark]` nullable view of a schema that every file read
  * applies. Lives in the org.apache.spark.sql package purely for access;
  * keep it minimal. */
object GraftShim {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def asNullable(s: StructType): StructType = s.asNullable
}
