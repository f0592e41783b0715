package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Opens Spark's package-private Expression → Column constructor to
  * graft's SQL-text front door, which runs parsed expressions as
  * Columns. */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
}
