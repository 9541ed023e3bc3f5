package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** A Catalyst expression as a `Column`, for the few expressions the
  * public Column API cannot build (e.g. an `InSet` of any size). Spark
  * keeps this conversion package-private, so it lives in Spark's package. */
object Columns {
  def of(e: Expression): Column = ExpressionUtils.column(e)
}
