package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Access to `private[sql]` Spark internals.
  *
  * Spark 4 moved `Column` to a backend-agnostic ColumnNode representation;
  * the converters (`classic.ExpressionUtils`) are `private[sql]`. Custom
  * Catalyst expressions still need them, so this object lives under
  * `org.apache.spark.sql` to satisfy the package-private access — the
  * standard pattern for out-of-tree Catalyst extensions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session that starts with a copy of `spark`'s runtime conf (and its
    * temp views, UDFs and listeners) and shares its SparkContext and cache;
    * conf set on the copy does not reach `spark`. `newSession()` would
    * start from the static defaults instead. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
