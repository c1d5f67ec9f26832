package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column↔Expression converters (the
  * Spark 4 classic API hides `Column.expr`). Lives under the
  * `org.apache.spark.sql` package purely for access; all engine code calls
  * through here. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `Dataset.ofRows` for custom logical nodes (the classic API keeps it
    * `private[sql]`): wrap a hand-built [[LogicalPlan]] as a DataFrame on
    * the session's state, exactly as `DataFrame` operators do. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `schema` with every field, array element and map value nullable at
    * every depth — the form a Parquet read reports (`private[spark]`). */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
