package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's package-private API. Lives in the
  * org.apache.spark.sql package solely to cross the `private[sql]`
  * boundary; keep it to these calls:
  *   - `column`/`expression`, the Column↔Expression converters (the
  *     Spark 4 replacement for the removed `new Column(expr)`
  *     constructor);
  *   - `registerFunction`, a SQL function on a live session;
  *   - `ofRows`, a DataFrame over a logical plan (`Tables` wraps a
  *     memoized relation with it instead of resolving its source again).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL function on a LIVE session (the builder-time path is
    * `SparkSessionExtensions.injectFunction`; an already-built session can
    * only reach the registry through the `private[sql]` sessionState). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** A DataFrame over `plan` in `spark`, analyzed there. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
