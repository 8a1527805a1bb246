package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into Spark's `private[sql]` Column↔Expression
  * converters. Spark 4 made `Column` wrap an opaque ColumnNode; the
  * supported way for extension libraries to expose native Catalyst
  * expressions as Columns is exactly this shim (cf. the public
  * `org.apache.spark.sql` package objects used by Delta/Qbeast-style
  * extensions). This is the only file that lives outside the graft
  * namespace, and it contains no logic.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (classic Dataset.ofRows
    * is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Spark's ANSI ARITHMETIC_OVERFLOW error for an overflow caught
    * outside generated code (the error factory is private[sql]). */
  def arithmeticOverflow(e: ArithmeticException): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors
      .arithmeticOverflowError(e.getMessage)

  /** The analyzed logical plan behind a DataFrame. */
  def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}
