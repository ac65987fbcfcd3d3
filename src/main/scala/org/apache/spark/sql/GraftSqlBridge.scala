package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}

/** Column ⇄ Expression and plan ⇄ DataFrame bridge for graft.
  *
  * Spark 4 made `Column` implementation-agnostic (it wraps a ColumnNode,
  * not an Expression) and scoped the classic converters `private[sql]`;
  * this shim — compiled into the sql package, the conventional extension
  * point for libraries shipping custom expressions — re-exposes the two
  * conversions needed to use a custom [[Expression]] from the public
  * DataFrame API, and the parse/`Dataset.ofRows` pair a SQL front end
  * needs to run a parsed plan it has rewritten.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Parse one statement with `spark` active, so its conf governs the
    * parse (a `TIMESTAMP '…'` literal converts in its session zone).
    */
  def parse(spark: SparkSession, sql: String): LogicalPlan =
    spark.withActive(spark.sessionState.sqlParser.parsePlan(sql))

  /** The DataFrame of `plan` on `spark`; a command runs here, eagerly. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)

  /** The analyzed plan of `df`, to splice into another statement's plan. */
  def plan(df: DataFrame): LogicalPlan =
    ClassicConversions.castToImpl(df).queryExecution.analyzed
}
