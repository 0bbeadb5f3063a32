package org.apache.spark.sql

import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Bridge into Spark 4's ColumnNode-backed `Column`: the classic
  * Column↔Expression converters are `private[sql]`, so extension
  * libraries expose them through a same-package shim (the standard
  * pattern for custom-Expression libraries on Spark 4). The same shim
  * opens the `private[sql]` entry points the store's driver-side read
  * needs: a DataFrame over an analyzed logical plan, the analyzer, and a
  * Catalyst predicate as a data source filter.
  */
object GraftColumnBridge {
  def toExpr(c: Column): Expression   = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** A DataFrame over `plan`, a plan that is already resolved (a local
    * relation): it is marked analyzed, so the analyzer does not walk it,
    * and a local relation's rows with it, again.
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }

  /** `pred` as a filter condition over `child`, analyzed and checked
    * without a Dataset around it.
    */
  def analyzedFilter(spark: SparkSession, pred: Column, child: LogicalPlan): Expression = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.sessionState.analyzer.executeAndCheck(
      logical.Filter(session.expression(pred), child), new QueryPlanningTracker) match {
      case logical.Filter(cond, _) => cond
    }
  }

  def toSourceFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)
}
