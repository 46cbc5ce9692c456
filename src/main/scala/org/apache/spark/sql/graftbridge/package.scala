package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge exposing Spark's package-private Column ⇄ Expression
  * conversion (and LogicalPlan → DataFrame, for custom operators) to
  * the graft library — the standard technique for third-party
  * Catalyst extensions (custom expressions and plans need to enter
  * the public API somewhere) — plus the CacheManager's plan count,
  * Verify's leak line. Kept to exactly these four one-liners. */
package object graftbridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
  def toDataFrame(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
  def cachedPlans(s: SparkSession): Int =
    s.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
