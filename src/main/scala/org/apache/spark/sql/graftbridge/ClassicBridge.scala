package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** The `private[sql]`/`protected[sql]` seams the engine needs,
  * re-exported from a subpackage of `org.apache.spark.sql` (the
  * standard connector idiom — Delta, Iceberg, and XSQL all ship exactly
  * this bridge): building a `DataFrame` from an analyzed `LogicalPlan`
  * (the MERGE source arrives as a plan, not a table name), wrapping a
  * resolved Catalyst `Expression` into a public `Column`, and the V1
  * filter translation data skipping rests on ([[graft.engine.Skipping]]).
  * Nothing else from the internal surface leaks through here. */
object ClassicBridge {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Spark's V1 filter translation (`protected[sql]`): the one way a
    * Catalyst predicate becomes a `sources.Filter` for data skipping —
    * the SQL scan receives exactly these, pushed. It refuses a cast on
    * the column side. */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)
}
