package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface — the sanctioned way for libraries to
  * reach it (same pattern Spark's own connectors use): the Column ↔
  * Expression converters for custom Catalyst expressions, and the session
  * clone + plan rebind behind [[graft.util.Sessions.scoped]].
  */
object GraftExpressionBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A copy of `s` with its own SQL conf, temp views and streaming query
    * manager, sharing the SparkContext, cache and session listeners.
    * Unlike `newSession()` it keeps the caller's runtime confs and its
    * `QueryExecutionListener`s.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `s`: later planning of the result
    * runs under `s`'s confs, wherever `df` was built.
    */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)
}
