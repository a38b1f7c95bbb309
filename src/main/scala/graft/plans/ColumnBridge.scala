package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}

/**
 * Column <-> Catalyst Expression bridge. Spark 4 made `Column` plan-agnostic
 * and hid the classic converters behind `private[sql]`; this object lives in
 * the sql package namespace to re-expose exactly the two conversions our
 * join-condition analyzer needs.
 */
object ColumnBridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def output(df: DataFrame): Seq[Attribute] =
    ClassicConversions.castToImpl(df).queryExecution.analyzed.output

  /** Re-root a frame's logical plan onto another session sharing the same
    * SparkContext — `foreachBatch` hands batch frames bound to a per-query
    * session CLONE, so a temp view registered on them is invisible to the
    * caller's session; re-rooting a materialized (localCheckpointed) plan
    * makes the view land in the right catalog. */
  def onSession(spark: org.apache.spark.sql.SparkSession, df: DataFrame): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      ClassicConversions.castToImpl(df).queryExecution.logical)

  /** Fully-resolved Catalyst expression for `c` against `df`'s schema.
    * `expr(c)` alone yields a lazy `ColumnNodeExpression` wrapper on Spark 4
    * (Columns are plan-agnostic), so tree analysis needs a real analysis
    * pass; the plan is only analyzed, never executed. */
  def analyzedExpr(df: DataFrame, c: Column): Expression = {
    val plan = ClassicConversions.castToImpl(df.select(c)).queryExecution.analyzed
    plan.expressions.head match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case e => e
    }
  }
}

/** Listener-bus access hidden behind `private[spark]`: Spark delivers
  * listener events asynchronously, so a listener's count of an action's
  * jobs is complete only once the bus has drained. */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
