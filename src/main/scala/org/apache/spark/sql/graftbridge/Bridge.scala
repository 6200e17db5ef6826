package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge for graft's native Catalyst expressions.
  * ExpressionUtils is private[sql], so this one-liner lives in a
  * subpackage of org.apache.spark.sql — the conventional shim for
  * extension libraries (cf. public Spark extension projects).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Collect a frame's rows as Catalyst rows (UnsafeRow copies), one
    * tracked SQL execution — `Dataset.collect` without the Row decode.
    */
  def collectInternal(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(
      qe.executedPlan.executeCollect())
  }

  /** Register a SQL function on an ALREADY-RUNNING session (extensions
    * only apply at session construction; sessionState is private[sql]).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
