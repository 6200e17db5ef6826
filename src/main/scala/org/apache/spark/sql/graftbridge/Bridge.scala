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

  /** `df` planned ONCE and then run as often as a caller asks: each
    * [[run]] hands `job` the same physical plan's RDD, and the job it
    * starts is tracked as a new SQL execution (listeners and the UI see
    * it, with the plan's metrics reset to that run's). Spark MLlib's
    * iterative trainers aggregate over one input RDD the same way; an
    * iterative loop that rebuilt a DataFrame per round paid planning, and
    * AQE's split of each shuffle into two jobs, every round. A single
    * fold is the same handle run once: a per-partition reduce the driver
    * merges is one job and one stage, where a `distinct().collect()` is
    * an exchange and, under AQE, two jobs.
    */
  final class PlannedScan(df: org.apache.spark.sql.DataFrame) {
    private val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    private lazy val rdd = qe.executedPlan.execute()
    def schema: org.apache.spark.sql.types.StructType = qe.executedPlan.schema

    def run[T](job: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] => T): T =
      org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
        qe.executedPlan.foreach(_.metrics.valuesIterator.foreach(_.reset()))
        job(rdd)
      }
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
