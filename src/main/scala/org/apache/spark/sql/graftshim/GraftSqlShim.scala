package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ⇄ Expression converters, needed
  * to expose custom Catalyst expressions (graft.functions) as Columns.
  * Lives under org.apache.spark.sql for access.
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The error Spark's ANSI cast raises when `value` of type `from` does
    * not fit `to` (`CAST_OVERFLOW`) — for kernels that replace such a
    * cast and must fail the same way.
    */
  def castOverflow(
      value: Any,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType
  ): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.castingCauseOverflowError(value, from, to)

  /** Block until all queued listener events are delivered (`listenerBus`
    * is `private[spark]`) — metrics tools must drain before reading their
    * accumulated counters or they race the async bus.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A local relation over Catalyst rows the driver already holds — what
    * `createDataFrame` builds from `Row`s, without boxing them first.
    */
  def localRelation(
      spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        rows
      )
    )

  /** Run `body` on `exec` with the caller's active session and local
    * properties (job tags, job group) — Spark's own
    * `SQLExecution.withThreadLocalCaptured`, so listeners attribute the
    * jobs `body` launches as if the caller had run them.
    */
  def withThreadLocalCaptured[T](
      spark: org.apache.spark.sql.SparkSession,
      exec: java.util.concurrent.ExecutorService
  )(body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution
      .withThreadLocalCaptured(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], exec)(body)

  /** Register a function into an existing (classic) session's registry —
    * the post-creation counterpart of SparkSessionExtensions.injectFunction.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
