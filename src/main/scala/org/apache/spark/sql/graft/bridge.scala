package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column↔Expression conversion (the classic-mode
  * internals Spark 4 hides behind the Connect-compatible Column API). Keeping
  * this in one tiny file bounds our internal-API surface. */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-bind a DataFrame's logical plan to another session of the SAME
    * SparkContext (shared catalog/cache, independent SQLConf) — the
    * per-query conf-scoping primitive: execute one query with e.g. AQE
    * off without mutating the shared session's conf under concurrent
    * planners. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** Drain the async SparkListener bus (its `waitUntilEmpty` is
    * `private[spark]`) — lets job-count plan pins assert deterministically
    * instead of sleeping a fixed interval and hoping the events landed. */
  def waitListenerBus(sc: org.apache.spark.SparkContext,
                      timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** Register a JVM shutdown hook that runs BEFORE SparkContext's own stop
    * hook (Spark's `ShutdownHookManager` runs higher priorities first; the
    * manager is `private[spark]`). */
  def addShutdownHookBeforeSparkContext(hook: () => Unit): Unit =
    org.apache.spark.util.ShutdownHookManager.addShutdownHook(
      org.apache.spark.util.ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY + 1)(hook)

  /** Register native expression builders as temp functions on a live session
    * (the imperative twin of `spark.sql.extensions` injection). */
  def registerFunctions(
      spark: org.apache.spark.sql.SparkSession,
      fns: Seq[(org.apache.spark.sql.catalyst.FunctionIdentifier,
        org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
        Seq[Expression] => Expression)]): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    fns.foreach { case (ident, _, builder) =>
      registry.createOrReplaceTempFunction(ident.funcName, builder, "built-in")
    }
  }
}
