package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Classic-API bridge: Spark 4's `Column` no longer exposes `.expr`
  * publicly (Connect-compatible façade); `ExpressionUtils` does the
  * conversion but is `private[sql]`, so this one-file shim re-exports the
  * two functions the engine needs for registering custom expressions. */
object ColumnBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)
}

/** Custom-LogicalPlan bridge: wrapping a hand-built logical node back into
  * a DataFrame needs `Dataset.ofRows`, which is `private[sql]` in the
  * classic implementation — same shim pattern as [[ColumnBridge]]. */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
}

/** Planner-conf bridge: size-gated operator dispatch needs the SAME
  * broadcast threshold the planner uses; `sessionState` is `private[sql]`,
  * hence this shim (the string-conf form would re-implement byte-suffix
  * parsing the session already did). */
object ConfBridge {
  def autoBroadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold
}

/** Registers [[graft.functions.GraftExtensions]]' SQL functions on an
  * ALREADY-BUILT session (the extensions hook only runs at session build
  * time; `sessionState` is `private[sql]`, hence this bridge). Same builder
  * triples as the extensions path — one definition, two wire-ups. */
object FunctionInstaller {
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.functions.GraftExtensions.functions.foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }
}

/** Listener-bus bridge: the bus is asynchronous, so stage metrics and
  * query-execution callbacks land after the action that caused them
  * returns. `waitUntilEmpty` blocks until every event posted so far has
  * been delivered — the exact drain measurement needs — but it is
  * `private[spark]`. Throws TimeoutException if the bus stays busy. */
object ListenerBusBridge {
  def waitUntilEmpty(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
