package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one bridge into Spark's sql-private API (the Column↔Expression
  * converters and `classic.Dataset.ofRows` are `private[sql]` in Scala
  * signature only — stable public bytecode). Confined to this one file
  * so the rest of the engine stays on public API.
  */
object GraftInternals {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Turns graft's custom logical nodes (plans/AsOfJoin, Sessionize,
    * CosineTopK) into DataFrames — the standard door for libraries
    * that add whole operators; reflection would trade this
    * compile-time check for a runtime one. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Register a native-expression builder into the LIVE session's
    * function registry (temp function) — the runtime-plugin seam
    * (graft.Plugins); `sessionState` is `private[sql]`, reachable
    * here. */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Drain the async listener bus so a test listener has seen every
    * completed task's metrics before asserting on them (the bus
    * dispatches on its own thread; `private[spark]`, reachable from
    * this subpackage). */
  def flushListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** (action, duration ns) of a SQL execution that ran a named action
    * (`collect`, `count`, `toLocalIterator`, a write) in `spark`: the
    * filter of Spark's own ExecutionListenerBus. `executionName`,
    * `duration` and `qe` are `private[sql]` vars Spark sets before
    * posting the event. */
  def namedAction(e: execution.ui.SparkListenerSQLExecutionEnd,
      spark: SparkSession): Option[(String, Long)] =
    e.executionName.filter(_ => e.qe.sparkSession eq spark).map(_ -> e.duration)

  /** Unload every loaded streaming state-store provider and stop the
    * maintenance thread (they restart lazily on the next stateful
    * query). A finished stream's providers otherwise linger up to the
    * maintenance interval holding their version maps — measured here:
    * a stream-stream join's leftover state inflated the NEXT query's
    * GC enough to turn a 2.5 s GraphX fixed-point into 18 s. */
  def stopStateStores(): Unit =
    execution.streaming.state.StateStore.stop()
}
