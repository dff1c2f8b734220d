package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column↔Expression converters. Spark 4 made
  * `Column` implementation-agnostic; libraries that define native Catalyst
  * expressions need this one hop (placed under the sql package namespace
  * for access — the standard pattern for Spark extension libraries). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the `private[sql]` state-store registry. One-shot streaming
  * drivers unload the providers they leave behind in the process-wide
  * registry, so long-lived embeddings running many finite replays (the
  * bench, a test suite, a service) don't accumulate every past query's
  * in-memory state maps — the next stateful query reloads from its
  * checkpoint as usual. */
object StateStoreBridge {
  def unloadAll(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()
}

/** Bridge to the `private[sql]` plan↔DataFrame converters — what a
  * library defining its own logical operators (e.g.
  * [[graft.plans.AsOfJoinPlan]]) needs to hand a custom plan back to the
  * session as an ordinary DataFrame. */
object PlanBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge to the `private[sql]` session cloner ([[graft.util.Sessions]]). */
object SessionBridge {
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
