package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column↔Expression converters —
  * the standard pattern for extension libraries that ship custom
  * Catalyst expressions (the public API deliberately hides the classic
  * backend's Expression plumbing since Spark 4). Nothing else in graft
  * lives in the Spark namespace. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan (custom
    * operator entry points — `Dataset.ofRows` is private[sql]). */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently append a planner strategy to a live session (the
    * runtime-registration path; `spark.sql.extensions` is the
    * config-time path). */
  def addStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s))
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ s
  }

  /** Per-reduce-partition COMPRESSED map-output bytes of one finalized
    * shuffle stage — the exact per-partition numbers AQE's skew-join
    * detector thresholds on (`MapOutputStatistics` is private[spark],
    * so the unwrap lives here; `graft.PlanAudit.skewAdvice` reads it,
    * and the compressed-vs-decompressed blind factor it corrects for
    * is in PLANS.md "Round-15: the AQE blind factor"). */
  def mapOutputBytes(
      stage: execution.adaptive.ShuffleQueryStageExec): Option[Array[Long]] =
    stage.mapStats.map(_.bytesByPartitionId)

  /** Drain the shared listener bus — QueryExecutionListener events are
    * delivered asynchronously, so an audit that registered one must
    * flush before reading its recordings (`waitUntilEmpty` is
    * private[spark]; the driver-budget gate in `graft.PlanAudit` is
    * the consumer). */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Idempotently append a logical optimizer rule to a live session. */
  def addOptimization(
      spark: SparkSession,
      r: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r))
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ r
  }
}
