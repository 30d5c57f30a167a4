package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into `private[sql]` surface needed to build a
  * DataFrame from a custom LogicalPlan (graft.plans.AsOfJoinPlan).
  * Lives in the org.apache.spark.sql package purely for access scope —
  * standard practice for Spark extension libraries; no Spark internals
  * are modified.
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Drain the listener bus — lets tests assert job counts
    * deterministically instead of sleeping (the bus delivers
    * SparkListener events asynchronously). */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The metrics rows of the named `observe` nodes in `df`'s plan, as
    * accumulated by the action `df` itself ran (e.g. its eager
    * `localCheckpoint`). Read straight off the executed plan, so
    * unlike `Observation` it needs no listener event and never
    * initializes the session's observation manager, which does not
    * serialize: a session that had one could no longer ship an MLlib
    * model whose training summary captures it. */
  def observedMetrics(df: DataFrame): Map[String, Row] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.observedMetrics

  /** Release the block-manager storage behind a `localCheckpoint`ed
    * DataFrame. `Dataset.unpersist()` only evicts plan-cache entries
    * registered via `persist()` — a localCheckpoint's blocks live on
    * the checkpointed RDD inside the plan's LogicalRDD leaf, so
    * iterative algorithms that checkpoint per round must unpersist the
    * superseded generation here or storage grows O(rounds × data).
    * Only call once the DataFrame will never be read again: dropped
    * localCheckpoint blocks cannot be recomputed.
    *
    * Accepts ONLY the checkpointed DataFrame itself (plan root is the
    * LogicalRDD), never a derivation of it: matching anywhere in the
    * tree would silently drop blocks of OTHER live checkpointed
    * DataFrames embedded in a derived plan. Non-blocking. */
  def uncheckpoint(df: DataFrame): Unit =
    checkpointRdd(df, "uncheckpoint").unpersist(blocking = false)

  /** The id of the block-manager-resident RDD behind a localCheckpointed
    * DataFrame — lets lifecycle code (SparkEntry.release) identify PINNED
    * index blocks and leave them resident while everything else is
    * unpersisted. Same root-only contract as [[uncheckpoint]]. */
  def checkpointRddId(df: DataFrame): Int =
    checkpointRdd(df, "checkpointRddId").id

  /** The ids of the checkpointed RDDs `ds` reads: those behind the
    * `LogicalRDD` leaves of its analyzed plan, subqueries included. */
  def checkpointLeaves(ds: Dataset[_]): Set[Int] =
    ds.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed
      .collectWithSubqueries { case lr: execution.LogicalRDD => lr.rdd.id }
      .toSet

  /** True when `df` is itself a localCheckpointed DataFrame — the
    * root-only test [[uncheckpoint]] and [[checkpointRddId]] apply. */
  def isCheckpointed(df: DataFrame): Boolean = rootRdd(df).isDefined

  private def rootRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    analyzedPlan(df) match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  private def checkpointRdd(df: DataFrame, op: String) =
    rootRdd(df).getOrElse(throw new IllegalArgumentException(
      s"$op expects the localCheckpointed DataFrame itself (root " +
        s"LogicalRDD), got plan root ${analyzedPlan(df).getClass.getSimpleName}"))
}
