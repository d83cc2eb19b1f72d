package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into package-private Spark factory methods, the standard pattern
  * for libraries that compose planner rewrites out of DataFrame operators
  * (a Dataset over an existing logical plan, a Column over a raw
  * expression). Used by the large-object KNN planner path.
  */
object DatasetBridge {
  /** Unload all registered state-store providers (private[sql]
    * StateStore.unloadAll): session hygiene between short-lived
    * streaming queries — dead providers otherwise linger until the 60 s
    * maintenance sweep. See StreamingOps.drainStateStores. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The hints on `plan`'s top chain of unary nodes, outermost first
    * (the private[sql] EliminateResolvedHint.extractHintsFromPlan). */
  def hints(plan: LogicalPlan): Seq[org.apache.spark.sql.catalyst.plans.logical.HintInfo] =
    org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint.extractHintsFromPlan(plan)._2

  /** `plan` without the hints on its top chain of unary nodes. */
  def withoutHints(plan: LogicalPlan): LogicalPlan =
    org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint.extractHintsFromPlan(plan)._1

  def expr(c: Column): Expression = ExpressionUtils.expression(c)

  /** True for a file or directory name Spark's file listing skips (the
    * private[spark] HadoopFSUtils.shouldFilterOutPathName): a leading `_`
    * or `.`, but not the `_metadata`/`_common_metadata` summaries. */
  def hiddenFromListing(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** DataFrame over an RDD of UnsafeRows matching `schema` (the
    * private[sql] internalCreateDataFrame — used by ScalableRank to
    * re-enter DataFrame land after a per-partition index pass). */
  def internalDf(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)
}
