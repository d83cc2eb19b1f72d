package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.DatasetBridge
import graft.joins.SpatialJoinStrategy

/** Spatial joins of the types the index joins cannot run whole: a LEFT
  * OUTER / SEMI / ANTI, RIGHT OUTER or FULL OUTER join with no broadcast
  * build side (`SpatialJoinStrategy.buildSide` is None: no non-preserved
  * side fits the broadcast threshold or each is hinted SHUFFLE_HASH /
  * SHUFFLE_MERGE; a FULL OUTER join preserves both sides, so it is
  * composed at every size). `TaggedJoin` composes each around a plain
  * logical INNER join, which `SpatialJoinStrategy` then plans: the
  * broadcast index join when a side fits, the partitioned index join
  * otherwise. Without this rule such a join plans a quadratic
  * BroadcastNestedLoopJoin.
  *
  * The rule fires only where the partitioned index join takes the inner
  * join (`SpatialJoinStrategy.partitionedJoin`): a planar predicate while
  * `spark.graft.join.grid.enabled`, a spherical one while
  * `spark.graft.join.sphere.enabled`, no equi-conjunct, and a distance
  * that one side can evaluate. Streaming joins are left alone. It runs
  * among the operator rules, so column pruning reaches into the
  * composition.
  */
case class SpatialJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, jt, Some(cond), hint)
        if TaggedJoin.handles(jt) && !j.isStreaming &&
          SpatialJoinStrategy.buildSide(session.sessionState.conf, jt, left, right, hint)
            .isEmpty &&
          SpatialJoinStrategy.partitionedJoin(session, Inner, left, right, cond).isDefined =>
      TaggedJoin(session, j) { (l, r) =>
        DatasetBridge.ofRows(session, Join(l, r, Inner, Some(cond), JoinHint.NONE))
      }.getOrElse(j)
  }
}

object SpatialJoinRule {

  /** `spark.graft.join.grid.enabled`: the partitioned index join and this
    * rule for planar predicates. */
  def planarEnabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.grid.enabled").forall(_ == "true")

  /** `spark.graft.join.sphere.enabled`: both index joins and this rule for
    * spherical predicates. */
  def sphereEnabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.sphere.enabled").forall(_ == "true")
}
