package graft.joins

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import graft.plans.{RangeJoinShapes, SphereJoinRule}

/** Plans joins whose condition carries a spatial predicate into
  * BroadcastIndexSpatialJoinExec. Mirrors the reference's
  * SpatialJoinLogicalRewrite + physical planner chain
  * (rust/sedona-query-planner/src/optimizer.rs:197-260,
  * spatial_join_physical_planner.rs:45-97), collapsed into one Catalyst
  * Strategy: Catalyst's PushPredicateThroughJoin already folds
  * Filter-over-cross-join into the join condition (the reference needed
  * MergeSpatialFilterIntoJoin for this, optimizer.rs:313-339).
  *
  * Both predicate families plan here: planar (`SpatialPredicate.extract`)
  * and, unless `spark.graft.join.sphere.enabled=false`, spherical
  * (`SpatialPredicate.extractSphere`: st_dwithinsphere, st_distancesphere
  * < / <= d and the sphere relations) — the reference runs geography
  * joins through the same build/probe/refine operator
  * (rust/sedona/src/context.rs:163-172).
  *
  * Build-side choice by plan statistics ([[SpatialJoinStrategy.buildSide]],
  * the reference's spatial_join_reordering, option.rs:105-108). Joins with
  * an equi-conjunct are left to Spark's hash joins, matching the reference
  * (optimizer.rs:253-257): a hash join on the equi key beats an index join
  * that ignores it.
  *
  * Falls back (Nil) when no side can be the build. GridSpatialJoinRule
  * (planar) and SphereJoinRule (spherical) rewrite exactly those joins
  * of type INNER / CROSS, LEFT OUTER / SEMI / ANTI and FULL OUTER onto
  * their shuffle-partitioned grids, so a spatial join reaches here
  * without a build side only when it is a RIGHT OUTER or existence join,
  * is streaming, has a distance its rule cannot bind to the left side,
  * or its rule is switched off.
  */
case class SpatialJoinStrategy(spark: SparkSession) extends SparkStrategy {

  /** Broadcast-indexed KNN exec. Large object sides never reach here —
    * KnnGridJoinRule rewrites them at logical-optimization time (a
    * strategy-level rewrite would be rebuilt by every AQE re-plan). */
  private def planKnn(p: graft.plans.KnnJoinPlan): Seq[SparkPlan] = {
    val (queryChild, objectChild) =
      if (p.objectIsLeft) (p.right, p.left) else (p.left, p.right)
    KnnJoinExec(planLater(queryChild), planLater(objectChild),
      p.queryGeom, p.objectGeom, p.k, p.objectIsLeft, p.spheroid) :: Nil
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // KNN join captured at analysis time (pushdown-barrier node)
    case p: graft.plans.KnnJoinPlan => planKnn(p)

    // KNN join: ST_KNN(query_geom, object_geom[, k[, use_spheroid]]);
    // omitted k defaults to 1 (test_knnjoin.py test_knn_join_default_k)
    case Join(left, right, joinType, Some(
        graft.functions.GeomScalar("st_knn", args, _, _, _)), _)
        if (joinType == Inner || joinType == Cross)
          && args.length >= 2 && args.length <= 4 && args.drop(2).forall(_.foldable) =>
      val Seq(a, b) = args.take(2)
      val k = if (args.length < 3) 1 else args(2).eval() match {
        case n: java.lang.Number => n.intValue()
        case d: org.apache.spark.sql.types.Decimal => d.toInt
      }
      val sph = args.length == 4 && args(3).eval() == true
      if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
        planKnn(graft.plans.KnnJoinPlan(left, right, a, b, k,
          objectIsLeft = false, spheroid = sph))
      else if (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
        planKnn(graft.plans.KnnJoinPlan(left, right, a, b, k,
          objectIsLeft = true, spheroid = sph))
      else Nil

    case Join(left, right, joinType, Some(cond), _) =>
      SpatialJoinStrategy.indexJoin(spark, joinType, left, right, cond).map {
        case (ex, buildLeft) =>
          // orient predicate as pred(streamG, buildG)
          val (streamGeom, buildGeom, streamPred) =
            if (buildLeft) (ex.rightGeom, ex.leftGeom, SpatialPredicate.invert(ex.predName))
            else (ex.leftGeom, ex.rightGeom, ex.predName)
          BroadcastIndexSpatialJoinExec(
            buildPlan = planLater(if (buildLeft) left else right),
            streamPlan = planLater(if (buildLeft) right else left),
            buildGeom = buildGeom,
            streamGeom = streamGeom,
            predName = streamPred,
            distance = ex.distance,
            buildIsLeft = buildLeft,
            joinType = joinType,
            extraCondition = ex.remainder)
      }.toList
    case _ => Nil
  }
}

object SpatialJoinStrategy {

  /** How the broadcast index join takes `Join(left, right, joinType,
    * cond)`: the recognized predicate and the side it builds (`true`:
    * left), or None when it cannot take the join — an unsupported join
    * type, an equi-conjunct (Spark's hash joins are better), no
    * recognized predicate, no [[buildSide]], or a distance the stream
    * side cannot evaluate. */
  def indexJoin(spark: SparkSession, joinType: JoinType, left: LogicalPlan,
      right: LogicalPlan, cond: Expression): Option[(SpatialPredicate.Extracted, Boolean)] = {
    val supported = joinType match {
      case Inner | Cross | LeftOuter | RightOuter | LeftSemi | LeftAnti | _: ExistenceJoin => true
      case _ => false
    }
    if (!supported || RangeJoinShapes.hasEquiConjunct(cond, left, right)) None
    else for {
      ex <- SpatialPredicate.extract(cond, left, right).orElse(
        if (SphereJoinRule.enabled(spark)) SpatialPredicate.extractSphere(cond, left, right)
        else None)
      buildLeft <- buildSide(spark.sessionState.conf, joinType, left, right)
      if ex.distance.forall(_.references.subsetOf((if (buildLeft) right else left).outputSet))
    } yield (ex, buildLeft)
  }

  /** The side the broadcast index join builds (`Some(true)`: left), or
    * None when it cannot take the join. A side can build when it fits
    * `spark.sql.autoBroadcastJoinThreshold` (so never with broadcast
    * disabled) and is not preserved by the join type: the preserved side
    * always streams, since broadcasting it would need cross-partition
    * match bookkeeping to pad/emit/suppress. Of two such sides the
    * smaller builds. SphereJoinRule rewrites a sphere join onto its grid
    * exactly when this is None, so the two never disagree. */
  def buildSide(conf: SQLConf, joinType: JoinType,
      left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val threshold = conf.autoBroadcastJoinThreshold
    val leftSize = left.stats.sizeInBytes
    val rightSize = right.stats.sizeInBytes
    val leftPreserved = joinType match {
      case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin | FullOuter => true
      case _ => false
    }
    val rightPreserved = joinType == RightOuter || joinType == FullOuter
    val canBroadcastLeft = leftSize >= 0 && leftSize <= threshold && !leftPreserved
    val canBroadcastRight = rightSize >= 0 && rightSize <= threshold && !rightPreserved
    if (canBroadcastLeft && canBroadcastRight) Some(leftSize <= rightSize)
    else if (canBroadcastLeft) Some(true)
    else if (canBroadcastRight) Some(false)
    else None
  }
}
