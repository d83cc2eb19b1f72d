package graft.joins

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, Join, JoinHint, LogicalPlan, SHUFFLE_HASH, SHUFFLE_MERGE}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf
import graft.plans.{AsOfJoinPlan, KnnJoinPlan, RangeJoinShapes}

/** Plans joins whose condition carries a spatial predicate or a range
  * band onto the two index joins. Mirrors the reference's
  * SpatialJoinLogicalRewrite + physical planner chain
  * (rust/sedona-query-planner/src/optimizer.rs:197-260,
  * spatial_join_physical_planner.rs:45-97),
  * collapsed into one Catalyst Strategy: Catalyst's
  * PushPredicateThroughJoin already folds Filter-over-cross-join into the
  * join condition (the reference needed MergeSpatialFilterIntoJoin for
  * this, optimizer.rs:313-339).
  *
  * Both predicate families plan here: planar (`SpatialPredicate.extract`)
  * and, unless `spark.graft.join.sphere.enabled=false`, spherical
  * (`SpatialPredicate.extractSphere`: st_dwithinsphere, st_distancesphere
  * < / <= d and the sphere relations) — the reference runs geography
  * joins through the same build/probe/refine operator
  * (rust/sedona/src/context.rs:163-172).
  *
  * A third family, the 1-D range join of no equi-conjunct
  * (`SpatialPredicate.extractBand`: `l.ts BETWEEN r.lo AND r.hi`, interval
  * overlap), plans on the same two execs unless
  * `spark.graft.join.band.enabled=false` or the join is streaming: each
  * side's bound is a [[Span]] rather than a geometry, and the whole
  * condition refines, as the reference's one build/probe/refine operator
  * takes a pluggable refiner.
  *
  * One decision per join, of every type the reference's one operator runs
  * (exec.rs:88), the mark join of EXISTS inside OR included:
  *   - a build side ([[SpatialJoinStrategy.buildSide]], by plan
  *     statistics — the reference's spatial_join_reordering,
  *     option.rs:105-108): BroadcastIndexSpatialJoinExec
  *     ([[SpatialJoinStrategy.indexJoin]]);
  *   - none, and not streaming: PartitionedIndexSpatialJoinExec
  *     ([[SpatialJoinStrategy.partitionedJoin]]). A side hinted
  *     SHUFFLE_HASH / SHUFFLE_MERGE is no build side, so the hint asks
  *     for this operator;
  *   - otherwise Nil: a streaming join with no broadcast side, a distance
  *     no one side can evaluate, or a switch that is off.
  *
  * KNN joins (`KnnJoinPlan`, or a raw `st_knn` join) plan the broadcast
  * or the partitioned KNN join by the same build-side decision, and as-of
  * joins (`AsOfJoinPlan`) plan `AsOfJoinExec`.
  *
  * Joins with an equi-conjunct are left to Spark's hash joins, matching
  * the reference (optimizer.rs:253-257): a hash join on the equi key
  * beats an index join that ignores it.
  */
case class SpatialJoinStrategy(spark: SparkSession) extends SparkStrategy {

  /** A KNN join broadcasts its objects (KnnJoinExec) when it is
    * streaming or when [[SpatialJoinStrategy.buildSide]] lets the object
    * side build with the query side preserved; otherwise it runs
    * partitioned (PartitionedKnnJoinExec). */
  private def planKnn(p: KnnJoinPlan): Seq[SparkPlan] = {
    val (queryChild, objectChild) =
      if (p.objectIsLeft) (p.right, p.left) else (p.left, p.right)
    val broadcast = p.isStreaming || SpatialJoinStrategy.buildSide(spark.sessionState.conf,
      if (p.objectIsLeft) RightOuter else LeftOuter, p.left, p.right,
      if (p.objectIsLeft) JoinHint(p.objectHint, None) else JoinHint(None, p.objectHint)
    ).isDefined
    val exec = if (broadcast) KnnJoinExec.apply _ else PartitionedKnnJoinExec.apply _
    exec(planLater(queryChild), planLater(objectChild), p.queryGeom, p.objectGeom, p.k,
      p.objectIsLeft, p.spheroid, p.tieBreak, p.rankOutput) :: Nil
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // KNN join captured at analysis time (pushdown-barrier node), or a raw
    // st_knn join in a session without the analyzer capture
    case p: KnnJoinPlan => planKnn(p)
    case j: Join if KnnJoinPlan.from(j).isDefined => planKnn(KnnJoinPlan.from(j).get)
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTime, p.rightTime, p.rightId, p.tolerance,
        p.strict, p.forward, planLater(p.left), planLater(p.right)) :: Nil

    case j @ Join(left, right, joinType, Some(cond), hint) =>
      // predicate oriented as pred(streamG, buildG)
      def oriented(ex: SpatialPredicate.Extracted, buildLeft: Boolean) =
        if (buildLeft) (ex.rightGeom, ex.leftGeom, SpatialPredicate.invert(ex.predName))
        else (ex.leftGeom, ex.rightGeom, ex.predName)
      SpatialJoinStrategy.indexJoin(spark, joinType, left, right, cond, hint).map {
        case (ex, buildLeft) =>
          val (streamGeom, buildGeom, streamPred) = oriented(ex, buildLeft)
          BroadcastIndexSpatialJoinExec(planLater(if (buildLeft) left else right),
            planLater(if (buildLeft) right else left), buildGeom, streamGeom, streamPred,
            ex.distance, buildLeft, joinType, ex.remainder)
      }.orElse(
        if (j.isStreaming) None
        else SpatialJoinStrategy.partitionedJoin(spark, joinType, left, right, cond).map {
          case (ex, buildLeft) =>
            val (streamGeom, buildGeom, streamPred) = oriented(ex, buildLeft)
            PartitionedIndexSpatialJoinExec(planLater(left), planLater(right),
              buildGeom, streamGeom, streamPred, ex.distance, buildLeft, joinType, ex.remainder)
        }).toList
    case _ => Nil
  }
}

object SpatialJoinStrategy {

  /** The join types both index joins run. */
  def supported(joinType: JoinType): Boolean = joinType match {
    case Inner | Cross | LeftOuter | RightOuter | FullOuter | LeftSemi | LeftAnti |
        _: ExistenceJoin => true
    case _ => false
  }

  /** `spark.graft.join.grid.enabled`: the partitioned join, planar. */
  def planarEnabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.grid.enabled").forall(_ == "true")

  /** `spark.graft.join.sphere.enabled`: both index joins, spherical. */
  def sphereEnabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.sphere.enabled").forall(_ == "true")

  /** `spark.graft.join.band.enabled`: both index joins, range joins. */
  def bandEnabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.band.enabled").forall(_ == "true")

  /** How the broadcast index join takes `Join(left, right, joinType,
    * cond, hint)`: the recognized predicate and the side it builds
    * (`true`: left), or None when it cannot take the join — an
    * unsupported join type, an equi-conjunct (Spark's hash joins are
    * better), no recognized predicate, no [[buildSide]], or a distance the
    * stream side cannot evaluate. */
  def indexJoin(spark: SparkSession, joinType: JoinType, left: LogicalPlan,
      right: LogicalPlan, cond: Expression,
      hint: JoinHint): Option[(SpatialPredicate.Extracted, Boolean)] = {
    if (!supported(joinType) || RangeJoinShapes.hasEquiConjunct(cond, left, right)) None
    else for {
      ex <- extract(spark, planar = true, cond, left, right)
      buildLeft <- buildSide(spark.sessionState.conf, joinType, left, right, hint)
      if ex.distance.forall(_.references.subsetOf((if (buildLeft) right else left).outputSet))
    } yield (ex, buildLeft)
  }

  /** How the partitioned index join takes a join: the recognized
    * predicate — planar while `spark.graft.join.grid.enabled`, spherical
    * while `spark.graft.join.sphere.enabled`, a range join while
    * `spark.graft.join.band.enabled` — and the side it builds
    * (`true`: left), the smaller by plan statistics of the sides the
    * distance leaves free to build. None for a type not [[supported]], an
    * equi-conjunct, no recognized predicate, or a distance that references
    * both sides. */
  def partitionedJoin(spark: SparkSession, joinType: JoinType, left: LogicalPlan,
      right: LogicalPlan, cond: Expression): Option[(SpatialPredicate.Extracted, Boolean)] =
    if (!supported(joinType) || RangeJoinShapes.hasEquiConjunct(cond, left, right)) None
    else extract(spark, planarEnabled(spark), cond, left, right).flatMap { ex =>
      def streams(side: LogicalPlan) = ex.distance.forall(_.references.subsetOf(side.outputSet))
      val buildLeft =
        if (streams(left) && streams(right))
          Some(left.stats.sizeInBytes <= right.stats.sizeInBytes)
        else if (streams(right)) Some(true)
        else if (streams(left)) Some(false)
        else None
      buildLeft.map(ex -> _)
    }

  /** The first recognized spatial conjunct of `cond`: planar when
    * `planar`, else spherical while `spark.graft.join.sphere.enabled`;
    * failing both, the band of a batch range join while
    * `spark.graft.join.band.enabled`. */
  private def extract(spark: SparkSession, planar: Boolean, cond: Expression,
      left: LogicalPlan, right: LogicalPlan): Option[SpatialPredicate.Extracted] =
    (if (planar) SpatialPredicate.extract(cond, left, right) else None).orElse(
      if (sphereEnabled(spark)) SpatialPredicate.extractSphere(cond, left, right)
      else None).orElse(
      if (bandEnabled(spark) && !left.isStreaming && !right.isStreaming)
        SpatialPredicate.extractBand(cond, left, right)
      else None)

  /** The side the broadcast index join builds (`Some(true)`: left), or
    * None when it cannot take the join. A side can build when it fits
    * `spark.sql.autoBroadcastJoinThreshold` (so never with broadcast
    * disabled), is not hinted SHUFFLE_HASH / SHUFFLE_MERGE and is not
    * preserved by the join type: the preserved side always streams, since
    * broadcasting it would need cross-partition match bookkeeping to
    * pad/emit/suppress (the partitioned index join keeps that
    * bookkeeping). Of two such sides the smaller builds. */
  def buildSide(conf: SQLConf, joinType: JoinType, left: LogicalPlan,
      right: LogicalPlan, hint: JoinHint): Option[Boolean] = {
    val threshold = conf.autoBroadcastJoinThreshold
    val leftSize = left.stats.sizeInBytes
    val rightSize = right.stats.sizeInBytes
    val (leftPreserved, rightPreserved) = PartitionedIndexSpatialJoinExec.preserved(joinType)
    def shuffleHinted(h: Option[HintInfo]) =
      h.flatMap(_.strategy).exists(s => s == SHUFFLE_HASH || s == SHUFFLE_MERGE)
    val canBroadcastLeft = leftSize >= 0 && leftSize <= threshold && !leftPreserved &&
      !shuffleHinted(hint.leftHint)
    val canBroadcastRight = rightSize >= 0 && rightSize <= threshold && !rightPreserved &&
      !shuffleHinted(hint.rightHint)
    if (canBroadcastLeft && canBroadcastRight) Some(leftSize <= rightSize)
    else if (canBroadcastLeft) Some(true)
    else if (canBroadcastRight) Some(false)
    else None
  }
}
