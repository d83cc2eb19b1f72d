package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.DatasetBridge
import graft.joins.{SpatialJoinStrategy, SpatialPredicate}
import graft.joins.SpatialPredicate.Extracted

/** Planner-level geography (spherical) join for sides too large to
  * broadcast — the SQL surface over the two-level adaptive lat-lon grid
  * joins the Scala API already provides
  * (`SpatialJoins.sphereDWithinJoin` / `sphereRelationJoin`).
  *
  * A broadcast-sized sphere join other than FULL OUTER never reaches this
  * rule's rewrite: `SpatialJoinStrategy` plans it into the broadcast index
  * join, whose spherical mode probes an R-tree of spherical bounds and
  * refines with the same kernels (the reference routes geography joins
  * through the same build/probe/refine operator,
  * rust/sedona/src/context.rs:163-172).
  * Only when that path cannot take the join
  * (`SpatialJoinStrategy.buildSide` is None: neither side fits the
  * broadcast threshold, only the preserved side of a LEFT join fits, or
  * broadcast is disabled) does this rule rewrite the logical join onto
  * the grid form, whose cell-id equality makes it a regular shuffled hash
  * / sort-merge join with AQE skew handling — the `BandedRangeJoinRule`
  * pattern, one predicate family over. Without either path, Catalyst
  * would plan a quadratic BroadcastNestedLoopJoin in which every pair
  * evaluates a great-circle kernel.
  *
  * Recognized conjuncts: `SpatialPredicate.extractSphere`.
  *
  * Join types: INNER / CROSS, LEFT OUTER / SEMI / ANTI and FULL OUTER,
  * the non-inner ones composed by `TaggedJoin` (FULL OUTER has no
  * broadcast side, so it is rewritten at every size and its inner join
  * takes the index join when a side fits).
  * `spark.graft.join.sphere.enabled=false` disables both this rewrite and
  * the index path for sphere predicates;
  * `spark.graft.join.sphere.nx/ny` size the fine grid (default 360x180).
  */
case class SphereJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SphereJoinRule.enabled(session)) return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if TaggedJoin.handles(jt) && !j.isStreaming &&
            !RangeJoinShapes.hasEquiConjunct(cond, left, right) &&
            SpatialJoinStrategy.buildSide(session.sessionState.conf, jt, left, right).isEmpty =>
        SpatialPredicate.extractSphere(cond, left, right)
          .flatMap(ex => TaggedJoin(session, j)(TaggedJoin.indexOrGrid(session, cond)(grid(ex))))
          .getOrElse(j)
    }
  }

  /** The two-level-grid join over (tagged) sides. */
  private def grid(ex: Extracted)(left: LogicalPlan, right: LogicalPlan): DataFrame = {
    val nx = conf("spark.graft.join.sphere.nx", "360").toInt
    val ny = conf("spark.graft.join.sphere.ny", "180").toInt
    val lDF = DatasetBridge.ofRows(session, left)
    val rDF = DatasetBridge.ofRows(session, right)
    val lg = DatasetBridge.column(ex.leftGeom)
    val rg = DatasetBridge.column(ex.rightGeom)
    val joined = ex.distance match {
      case Some(r) => // a double literal (extractSphere)
        graft.operators.SpatialJoins.sphereDWithinJoin(lDF, rDF, lg, rg,
          r.eval().asInstanceOf[Double], nx, ny)
      case None =>
        graft.operators.SpatialJoins.sphereRelationJoin(lDF, rDF, lg, rg, ex.predName, nx, ny)
    }
    // the remainder leads with the ORIGINAL conjunct of a strict
    // `st_distancesphere < d`, whose candidates were inclusive, so
    // boundary pairs drop
    ex.remainder.fold(joined)(p => joined.filter(DatasetBridge.column(p)))
  }
}

object SphereJoinRule {

  /** `spark.graft.join.sphere.enabled`: both sphere join paths, the grid
    * rewrite and the broadcast index join's spherical mode. */
  def enabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.sphere.enabled").forall(_ == "true")
}
