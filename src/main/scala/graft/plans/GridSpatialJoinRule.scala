package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.DatasetBridge
import graft.joins.{SpatialJoinStrategy, SpatialPredicate}
import graft.operators.SpatialJoins

/** Planner-level large-large spatial join — the 100 TB path for SQL users.
  *
  * When a join condition carries a planar spatial predicate and the
  * broadcast index join cannot take it (`SpatialJoinStrategy.buildSide`
  * is None: neither side fits the broadcast threshold, only a preserved
  * side fits, or broadcast is disabled), rewrites the join onto
  * `SpatialJoins.gridJoin` — the reference's out-of-core partitioned join
  * (rust/sedona-spatial-join/src/partitioning/kdb.rs:20-46,
  * multi-assignment + dedup) as cell explode + equi-join on the cell id +
  * reference-point dedup. The cell-id equality makes it a shuffled hash /
  * sort-merge join, so the shuffle machinery, AQE skew-split (hot cells)
  * and codegen all apply. ST_DWithin / ST_Distance < d joins expand the
  * left envelope by d for cell assignment and dedup.
  *
  * Join types: INNER / CROSS, LEFT OUTER / SEMI / ANTI and FULL OUTER,
  * the non-inner ones composed by `TaggedJoin`. FULL OUTER has no
  * broadcast side, so it is rewritten at every size; its inner join takes
  * the broadcast index join when a side fits and the grid otherwise.
  *
  * The grid extent is `SpatialJoins.gridBounds` over the two (already
  * filter-pushed, column-pruned) children, run once at optimization
  * time; streaming joins are left alone. Resolution from
  * `spark.graft.join.grid.nx/ny` (default 64x64; size so a cell holds
  * O(10k) rows at your scale). `spark.graft.join.grid.enabled=false`
  * disables the rewrite (Spark then plans a BroadcastNestedLoopJoin).
  */
case class GridSpatialJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.join.grid.enabled", "true") != "true") return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if TaggedJoin.handles(jt) && !j.isStreaming &&
            !RangeJoinShapes.hasEquiConjunct(cond, left, right) &&
            SpatialJoinStrategy.buildSide(session.sessionState.conf, jt, left, right).isEmpty =>
        SpatialPredicate.extract(cond, left, right) match {
          case Some(ex) if ex.distance.forall(_.references.subsetOf(left.outputSet)) =>
            TaggedJoin(session, j)(TaggedJoin.indexOrGrid(session, cond)(grid(j, ex)))
              .getOrElse(j)
          case _ => j
        }
    }
  }

  /** The grid join over (tagged) sides of `j`, on the extent of `j`'s own
    * children, computed once and only when some grid is built. */
  private def grid(j: Join, ex: SpatialPredicate.Extracted): TaggedJoin.Build = {
    val lg = DatasetBridge.column(ex.leftGeom)
    val rg = DatasetBridge.column(ex.rightGeom)
    lazy val extent = SpatialJoins.gridBounds(DatasetBridge.ofRows(session, j.left),
      DatasetBridge.ofRows(session, j.right), lg, rg)
    (l, r) => SpatialJoins.gridJoin(
      DatasetBridge.ofRows(session, l), DatasetBridge.ofRows(session, r), lg, rg,
      ex.predName, bounds = Some(extent),
      nx = conf("spark.graft.join.grid.nx", "64").toInt,
      ny = conf("spark.graft.join.grid.ny", "64").toInt,
      distance = ex.distance.map(DatasetBridge.column),
      extraCond = ex.remainder.map(DatasetBridge.column))
  }
}
