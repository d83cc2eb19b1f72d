package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.plans.KnnJoinPlan

/** Whole-operator spatial joins exposed as DataFrame combinators.
  *
  * - `gridJoin`: the streaming spatial join — both sides exploded onto a
  *   uniform grid, geometries duplicated into every overlapped cell, pairs
  *   deduplicated by the reference-point rule. The cell id is the equi
  *   key a streaming join needs for its state. A batch spatial join is
  *   written as a plain join and plans an index join
  *   (`graft.joins.SpatialJoinStrategy`).
  *
  * - `knnJoin`: k nearest neighbours with deterministic tie-breaking, the
  *   Scala form of a SQL `st_knn` join with the distance and rank as
  *   columns.
  */
object SpatialJoins {
  import graft.functions.GraftFunctions.st

  /** Spatial join on a grid-cell equi key, for streaming inputs
    * (`StreamingOps.streamSpatialJoin`, stream-static joins).
    *
    * @param predicate SQL name of the refinement predicate, e.g.
    *   "st_intersects" (applied as predicate(leftGeom, rightGeom))
    * @param bounds (xmin, ymin, xmax, ymax) of the data: an unbounded
    *   stream has no extent to compute
    * @param nx, ny grid resolution — tune so cells hold O(10k) geometries
    */
  def gridJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      predicate: String,
      bounds: (Double, Double, Double, Double),
      nx: Int = 64, ny: Int = 64,
      distance: Option[Column] = None,
      extraCond: Option[Column] = None): DataFrame = {

    val (xmin, ymin, xmax, ymax) = bounds
    def cells4(e4: Column): Column = st.f("sd_gridcells4", e4,
      lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny))

    // Each side parses its WKB exactly once per row (sd_envelope4); cell
    // explode, bbox overlap and reference-point dedup all run on the
    // carried envelope doubles — codegen'd double math. The WKB-parsing
    // predicate refines only pairs that survive the cheap conjuncts.
    // Distance joins expand the left envelope by the radius for cell
    // assignment and dedup.
    val l4base = st.f("sd_envelope4", leftGeom)
    val l4 = distance match {
      case Some(dst) => array(
        element_at(l4base, 1) - dst, element_at(l4base, 2) - dst,
        element_at(l4base, 3) + dst, element_at(l4base, 4) + dst)
      case None => l4base
    }
    val l = left.withColumn("__lg", leftGeom)
      .withColumn("__l4", l4)
      .withColumn("__lcell", explode(cells4(col("__l4"))))
    val r = right.withColumn("__rg", rightGeom)
      .withColumn("__r4", st.f("sd_envelope4", rightGeom))
      .withColumn("__rcell", explode(cells4(col("__r4"))))
    def le(k: Int) = element_at(col("__l4"), k)
    def re(k: Int) = element_at(col("__r4"), k)
    // one conjunct, not four comparisons: a stream-stream join reads each
    // top-level comparison conjunct as a possible watermark bound and logs
    // a WARN for every one it cannot use. The optimizer turns a negated
    // disjunction back into the four comparisons, but keeps the coalesce;
    // in a join condition NULL and false both reject, so it is the same
    // filter, NaN and NULL included.
    val bboxOverlap = coalesce(le(1) <= re(3) && re(1) <= le(3) &&
      le(2) <= re(4) && re(2) <= le(4), lit(false))
    // arithmetic twin of Grid.cellOf (trunc-toward-zero == floor after the
    // 0-clamp, so the generated cell ids match st_gridcells exactly)
    def cellc(x: Column, mn: Double, mx: Double, n: Int): Column =
      least(greatest(floor((x - lit(mn)) / lit(mx - mn) * lit(n)).cast("long"),
        lit(0L)), lit((n - 1).toLong))
    val refCell = cellc(greatest(le(2), re(2)), ymin, ymax, ny) * nx +
      cellc(greatest(le(1), re(1)), xmin, xmax, nx)
    val refine = distance match {
      case Some(d) => st.f("st_dwithin", col("__lg"), col("__rg"), d)
      case None => st.f(predicate, col("__lg"), col("__rg"))
    }
    val cond = col("__lcell") === col("__rcell") &&
      bboxOverlap && refCell === col("__lcell") && refine
    l.join(r, extraCond.map(cond && _).getOrElse(cond))
      .drop("__lcell", "__rcell", "__l4", "__r4", "__lg", "__rg")
  }

  /** For each query row, the k nearest object rows: query columns ++
    * object columns ++ (knn_distance, knn_rank). Ties at equal distance
    * break on `tieBreak` (cast to DOUBLE) ascending, then on the object
    * row — reference semantics from index/default_spatial_index.rs:359-430
    * (neighbour search + tie re-search) and probe/knn_results_merger.rs.
    * `spheroid` ranks by great-circle meters.
    *
    * The join plans like SQL `st_knn`: objects that may broadcast go to
    * `KnnJoinExec`, others — or objects hinted `shuffle_hash` — to
    * `PartitionedKnnJoinExec`. Building the DataFrame runs no job.
    */
  def knnJoin(
      query: DataFrame, objects: DataFrame,
      queryGeom: Column, objGeom: Column,
      k: Int, tieBreak: Column, spheroid: Boolean = false): DataFrame = {
    val spark = query.sparkSession
    // the analyzed cross join tells the two sides' attributes apart, also
    // in a self-join
    val (q, o) = query.crossJoin(objects).queryExecution.analyzed match {
      case Join(l, r, _, _, _) => (l, r)
    }
    def resolve(side: LogicalPlan, c: Column): Expression =
      DatasetBridge.ofRows(spark, side).select(c).queryExecution.analyzed match {
        case Project(Seq(Alias(e, _)), _) => e
        case Project(Seq(e), _) => e
      }
    val rank = Seq(AttributeReference("knn_distance", DoubleType, nullable = false)(),
      AttributeReference("knn_rank", IntegerType, nullable = false)())
    // the object side's hint moves into the node: left on the child, no
    // join would take it and the optimizer would warn that it is unused
    val joined = DatasetBridge.ofRows(spark, KnnJoinPlan(q, DatasetBridge.withoutHints(o),
      resolve(q, queryGeom), resolve(o, objGeom), k, objectIsLeft = false, spheroid,
      Some(resolve(o, tieBreak.cast("double"))), rank, KnnJoinPlan.hintOf(o)))
    // the rank columns re-aliased in a Project, whose attributes Spark
    // renews when the result meets itself in a join
    joined.select((q.output ++ o.output).map(DatasetBridge.column) ++
      rank.map(a => DatasetBridge.column(a).as(a.name)): _*)
  }
}
