package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
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
  * A broadcast-sized sphere join never reaches this rule's rewrite:
  * `SpatialJoinStrategy` plans it into the broadcast index join, whose
  * spherical mode probes an R-tree of spherical bounds and refines with
  * the same kernels (the reference routes geography joins through the
  * same build/probe/refine operator, rust/sedona/src/context.rs:163-172).
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
  * Join types: INNER / CROSS, plus LEFT OUTER / SEMI / ANTI via the
  * row-id-tagged inner join + matched-id set proven by
  * `GridSpatialJoinRule`. `spark.graft.join.sphere.enabled=false`
  * disables both this rewrite and the index path for sphere predicates;
  * `spark.graft.join.sphere.nx/ny` size the fine grid (default 360x180).
  */
case class SphereJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  /** True when the broadcast index join cannot take the join. */
  private def needsGrid(jt: JoinType, left: LogicalPlan, right: LogicalPlan): Boolean =
    SpatialJoinStrategy.buildSide(session.sessionState.conf, jt, left, right).isEmpty

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!SphereJoinRule.enabled(session)) return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == Inner || jt == Cross) && !j.isStreaming &&
            !RangeJoinShapes.hasEquiConjunct(cond, left, right) &&
            needsGrid(jt, left, right) =>
        SpatialPredicate.extractSphere(cond, left, right)
          .flatMap(rewrite(j, left, right, _)).getOrElse(j)
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == LeftOuter || jt == LeftSemi || jt == LeftAnti) &&
            !j.isStreaming &&
            !RangeJoinShapes.hasEquiConjunct(cond, left, right) &&
            needsGrid(jt, left, right) =>
        SpatialPredicate.extractSphere(cond, left, right)
          .flatMap(rewriteLeftType(j, left, right, jt, _)).getOrElse(j)
    }
  }

  /** Build the inner grid join as a DataFrame over the child plans and
    * re-alias its output to the original join's exprIds. */
  private def innerGridDF(left: LogicalPlan, right: LogicalPlan,
      ex: Extracted): org.apache.spark.sql.DataFrame = {
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

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      ex: Extracted): Option[LogicalPlan] = {
    val analyzed = innerGridDF(left, right, ex).queryExecution.optimizedPlan
    if (analyzed.output.length != j.output.length) None
    else Some(Project(j.output.zip(analyzed.output).map { case (orig, a) =>
      Alias(a, orig.name)(exprId = orig.exprId)
    }, analyzed))
  }

  /** LEFT OUTER / LEFT SEMI / LEFT ANTI: inner grid join over a
    * row-id-tagged left side, then assemble the join type's semantics
    * from the matched row-id set — null-padded anti rows unioned back
    * (outer), or a semi/anti join of the tagged left against it.
    * All column plumbing is POSITIONAL (attribute-based), so sides that
    * share column names are fine. */
  private def rewriteLeftType(j: Join, lChild: LogicalPlan, rChild: LogicalPlan,
      jt: JoinType,
      ex: Extracted): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions._
    // withColumn would silently REPLACE a user column named __spj_id, and
    // a user __spj_mid makes the matched-id join condition ambiguous —
    // decline the rewrite on name overlap (join keeps its default plan)
    if (j.output.exists(a => a.name == "__spj_id" || a.name == "__spj_mid"))
      return None
    val lDF = graft.CacheRegistry.register(
      DatasetBridge.ofRows(session, lChild)
        .withColumn("__spj_id", monotonically_increasing_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tagged = lDF.queryExecution.analyzed
    // the tagged left keeps lChild's attribute ids, so ex's geometry
    // expressions resolve against it unchanged
    val inner = innerGridDF(tagged, rChild, ex)
    val innerAttrs = inner.queryExecution.analyzed.output
    val nL = lChild.output.length
    val nR = rChild.output.length
    if (innerAttrs.length != nL + 1 + nR) return None
    val lAttrs = innerAttrs.take(nL)
    val idAttr = innerAttrs(nL)
    val rAttrs = innerAttrs.takeRight(nR)
    val matched = inner.select(DatasetBridge.column(idAttr).as("__spj_mid"))
      .distinct()
    val taggedId = tagged.output.last // the __spj_id tag
    val lCols = lChild.output.map(DatasetBridge.column)
    val result = jt match {
      case LeftSemi =>
        lDF.join(matched,
            DatasetBridge.column(taggedId) === col("__spj_mid"), "left_semi")
          .select(lCols: _*)
      case LeftAnti =>
        lDF.join(matched,
            DatasetBridge.column(taggedId) === col("__spj_mid"), "left_anti")
          .select(lCols: _*)
      case _ => // LeftOuter
        val anti = lDF.join(matched,
            DatasetBridge.column(taggedId) === col("__spj_mid"), "left_anti")
          .select(lCols ++
            rChild.output.map(a => lit(null).cast(a.dataType)): _*)
        inner.select((lAttrs ++ rAttrs).map(DatasetBridge.column): _*)
          .unionAll(anti)
    }
    val analyzed = result.queryExecution.optimizedPlan
    if (analyzed.output.length != j.output.length) None
    else Some(Project(j.output.zip(analyzed.output).map { case (orig, a) =>
      Alias(a, orig.name)(exprId = orig.exprId)
    }, analyzed))
  }
}

object SphereJoinRule {

  /** `spark.graft.join.sphere.enabled`: both sphere join paths, the grid
    * rewrite and the broadcast index join's spherical mode. */
  def enabled(session: SparkSession): Boolean =
    session.conf.getOption("spark.graft.join.sphere.enabled").forall(_ == "true")
}
