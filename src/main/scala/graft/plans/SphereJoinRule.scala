package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DoubleType, NumericType}
import graft.functions.GeomScalar

/** Planner-level geography (spherical) join — the SQL surface over the
  * two-level adaptive lat-lon grid joins the Scala API already provides
  * (`SpatialJoins.sphereDWithinJoin` / `sphereRelationJoin`).
  *
  * Without this rule, `JOIN ON st_dwithinsphere(a, b, r)` or
  * `st_intersectssphere(a, b)` has no equi-conjunct, so Catalyst plans a
  * quadratic BroadcastNestedLoopJoin — every pair evaluates a
  * great-circle kernel. The reference routes these joins through a
  * dedicated geography planner chain
  * (rust/sedona/src/context.rs:163-172 + rust/sedona-spatial-join-geography);
  * here the same recognition step rewrites the logical join onto the
  * grid form, whose cell-id equality makes it a regular shuffled hash /
  * sort-merge join with AQE skew handling — the `BandedRangeJoinRule`
  * pattern, one predicate family over.
  *
  * Recognized conjuncts (geometry args resolved to opposite join sides):
  *   - `st_dwithinsphere(a, b, d)` with a foldable numeric radius
  *   - `st_distancesphere(a, b) < d` / `<= d` (strict form keeps the
  *     original conjunct as a post-refine, so boundary pairs at exactly
  *     distance d stay excluded)
  *   - `st_intersectssphere` / `st_containssphere` / `st_withinsphere` /
  *     `st_coverssphere` / `st_coveredbysphere` / `st_equalssphere` —
  *     every spherical relation that implies envelope overlap (disjoint
  *     does not, and is not rewritten)
  *
  * Join types: INNER / CROSS, plus LEFT OUTER via the row-id-tagged
  * inner join + anti-join null pad proven by `GridSpatialJoinRule`.
  * `spark.graft.join.sphere.enabled=false` disables;
  * `spark.graft.join.sphere.nx/ny` size the fine grid (default 360x180);
  * the rewrite is skipped when the smaller side is under
  * 64 KB (a broadcast BNLJ over a tiny side is cheaper than two grid
  * explodes).
  */
case class SphereJoinRule(session: SparkSession) extends Rule[LogicalPlan] {

  import SphereJoinRule._

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  /** Smaller-side cutoff of `worthGrid`, ~1k rows. */
  private val MinSideBytes = 65536L

  private def worthGrid(left: LogicalPlan, right: LogicalPlan): Boolean = {
    if (session.sessionState.conf.autoBroadcastJoinThreshold < 0) return true
    val cutoff = BigInt(MinSideBytes)
    val lB = left.stats.sizeInBytes
    val rB = right.stats.sizeInBytes
    // A broadcast BNLJ runs the geodesic refine on EVERY pair, so its
    // cost is the pair product, not the smaller side: 1k x 15k rows is
    // already 15M geodesic evaluations, far past where two grid explodes
    // win. Decline the grid only when one side is tiny AND the product
    // stays small (cutoff^2 * 4 ~ a couple million pairs at ~100 B/row).
    lB.min(rB) > cutoff || lB * rB > cutoff * cutoff * 4
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.join.sphere.enabled", "true") != "true") return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == Inner || jt == Cross) && !j.isStreaming &&
            !RangeJoinShapes.hasEquiConjunct(cond, left, right) &&
            worthGrid(left, right) =>
        extract(cond, left, right).flatMap(rewrite(j, left, right, _)).getOrElse(j)
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == LeftOuter || jt == LeftSemi || jt == LeftAnti) &&
            !j.isStreaming &&
            !RangeJoinShapes.hasEquiConjunct(cond, left, right) &&
            worthGrid(left, right) =>
        extract(cond, left, right)
          .flatMap(rewriteLeftType(j, left, right, jt, _)).getOrElse(j)
    }
  }

  /** Build the inner grid join as a DataFrame over the child plans and
    * re-alias its output to the original join's exprIds. */
  private def innerGridDF(left: LogicalPlan, right: LogicalPlan,
      ex: Sphere): org.apache.spark.sql.DataFrame = {
    val nx = conf("spark.graft.join.sphere.nx", "360").toInt
    val ny = conf("spark.graft.join.sphere.ny", "180").toInt
    val lDF = DatasetBridge.ofRows(session, left)
    val rDF = DatasetBridge.ofRows(session, right)
    val lg = DatasetBridge.column(ex.leftGeom)
    val rg = DatasetBridge.column(ex.rightGeom)
    var joined = ex.radius match {
      case Some(r) =>
        graft.operators.SpatialJoins.sphereDWithinJoin(lDF, rDF, lg, rg, r, nx, ny)
      case None =>
        graft.operators.SpatialJoins.sphereRelationJoin(lDF, rDF, lg, rg, ex.predName, nx, ny)
    }
    // a strict `st_distancesphere < d` admitted inclusive candidates:
    // re-apply the ORIGINAL conjunct so boundary pairs drop
    ex.strictRefine.foreach(p => joined = joined.filter(DatasetBridge.column(p)))
    ex.remainder.foreach(p => joined = joined.filter(DatasetBridge.column(p)))
    joined
  }

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
      ex: Sphere): Option[LogicalPlan] = {
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
      jt: org.apache.spark.sql.catalyst.plans.JoinType,
      ex: Sphere): Option[LogicalPlan] = {
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

  /** Spherical relations admitted by the radius-0 grid: each implies the
    * pair's spherical envelopes overlap (the candidate cover's only
    * assumption). `st_disjointsphere` is deliberately absent. */
  val relationPreds: Set[String] = Set(
    "st_intersectssphere", "st_containssphere", "st_withinsphere",
    "st_coverssphere", "st_coveredbysphere", "st_equalssphere")

  /** p'(b, a) == p(a, b) for the spherical family. */
  def invert(name: String): String = name match {
    case "st_containssphere" => "st_withinsphere"
    case "st_withinsphere" => "st_containssphere"
    case "st_coverssphere" => "st_coveredbysphere"
    case "st_coveredbysphere" => "st_coverssphere"
    case other => other // intersects / equals are symmetric
  }

  /** An extracted spherical join conjunct. `radius` set for the dwithin
    * family; `strictRefine` carries the original strict-distance conjunct
    * for post-refine; `remainder` the other conjuncts. */
  final case class Sphere(predName: String,
      leftGeom: Expression, rightGeom: Expression,
      radius: Option[Double], strictRefine: Option[Expression],
      remainder: Option[Expression])

  private def litDouble(e: Expression): Option[Double] = e match {
    case l: Literal if l.value != null && e.dataType.isInstanceOf[NumericType] =>
      Some(Cast(l, DoubleType).eval(null).asInstanceOf[Double])
    case _ if e.foldable && e.dataType.isInstanceOf[NumericType] =>
      Option(e.eval(null)).map(v =>
        Cast(Literal(v, e.dataType), DoubleType).eval(null).asInstanceOf[Double])
    case _ => None
  }

  def extract(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Sphere] = {
    val conjuncts = RangeJoinShapes.conjuncts(cond)
    val lset = left.outputSet
    val rset = right.outputSet

    def sides(a: Expression, b: Expression): Option[(Expression, Expression, Boolean)] =
      if (a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(lset) && b.references.subsetOf(rset)) Some((a, b, false))
      else if (a.references.nonEmpty && b.references.nonEmpty &&
          a.references.subsetOf(rset) && b.references.subsetOf(lset)) Some((b, a, true))
      else None

    val found = conjuncts.iterator.map {
      case p @ GeomScalar(name, Seq(a, b), _, _, _) if relationPreds(name) =>
        sides(a, b).map { case (lg, rg, swapped) =>
          (p: Expression,
            Sphere(if (swapped) invert(name) else name, lg, rg, None, None, None))
        }
      case p @ GeomScalar("st_dwithinsphere", Seq(a, b, d), _, _, _) =>
        for ((lg, rg, _) <- sides(a, b); r <- litDouble(d))
          yield (p: Expression, Sphere("st_dwithinsphere", lg, rg, Some(r), None, None))
      case p @ LessThanOrEqual(GeomScalar("st_distancesphere", Seq(a, b), _, _, _), d) =>
        for ((lg, rg, _) <- sides(a, b); r <- litDouble(d))
          yield (p: Expression, Sphere("st_dwithinsphere", lg, rg, Some(r), None, None))
      case p @ LessThan(GeomScalar("st_distancesphere", Seq(a, b), _, _, _), d) =>
        for ((lg, rg, _) <- sides(a, b); r <- litDouble(d))
          yield (p: Expression,
            Sphere("st_dwithinsphere", lg, rg, Some(r), Some(p), None))
      case p @ GreaterThanOrEqual(d, GeomScalar("st_distancesphere", Seq(a, b), _, _, _)) =>
        for ((lg, rg, _) <- sides(a, b); r <- litDouble(d))
          yield (p: Expression, Sphere("st_dwithinsphere", lg, rg, Some(r), None, None))
      case p @ GreaterThan(d, GeomScalar("st_distancesphere", Seq(a, b), _, _, _)) =>
        for ((lg, rg, _) <- sides(a, b); r <- litDouble(d))
          yield (p: Expression,
            Sphere("st_dwithinsphere", lg, rg, Some(r), Some(p), None))
      case _ => None
    }.collectFirst { case Some(x) => x }

    found.map { case (predExpr, ex) =>
      val rest = conjuncts.filterNot(_ eq predExpr)
      ex.copy(remainder = rest.reduceOption(And))
    }
  }
}
