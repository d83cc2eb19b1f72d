package graft.joins

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._
import graft.functions.GeomScalar

/** Recognition of spatial predicates inside join conditions — the analog of
  * the reference's SpatialPredicate / SpatialRelationType::from_name
  * (rust/sedona-query-planner/src/spatial_predicate.rs:201-221) and its
  * DistancePredicate (spatial_predicate.rs:62-86). Two families: planar
  * ([[extract]]) and spherical ([[extractSphere]]); a third, the 1-D range
  * join ([[extractBand]]), runs on the same index joins.
  */
object SpatialPredicate {

  /** Predicates usable for index lookup via envelope intersection. */
  val relationPreds: Set[String] = Set(
    "st_intersects", "st_contains", "st_within", "st_covers", "st_coveredby",
    "st_covered_by",
    "st_touches", "st_crosses", "st_overlaps", "st_equals")

  /** Spherical relations whose matching pairs have overlapping spherical
    * bounds (the candidate test of both sphere join paths).
    * `st_disjointsphere` is deliberately absent. */
  val sphereRelationPreds: Set[String] = Set(
    "st_intersectssphere", "st_containssphere", "st_withinsphere",
    "st_coverssphere", "st_coveredbysphere", "st_equalssphere")

  /** p'(b, a) == p(a, b) (reference invert table,
    * spatial_predicate.rs:223-240), planar and spherical. */
  def invert(name: String): String = name match {
    case "st_contains" => "st_within"
    case "st_within" => "st_contains"
    case "st_covers" => "st_coveredby"
    case "st_coveredby" => "st_covers"
    case "st_covered_by" => "st_covers"
    case "st_containssphere" => "st_withinsphere"
    case "st_withinsphere" => "st_containssphere"
    case "st_coverssphere" => "st_coveredbysphere"
    case "st_coveredbysphere" => "st_coverssphere"
    case other => other // symmetric
  }

  /** A spatial conjunct: `pred(leftGeom, rightGeom)` with geometry args
    * resolved to the join's left/right children; `distance` set for the
    * ST_DWithin / ST_Distance < d forms (planar), or to the double literal
    * radius in meters of the st_dwithinsphere forms (spherical).
    * `remainder` carries the other conjuncts for post-join evaluation. */
  case class Extracted(
      predName: String,
      leftGeom: Expression,
      rightGeom: Expression,
      distance: Option[Expression],
      remainder: Option[Expression])

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case other => Seq(other)
  }

  /** Resolves a predicate's two geometry arguments to the join sides as
    * `(leftArg, rightArg, swapped)`, or None when they do not split. */
  private type Sides = (Expression, Expression) => Option[(Expression, Expression, Boolean)]

  /** The first conjunct of `cond` that `recognize` accepts. The other
    * conjuncts become the remainder, after any conjuncts the recognition
    * keeps for re-checking. */
  private def extractWith(cond: Expression, left: LogicalPlan, right: LogicalPlan)(
      recognize: (Expression, Sides) => Option[(Extracted, Seq[Expression])])
      : Option[Extracted] = {
    val conjuncts = split(cond)
    val lset = left.outputSet
    val rset = right.outputSet
    val sides: Sides = (a, b) =>
      if (a.references.subsetOf(lset) && b.references.subsetOf(rset)) Some((a, b, false))
      else if (a.references.subsetOf(rset) && b.references.subsetOf(lset)) Some((b, a, true))
      else None
    conjuncts.iterator.map(p => recognize(p, sides).map(p -> _))
      .collectFirst { case Some(x) => x }
      .map { case (p, (ex, keep)) =>
        ex.copy(remainder = (keep ++ conjuncts.filterNot(_ eq p)).reduceOption(And))
      }
  }

  /** The first planar spatial conjunct of `cond`. The distance forms
    * extract as `st_dwithin`; a strict `st_distance(a, b) < d` keeps the
    * original conjunct first in the remainder, so pairs at exactly
    * distance d stay excluded. */
  def extract(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Extracted] =
    extractWith(cond, left, right) { (p, sides) =>
      def dwithin(a: Expression, b: Expression, d: Expression, keep: Seq[Expression] = Nil) =
        sides(a, b).map { case (lg, rg, _) =>
          (Extracted("st_dwithin", lg, rg, Some(d), None), keep)
        }
      p match {
        case GeomScalar(rawName, Seq(a, b), _, _, _) if relationPreds(rawName) =>
          // canonicalize snake aliases so every downstream refine/plan path
          // sees one spelling
          val name = if (rawName == "st_covered_by") "st_coveredby" else rawName
          sides(a, b).map { case (lg, rg, swapped) =>
            (Extracted(if (swapped) invert(name) else name, lg, rg, None, None), Nil)
          }
        case GeomScalar("st_dwithin", Seq(a, b, d), _, _, _) => dwithin(a, b, d)
        case LessThan(GeomScalar("st_distance", Seq(a, b), _, _, _), d) =>
          dwithin(a, b, d, Seq(p))
        case LessThanOrEqual(GeomScalar("st_distance", Seq(a, b), _, _, _), d) =>
          dwithin(a, b, d)
        case _ => None
      }
    }

  private def litDouble(e: Expression): Option[Double] = e match {
    case l: Literal if l.value != null && e.dataType.isInstanceOf[NumericType] =>
      Some(Cast(l, DoubleType).eval(null).asInstanceOf[Double])
    case _ if e.foldable && e.dataType.isInstanceOf[NumericType] =>
      Option(e.eval(null)).map(v =>
        Cast(Literal(v, e.dataType), DoubleType).eval(null).asInstanceOf[Double])
    case _ => None
  }

  /** The first spherical join conjunct of `cond`, each geometry argument
    * referencing columns of exactly one side:
    *   - `st_dwithinsphere(a, b, d)` with a foldable numeric radius
    *   - `st_distancesphere(a, b) < d` / `<= d` (and the `d > / >=`
    *     forms); a strict form keeps the original conjunct first in the
    *     remainder, so boundary pairs at exactly distance d stay excluded
    *   - the [[sphereRelationPreds]]
    * The distance forms extract as `st_dwithinsphere`, with the radius as
    * a double literal `distance`. */
  def extractSphere(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Extracted] =
    extractWith(cond, left, right) { (p, anySides) =>
      val sides: Sides = (a, b) =>
        if (a.references.nonEmpty && b.references.nonEmpty) anySides(a, b) else None
      def within(a: Expression, b: Expression, d: Expression, keep: Seq[Expression]) =
        for ((lg, rg, _) <- sides(a, b); r <- litDouble(d))
          yield (Extracted("st_dwithinsphere", lg, rg, Some(Literal(r, DoubleType)), None), keep)
      p match {
        case GeomScalar(name, Seq(a, b), _, _, _) if sphereRelationPreds(name) =>
          sides(a, b).map { case (lg, rg, swapped) =>
            (Extracted(if (swapped) invert(name) else name, lg, rg, None, None), Nil)
          }
        case GeomScalar("st_dwithinsphere", Seq(a, b, d), _, _, _) => within(a, b, d, Nil)
        case LessThanOrEqual(GeomScalar("st_distancesphere", Seq(a, b), _, _, _), d) =>
          within(a, b, d, Nil)
        case LessThan(GeomScalar("st_distancesphere", Seq(a, b), _, _, _), d) =>
          within(a, b, d, Seq(p))
        case GreaterThanOrEqual(d, GeomScalar("st_distancesphere", Seq(a, b), _, _, _)) =>
          within(a, b, d, Nil)
        case GreaterThan(d, GeomScalar("st_distancesphere", Seq(a, b), _, _, _)) =>
          within(a, b, d, Seq(p))
        case _ => None
      }
    }

  /** Types whose values [[RowBound.value]] maps into doubles by one
    * monotone non-decreasing map (integral, float, double, TIMESTAMP in
    * micros, decimals of at most 18 digits), so two values that pass a
    * band conjunct have boxes that meet. Other orderable types (DATE,
    * TIMESTAMP_NTZ, wider decimals, strings) keep Spark's plan. */
  def bandable(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        TimestampType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** A conjunct normalized to `lo <= hi` (strictness folded away: the
    * original conjunct stays in the refine). */
  private def asBound(e: Expression): Option[(Expression, Expression)] = e match {
    case LessThanOrEqual(a, b) => Some((a, b))
    case LessThan(a, b) => Some((a, b))
    case GreaterThanOrEqual(a, b) => Some((b, a))
    case GreaterThan(a, b) => Some((b, a))
    case _ => None
  }

  /** The band of `cond`, a range join: two opposing cross-side bounds
    * `lLow <= rHigh` and `rLow <= lHigh` (either may be strict, as
    * `l.ts BETWEEN r.lo AND r.hi` or an interval overlap), all four values
    * deterministic and [[bandable]]. It extracts as `st_intersects` of the
    * [[Span]]s (lLow, lHigh) and (rLow, rHigh), with the whole condition as
    * the remainder, the exact refine. Rows whose span is inverted (lo > hi)
    * keep the condition's own semantics: a pair that passes both bounds
    * has spans whose boxes meet. */
  def extractBand(cond: Expression, left: LogicalPlan, right: LogicalPlan): Option[Extracted] = {
    def ok(e: Expression, side: LogicalPlan): Boolean =
      e.deterministic && e.references.nonEmpty &&
        e.references.subsetOf(side.outputSet) && bandable(e.dataType)
    val bounds = split(cond).flatMap(asBound)
    for {
      (lLow, rHigh) <- bounds.find { case (lo, hi) => ok(lo, left) && ok(hi, right) }
      (rLow, lHigh) <- bounds.find { case (lo, hi) => ok(lo, right) && ok(hi, left) }
    } yield Extracted("st_intersects", Span(lLow, lHigh), Span(rLow, rHigh), None, Some(cond))
  }
}
