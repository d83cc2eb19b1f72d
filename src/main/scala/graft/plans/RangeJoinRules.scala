package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Shared shape recognition for the as-of rewrites and the join planners:
  * splitting a join condition into conjuncts, and spotting the
  * equi-conjunct that makes Catalyst's hash machinery applicable. (Range
  * joins with no equi-conjunct plan on the index joins:
  * `graft.joins.SpatialPredicate.extractBand`.) */
object RangeJoinShapes {

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** True when some conjunct is an equality between the two sides —
    * Catalyst then plans SMJ/SHJ and no rewrite is needed. */
  def hasEquiConjunct(cond: Expression, left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts(cond).exists {
      case EqualTo(a, b) => crossSide(a, b, left, right)
      case EqualNullSafe(a, b) => crossSide(a, b, left, right)
      case _ => false
    }

  private def crossSide(a: Expression, b: Expression,
      left: LogicalPlan, right: LogicalPlan): Boolean =
    (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
      (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))

  /** The extreme-value-over-inequality-join aggregate: v (in B) bounded
    * by d (in A), plus the grouping split across the two sides. `strict`
    * marks a </> bound (the as-of join's strict comparison); `tolerance`
    * is the optional inclusive literal staleness bound (the
    * `AND d - v <= t` idiom), the as-of join's tolerance. */
  final case class Shape(v: Attribute, d: Attribute, backward: Boolean,
      strict: Boolean, tolerance: Option[Long],
      gbA: Seq[Attribute], gbB: Seq[Attribute])
}

/** Shape matching and the shared plan construction of the as-of rules
  * (AsOfAggregateRule, AsOfProbeJoinRule). */
private[plans] object AsOfShapes {
  import RangeJoinShapes._
  val MicrosPerDay: Long = 86400L * 1000000L

  /** SubtractDates, possibly wrapped in an interval-width cast (e.g.
    * `cast((d - v) as interval day to hour)` when the literal's width is
    * finer than DAY) — the stored long is micros either way. */
  object SubtractDatesMicros {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case sub: SubtractDates => Some((sub.left, sub.right))
      case c: Cast if c.dataType.isInstanceOf[DayTimeIntervalType] =>
        c.child match {
          case sub: SubtractDates => Some((sub.left, sub.right))
          case _ => None
        }
      case _ => None
    }
  }

  /** Types whose long image is exact and order-isomorphic: the times the
    * as-of join compares (as days for DATE, micros for TIMESTAMP). */
  def exactLongImage(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType |
        TimestampType | DateType => true
    case _ => false
  }

  /** The rows of `left` the shape's as-of join matches in `right`, beside
    * their match: `left` keyed by `leftKeys` (in `s.gbB` order) and timed
    * by `leftTime`, `right` keyed by `s.gbB` and timed by `s.v` (which
    * also breaks ties: rows of one key and v are interchangeable). The
    * unmatched rows are filtered: the inner join holds no group for
    * them. The extremum is the matched right row's own v. */
  def matched(s: Shape, left: LogicalPlan, leftKeys: Seq[Expression],
      leftTime: Expression, right: LogicalPlan): LogicalPlan =
    Filter(IsNotNull(s.v), AsOfJoinPlan(left, right, leftKeys, s.gbB, leftTime, s.v, s.v,
      s.tolerance, s.strict, forward = !s.backward))

  /** The distinct `attrs` of `plan`: `plan` itself when it is already a
    * grouping-only Aggregate with exactly these outputs (the decorrelated
    * idiom's dedup'd outer-reference domain). */
  def distinctOf(attrs: Seq[Attribute], plan: LogicalPlan): LogicalPlan = plan match {
    case ag: Aggregate if ag.aggregateExpressions.forall(!_.exists(
        _.isInstanceOf[AggregateExpression])) && ag.outputSet == AttributeSet(attrs) => ag
    case _ => Aggregate(attrs, attrs, plan)
  }

  /** `src` under the name and exprId of the output `out` it stands for. */
  def as(src: Attribute, out: Attribute): NamedExpression =
    if (src.exprId == out.exprId) src else Alias(src, out.name)(exprId = out.exprId)

  def matchShape(agg: Aggregate, j: Join): Option[RangeJoinShapes.Shape] = {
    val cs = conjuncts(j.condition.get)
    if (cs.isEmpty || cs.length > 2) return None
    // primary bound, normalized lo <= hi, and whether it is strict
    def primary(e: Expression): Option[(AttributeReference, AttributeReference,
        Boolean, Boolean)] = {
      val bound = e match {
        case LessThanOrEqual(a, b) => Some((a, b, false))
        case GreaterThanOrEqual(a, b) => Some((b, a, false))
        case LessThan(a, b) => Some((a, b, true))
        case GreaterThan(a, b) => Some((b, a, true))
        case _ => None
      }
      bound.flatMap {
        // backward: v (in B) <= d (in A); forward: d <= v
        case (v: AttributeReference, dd: AttributeReference, st)
            if j.right.outputSet.contains(v) && j.left.outputSet.contains(dd) =>
          Some((v, dd, true, st))
        case (dd: AttributeReference, v: AttributeReference, st)
            if j.left.outputSet.contains(dd) && j.right.outputSet.contains(v) =>
          Some((v, dd, false, st))
        case _ => None
      }
    }
    val primIdx = cs.indexWhere(primary(_).isDefined)
    if (primIdx < 0) return None
    val (v, d, backward, strict) = primary(cs(primIdx)).get
    if (v.dataType != d.dataType || !exactLongImage(v.dataType)) return None
    // the tolerance idiom's difference arithmetic is matched in the
    // column's own type: long/int literals for long columns, timestamp
    // differences against DayTimeInterval literals (micros, exactly the
    // TIMESTAMP's long image) for TIMESTAMP columns, and DATE differences
    // (datediff/int arithmetic, date_add/date_sub, or SubtractDates vs
    // interval literals floored to whole days) in the unix_date day
    // space for DATE columns. Other types take the primary-bound-only
    // path (a tolerance conjunct falls back to Spark's plan).
    if (cs.length == 2 && v.dataType != LongType &&
      v.dataType != TimestampType && v.dataType != DateType) return None
    // the optional second conjunct must be a LITERAL staleness bound —
    // the tolerance idiom (backward: d - v <= t in any of its surface
    // spellings; forward: v - d <= t). Maps onto the as-of join's
    // inclusive tolerance; strict forms subtract one (exact on integers).
    def litOf(e: Expression): Option[Long] = e match {
      case Literal(x: Long, LongType) => Some(x)
      case Literal(x: Int, IntegerType) => Some(x.toLong)
      case _ => None
    }
    def sameAttr(e: Expression, a: AttributeReference): Boolean = e match {
      case r: AttributeReference => r.exprId == a.exprId
      case _ => false
    }
    def tolOf(e: Expression): Option[Long] = {
      def diffBound(a: Expression, b: Expression, lit: Expression,
          st: Boolean): Option[Long] =
        // (a - b) cmp t with a the later side of the match direction
        if ((backward && sameAttr(a, d) && sameAttr(b, v)) ||
            (!backward && sameAttr(a, v) && sameAttr(b, d)))
          litOf(lit).map(t => if (st) t - 1 else t)
        else None
      e match {
        // backward: v >= d - t; forward: v <= d + t (attr-typed cases
        // first, or the generic literal-vs-difference patterns below
        // would swallow them)
        case GreaterThanOrEqual(vv: AttributeReference, Subtract(dd, t, _))
            if backward && sameAttr(vv, v) && sameAttr(dd, d) => litOf(t)
        case GreaterThan(vv: AttributeReference, Subtract(dd, t, _))
            if backward && sameAttr(vv, v) && sameAttr(dd, d) =>
          litOf(t).map(_ - 1)
        case LessThanOrEqual(vv: AttributeReference, Add(dd, t, _))
            if !backward && sameAttr(vv, v) && sameAttr(dd, d) => litOf(t)
        case LessThan(vv: AttributeReference, Add(dd, t, _))
            if !backward && sameAttr(vv, v) && sameAttr(dd, d) =>
          litOf(t).map(_ - 1)
        case LessThanOrEqual(Subtract(a, b, _), t) => diffBound(a, b, t, st = false)
        case LessThan(Subtract(a, b, _), t) => diffBound(a, b, t, st = true)
        case GreaterThanOrEqual(t, Subtract(a, b, _)) => diffBound(a, b, t, st = false)
        case GreaterThan(t, Subtract(a, b, _)) => diffBound(a, b, t, st = true)
        // the TIMESTAMP staleness idiom: `d - v <= INTERVAL ...`
        // decorrelates to SubtractTimestamps vs a DayTimeIntervalType
        // literal, whose stored long IS micros — the TIMESTAMP's image
        case LessThanOrEqual(sub: SubtractTimestamps, Literal(t: Long,
            _: DayTimeIntervalType)) =>
          diffBound(sub.left, sub.right, Literal(t), st = false)
        case LessThan(sub: SubtractTimestamps, Literal(t: Long,
            _: DayTimeIntervalType)) =>
          diffBound(sub.left, sub.right, Literal(t), st = true)
        case GreaterThanOrEqual(Literal(t: Long, _: DayTimeIntervalType),
            sub: SubtractTimestamps) =>
          diffBound(sub.left, sub.right, Literal(t), st = false)
        case GreaterThan(Literal(t: Long, _: DayTimeIntervalType),
            sub: SubtractTimestamps) =>
          diffBound(sub.left, sub.right, Literal(t), st = true)
        // the DATE staleness idioms, in the DATE's day space.
        // `datediff(d, v) <= t`: DateDiff(end, start) = end - start days
        case LessThanOrEqual(DateDiff(a, b), t) => diffBound(a, b, t, st = false)
        case LessThan(DateDiff(a, b), t) => diffBound(a, b, t, st = true)
        case GreaterThanOrEqual(t, DateDiff(a, b)) => diffBound(a, b, t, st = false)
        case GreaterThan(t, DateDiff(a, b)) => diffBound(a, b, t, st = true)
        // `d - v <= INTERVAL ...` on DATEs decorrelates to SubtractDates
        // (possibly cast between interval widths — the value stays
        // micros) vs a DayTimeInterval literal: floor to whole days —
        // exact, the date difference is an integer day count, so
        // days*US <= t  <=>  days <= floor(t/US), and the strict form
        // days*US < t  <=>  days <= floor((t-1)/US)
        case LessThanOrEqual(SubtractDatesMicros(a, b),
            Literal(t: Long, _: DayTimeIntervalType)) =>
          diffBound(a, b, Literal(Math.floorDiv(t, MicrosPerDay)), st = false)
        case LessThan(SubtractDatesMicros(a, b),
            Literal(t: Long, _: DayTimeIntervalType)) =>
          diffBound(a, b, Literal(Math.floorDiv(t - 1, MicrosPerDay)), st = false)
        case GreaterThanOrEqual(Literal(t: Long, _: DayTimeIntervalType),
            SubtractDatesMicros(a, b)) =>
          diffBound(a, b, Literal(Math.floorDiv(t, MicrosPerDay)), st = false)
        case GreaterThan(Literal(t: Long, _: DayTimeIntervalType),
            SubtractDatesMicros(a, b)) =>
          diffBound(a, b, Literal(Math.floorDiv(t - 1, MicrosPerDay)), st = false)
        // `v >= date_sub(d, t)` / `v <= date_add(d, t)` — `d - t` / `d + t`
        // on a DATE resolves to these nodes, t an int-literal day count
        case GreaterThanOrEqual(vv: AttributeReference, DateSub(dd, t))
            if backward && sameAttr(vv, v) && sameAttr(dd, d) => litOf(t)
        case GreaterThan(vv: AttributeReference, DateSub(dd, t))
            if backward && sameAttr(vv, v) && sameAttr(dd, d) =>
          litOf(t).map(_ - 1)
        case LessThanOrEqual(vv: AttributeReference, DateAdd(dd, t))
            if !backward && sameAttr(vv, v) && sameAttr(dd, d) => litOf(t)
        case LessThan(vv: AttributeReference, DateAdd(dd, t))
            if !backward && sameAttr(vv, v) && sameAttr(dd, d) =>
          litOf(t).map(_ - 1)
        case _ => None
      }
    }
    val tolerance: Option[Long] =
      if (cs.length == 1) None
      else tolOf(cs(1 - primIdx)) match {
        case some @ Some(_) => some
        case None => return None // second conjunct is not a staleness bound
      }
    // a tolerance below what a strict bound needs admits nothing: leave
    // Spark's plan (the aggregate is empty anyway)
    if (tolerance.exists(t => (if (strict) t - 1 else t) < 0)) return None
    // grouping: plain attributes, d among them
    val gAttrs = agg.groupingExpressions.map {
      case a: Attribute => a
      case _ => return None
    }
    if (!gAttrs.exists(_.exprId == d.exprId)) return None
    val gbA = gAttrs.filter(j.left.outputSet.contains)
    val gbB = gAttrs.filter(j.right.outputSet.contains)
    if (gbA.length + gbB.length != gAttrs.length) return None
    // aggregate list: grouping attrs (possibly aliased) + >=1 extremum of
    // v in the matching direction, nothing else
    var sawExtremum = false
    agg.aggregateExpressions.foreach {
      case a: Attribute if gAttrs.exists(_.exprId == a.exprId) => ()
      case Alias(a: Attribute, _) if gAttrs.exists(_.exprId == a.exprId) => ()
      case Alias(AggregateExpression(Max(mv: Attribute), _, false, _, _), _)
          if backward && mv.exprId == v.exprId => sawExtremum = true
      case Alias(AggregateExpression(Min(mv: Attribute), _, false, _, _), _)
          if !backward && mv.exprId == v.exprId => sawExtremum = true
      case _ => return None
    }
    if (!sawExtremum) return None
    Some(Shape(v, d, backward, strict, tolerance, gbA, gbB))
  }

}

/** Rewrites the EXTREME-VALUE-OVER-INEQUALITY-JOIN aggregate — the shape
  * Catalyst produces when it decorrelates the classic SQL as-of idiom
  *
  *   WHERE r.ts = (SELECT max(r2.ts) FROM r r2
  *                 WHERE r2.k = l.k AND r2.ts <= l.ts)
  *
  * into `Aggregate[d, k..](max(v), Join(domain, R, v <= d))` — into an
  * as-of join ([[AsOfJoinPlan]]). The inner inequality join is the
  * quadratic part (every domain timestamp against every right row); the
  * as-of join computes the same per-(domain value, key) running maximum
  * with one hash shuffle per side, a per-partition sort, and a linear
  * merge (`graft.joins.AsOfJoinExec`, the kdb/DuckDB ASOF plan).
  *
  * Equivalence: for each (d, k...) group the aggregate's `max(v)` is the
  * latest v <= d within key group k — exactly the backward as-of match of
  * the domain row (d) against R on key k. Groups with no matching v do
  * not exist in the inner-join aggregate, so the unmatched rows are
  * filtered. The as-of join's keys compare null-safe, so SQL's GROUP BY
  * null-key group survives. `min(v)` with `v >= d` is the forward as-of
  * join.
  *
  * The time column may be any type whose long image is exact and
  * order-isomorphic — long/int/short/byte, TIMESTAMP, DATE — the natural
  * production as-of is over TIMESTAMP columns. The extremum is the
  * matched right row's own v, so no value is converted.
  *
  * The rule only builds logical nodes: planning runs no job.
  * `spark.graft.join.asof.enabled=false` disables the rewrite.
  */
case class AsOfAggregateRule(session: SparkSession) extends Rule[LogicalPlan] {
  import RangeJoinShapes._
  import AsOfShapes._

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.join.asof.enabled", "true") != "true") return plan
    plan.transformUp {
      case agg @ Aggregate(_, _, j: Join, _)
          if j.joinType == Inner && !agg.isStreaming && j.condition.isDefined =>
        matchShape(agg, j).map(rewrite(agg, j, _)).getOrElse(agg)
    }
  }

  private def rewrite(agg: Aggregate, j: Join,
      s: RangeJoinShapes.Shape): LogicalPlan = {
    // every (A-group, B-key) pair the aggregate could emit: the distinct
    // A-side groups, times B's distinct keys under fresh ids (the right
    // side keeps B's own).
    //
    // Domain pruning: B's distinct keys carry a per-key extremum (min v
    // backward, max v forward), and the product keeps only the (d, key)
    // pairs the as-of join could possibly match (backward: min(v) <= d;
    // forward: max(v) >= d; strict bounds strictly). The pruned pairs are
    // exactly the groups that would find no match and be filtered, so
    // results are identical; at extreme |d|x|keys| cardinality dead pairs
    // are never materialized or shuffled. A key whose every v is null
    // aggregates to a null extremum and prunes — correct, since a null v
    // matches no inequality in the original plan.
    val domain = distinctOf(s.gbA, j.left)
    val keys = s.gbB.map(a => Alias(a, a.name)())
    val left =
      if (s.gbB.isEmpty) domain
      else {
        val ext = Alias(AggregateExpression(if (s.backward) Min(s.v) else Max(s.v),
          Complete, isDistinct = false), "ext")()
        val e = ext.toAttribute
        val reach = if (s.backward) { if (s.strict) LessThan(e, s.d) else LessThanOrEqual(e, s.d) }
          else { if (s.strict) GreaterThan(e, s.d) else GreaterThanOrEqual(e, s.d) }
        Project(domain.output ++ keys.map(_.toAttribute), Join(domain,
          Aggregate(s.gbB, keys :+ ext, j.right), Inner, Some(reach), JoinHint.NONE))
      }
    // a B-side grouping output is the matched right row's key, which
    // equals the pair's
    val swept = matched(s, left, keys.map(_.toAttribute), s.d, j.right)
    Project(agg.aggregateExpressions.zip(agg.output).map {
      case (a: Attribute, out) => as(a, out)
      case (Alias(a: Attribute, _), out) => as(a, out)
      case (_, out) => as(s.v, out) // matchShape proved: an extremum of v
    }, swept)
  }
}

/** Rewrites the COMPLETE decorrelated as-of idiom — a probe relation
  * equi-joined to the extreme-value aggregate on ALL of its grouping
  * outputs — into a direct as-of join ([[AsOfJoinPlan]]) with the probe
  * itself as its left side:
  *
  *   Join(probe, Aggregate[d, k](max v, Join(dom, R, v <= d ...)),
  *        probe.pd <=> d AND probe.pk = k)
  *     =>
  *   LeftSemi(Filter(v notnull, AsOfJoinPlan(probe, R)), distinct dom.d)
  *
  * This is the piece `AsOfAggregateRule` alone cannot reach: computed in
  * isolation, the aggregate must enumerate |distinct d| × |distinct k|
  * candidate groups (the round-9 verdict's domain watch item), yet the
  * parent join consumes only the probe's own (pd, pk) pairs — at most
  * |probe| rows, usually far fewer than the product. The not-null filter
  * on the matched v keeps inner-join semantics, and a left-semi guard
  * against the original domain keeps the rewrite sound when `dom` is NOT
  * derived from the probe (a group can only exist for d values the
  * domain actually contains; the guard costs one small semi-join on d
  * instead of the full domain product).
  *
  * Fires between `AggregateJoinReorderRule` (which creates the
  * Join(probe, agg) shape from Catalyst's syntactic order) and
  * `AsOfAggregateRule` (which handles aggregates no probe consumes).
  * Null semantics: a null probe time matches nothing and the not-null
  * filter drops it (matching `v <= null` = no group); a null probe key
  * under EqualTo is pre-filtered (null never equals), while under
  * EqualNullSafe it matches R's null-key group, as the as-of join's keys
  * compare null-safe. The rule only builds logical nodes: planning runs
  * no job. `spark.graft.join.asof.enabled=false` disables.
  */
case class AsOfProbeJoinRule(session: SparkSession) extends Rule[LogicalPlan] {
  import RangeJoinShapes._
  import AsOfShapes._

  private def conf(key: String, default: String): String =
    session.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf("spark.graft.join.asof.enabled", "true") != "true") return plan
    plan.transformUp {
      case j @ Join(probe, PeeledAgg(post, agg, inner), Inner, Some(cond),
          JoinHint.NONE) if !j.isStreaming && inner.condition.isDefined =>
        AsOfShapes.matchShape(agg, inner)
          .flatMap(rewrite(j, probe, post, agg, inner, cond, _))
          .getOrElse(j)
    }
  }

  /** An Aggregate over an inner join, under any stack of Filters and
    * attribute-only Projects; the peeled predicates are re-applied above
    * the rewrite (inner-join filters commute), the Projects only narrow
    * which aggregate outputs survive. Returns (peeled filter conditions,
    * the aggregate, its inner join). */
  private object PeeledAgg {
    def unapply(p: LogicalPlan): Option[(Seq[Expression], Aggregate, Join)] =
      p match {
        case f: Filter =>
          unapply(f.child).map { case (cs, a, j) => (cs :+ f.condition, a, j) }
        case pr: Project
            if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
          unapply(pr.child)
        case agg @ Aggregate(_, _, ij: Join, _) if ij.joinType == Inner =>
          Some((Nil, agg, ij))
        case _ => None
      }
  }

  private def rewrite(j: Join, probe: LogicalPlan, peeled: Seq[Expression],
      agg: Aggregate, inner: Join, cond: Expression,
      s: RangeJoinShapes.Shape): Option[LogicalPlan] = {
    // the domain side must contribute exactly the time column to the
    // grouping (the decorrelated idiom's shape)
    if (s.gbA.length != 1 || s.gbA.head.exprId != s.d.exprId) return None
    // classify the aggregate's outputs: grouping passthroughs vs extrema
    val gbIds = (s.gbA ++ s.gbB).map(_.exprId).toSet
    val outs: Seq[(Attribute, Either[Attribute, Unit])] =
      agg.aggregateExpressions.zip(agg.output).map {
        case (a: Attribute, out) if gbIds.contains(a.exprId) =>
          (out, scala.util.Left(a))
        case (Alias(a: Attribute, _), out) if gbIds.contains(a.exprId) =>
          (out, scala.util.Left(a))
        case (_, out) => (out, scala.util.Right(())) // matchShape proved: an extremum of v
      }
    // every grouping output must be equi-bound to a probe ATTRIBUTE in
    // the parent condition; leftover conjuncts become a post-filter
    val gOutSet = AttributeSet(agg.output)
    val probeSet = probe.outputSet
    val binding = scala.collection.mutable.HashMap[ExprId,
      (AttributeReference, Boolean)]() // agg-output -> (probe attr, nullSafe)
    val leftover = scala.collection.mutable.ArrayBuffer[Expression]()
    conjuncts(cond).foreach { e =>
      def bind(x: Expression, y: Expression, ns: Boolean): Boolean = (x, y) match {
        case (g: AttributeReference, pAtt: AttributeReference)
            if gOutSet.contains(g) && probeSet.contains(pAtt) &&
              !binding.contains(g.exprId) =>
          binding += g.exprId -> (pAtt, ns); true
        case _ => false
      }
      e match {
        case EqualTo(x, y) if bind(x, y, ns = false) || bind(y, x, ns = false) => ()
        case EqualNullSafe(x, y) if bind(x, y, ns = true) || bind(y, x, ns = true) => ()
        case other => leftover += other
      }
    }
    // grouping-output coverage + type agreement with the as-of join's columns
    val groupOuts = outs.collect { case (out, scala.util.Left(src)) => (out, src) }
    if (!groupOuts.forall { case (out, _) => binding.contains(out.exprId) })
      return None
    val dOut = groupOuts.collectFirst {
      case (out, src) if src.exprId == s.d.exprId => out }
    if (dOut.isEmpty) return None
    val pd = binding(dOut.get.exprId)._1
    if (pd.dataType != s.d.dataType) return None
    val keyOuts: Seq[(Attribute, Attribute)] = groupOuts.collect {
      case (out, src) if src.exprId != s.d.exprId => (out, src) }
    // each gbB key bound exactly once, types agreeing
    if (keyOuts.map(_._2.exprId).distinct.length != s.gbB.length) return None
    if (!keyOuts.forall { case (out, src) =>
        binding(out.exprId)._1.dataType == src.dataType }) return None
    // leftover conjuncts must not need columns we cannot reproduce
    if (!leftover.forall(_.references.subsetOf(probeSet ++ gOutSet))) return None

    // pre-filter probe keys bound with plain equality: null never matches,
    // while the as-of join's keys compare null-safe
    val eqKeys = keyOuts.map(ko => binding(ko._1.exprId))
      .collect { case (att, false) => IsNotNull(att) }
    val left = eqKeys.reduceOption(And).map(Filter(_, probe)).getOrElse(probe)
    val keyByGb: Map[ExprId, AttributeReference] = keyOuts.map { case (out, src) =>
      src.exprId -> binding(out.exprId)._1 }.toMap
    val swept = matched(s, left, s.gbB.map(k => keyByGb(k.exprId)), pd, inner.right)
    // soundness guard: a (d, k) group exists only for d values the
    // original domain side contains — semi-join the (small) distinct
    // domain
    val guarded = Join(swept, distinctOf(Seq(s.d), inner.left), LeftSemi,
      Some(EqualTo(pd, s.d)), JoinHint.NONE)
    // a key output is the matched right row's key, which equals the
    // probe's; d is the probe's time
    val aggOuts = outs.map {
      case (out, scala.util.Left(src)) if src.exprId == s.d.exprId => as(pd, out)
      case (out, scala.util.Left(src)) => as(src, out)
      case (out, scala.util.Right(_)) => as(s.v, out)
    }
    val projected = Project(probe.output ++ aggOuts, guarded)
    val allPost = leftover.toSeq ++ peeled
    val full: LogicalPlan =
      if (allPost.isEmpty) projected
      else Filter(allPost.reduce(And), projected)
    // the parent join's output may be a subset/reorder: restore exactly
    Some(Project(j.output, full))
  }
}
