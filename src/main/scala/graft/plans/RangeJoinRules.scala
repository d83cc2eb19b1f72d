package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
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
    * marks a </> bound (rewritten to <=/>= on d∓1 with a boundary
    * guard, exact on integers); `tolerance` is the optional inclusive
    * literal staleness bound (the `AND d - v <= t` idiom), mapped onto
    * the sweep's tolerance parameter. */
  final case class Shape(v: Attribute, d: Attribute, backward: Boolean,
      strict: Boolean, tolerance: Option[Long],
      gbA: Seq[Attribute], gbB: Seq[Attribute])
}

/** Shape matching + long-embedding helpers shared by the as-of family
  * of rules (AsOfAggregateRule, AsOfProbeJoinRule). */
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

  /** Types whose long image is exact and order-isomorphic, so the sweep
    * can run in long space and convert the extremum back losslessly. */
  def exactLongImage(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType |
        TimestampType | DateType => true
    case _ => false
  }

  /** Column-level monotone embedding into long space (exact, not CAST
    * semantics: SQL CAST between long and timestamp is in seconds). */
  def toLongCol(c: org.apache.spark.sql.Column,
      t: DataType): org.apache.spark.sql.Column = t match {
    case LongType => c
    case TimestampType => unix_micros(c)
    case DateType => unix_date(c).cast("long")
    case _ => c.cast("long")
  }

  /** Inverse of [[toLongCol]] at expression level, for the final
    * output projection. */
  def fromLongExpr(e: Expression, t: DataType): Expression = t match {
    case LongType => e
    case TimestampType => MicrosToTimestamp(e)
    case DateType => DateFromUnixDate(Cast(e, IntegerType))
    case _ => Cast(e, t)
  }

  def matchShape(agg: Aggregate, j: Join): Option[RangeJoinShapes.Shape] = {
    val cs = conjuncts(j.condition.get)
    if (cs.isEmpty || cs.length > 2) return None
    // primary bound, normalized lo <= hi; a STRICT bound over integers
    // rewrites exactly to a non-strict bound on d∓1 (the boundary value
    // that would wrap is filtered from the domain — it can match
    // nothing anyway)
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
    // sweep's long space) for TIMESTAMP columns, and DATE differences
    // (datediff/int arithmetic, date_add/date_sub, or SubtractDates vs
    // interval literals floored to whole days) in the unix_date day
    // space for DATE columns. Other types take the primary-bound-only
    // path (a tolerance conjunct falls back to Spark's plan).
    if (cs.length == 2 && v.dataType != LongType &&
      v.dataType != TimestampType && v.dataType != DateType) return None
    // the optional second conjunct must be a LITERAL staleness bound —
    // the tolerance idiom (backward: d - v <= t in any of its surface
    // spellings; forward: v - d <= t). Maps onto the sweep's inclusive
    // tolerance; strict forms subtract one (exact on integers).
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
        // literal, whose stored long IS micros — the sweep's long space
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
        // the DATE staleness idioms, in the sweep's unix_date day space.
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
    // a tolerance that goes negative after the strict shift admits
    // nothing: leave Spark's plan (the aggregate is empty anyway)
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
  * into `Aggregate[d, k..](max(v), Join(domain, R, v <= d))` — into the
  * as-of merge sweep. The inner inequality join is the quadratic part
  * (every domain timestamp against every right row); the sweep computes
  * the same per-(domain value, key) running maximum with one hash shuffle
  * per side, a per-partition sort, and a linear pass
  * (`graft.operators.AsOfJoin`, the kdb/DuckDB ASOF plan).
  *
  * Equivalence: for each (d, k...) group the aggregate's `max(v)` is the
  * latest v <= d within key group k — exactly the backward as-of match of
  * the domain row (d) against R on key k. Groups with no matching v do
  * not exist in the inner-join aggregate, so the sweep's unmatched
  * (null) rows are filtered. The key is carried as a struct so SQL's
  * GROUP BY null-key group survives (a bare null key would be dropped by
  * the sweep's null-key contract). `min(v)` with `v >= d` is the mirrored
  * forward sweep.
  *
  * The time column may be any type whose long image is exact and
  * order-isomorphic — long/int/short/byte, TIMESTAMP (micros via
  * `unix_micros`), DATE (days via `unix_date`) — the natural production
  * as-of is over TIMESTAMP columns. The sweep runs in long space and the
  * extremum converts back losslessly (`MicrosToTimestamp` /
  * `DateFromUnixDate`, never SQL CAST, whose long<->timestamp contract
  * is seconds and would truncate).
  *
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
    import org.apache.spark.sql.graft.DatasetBridge
    val aDF = DatasetBridge.ofRows(session, j.left)
    val bDF = DatasetBridge.ofRows(session, j.right)
    val di = s.gbA.indexWhere(_.exprId == s.d.exprId)
    // the domain of A-side groups; skip the distinct when A is already a
    // grouping-only Aggregate on exactly these columns (the decorrelated
    // idiom's dedup'd outer-reference domain)
    val aDom0 = aDF.select(s.gbA.zipWithIndex.map { case (a, i) =>
      DatasetBridge.column(a).as(s"__ga$i") }: _*)
    val alreadyDistinct = j.left match {
      case ag: Aggregate =>
        ag.aggregateExpressions.forall(!_.exists(
          _.isInstanceOf[AggregateExpression])) &&
          ag.output.map(_.exprId).toSet == s.gbA.map(_.exprId).toSet
      case _ => false
    }
    val aDom = if (alreadyDistinct) aDom0 else aDom0.distinct()
    val gbBNames = s.gbB.indices.map(i => s"__gb$i")
    def withKey(df: org.apache.spark.sql.DataFrame) =
      if (s.gbB.isEmpty) df.withColumn("__ck", lit(0L))
      else df.withColumn("__ck", struct(gbBNames.map(col): _*))
    // every (A-group, B-key) combination the aggregate could emit. A
    // strict bound sweeps on d∓1 (exact for longs); the single domain
    // value whose adjustment would wrap matches nothing in the original
    // semantics, so it is filtered rather than wrapped.
    //
    // Domain pruning: the distinct-keys build doubles as a per-key
    // extremum (min v backward, max v forward) — the same shuffle and
    // output cardinality as the old `.distinct()`, plus one long — and
    // the domain product keeps only (d, key) pairs the sweep could
    // possibly match (backward: min(v) <= sweep point; forward:
    // max(v) >= sweep point). The pruned pairs are exactly the groups
    // that would sweep to null and be dropped by the `__v.isNotNull`
    // filter below, so results are identical; the bound becomes the
    // nested-loop join's condition (Catalyst pushes the filter into the
    // cross join), so at extreme |d|x|keys| cardinality dead pairs are
    // never materialized or shuffled into the sweep. A key whose every
    // v is null aggregates to a null extremum and prunes — correct,
    // since a null v matches no inequality in the original plan.
    val dLong = toLongCol(col(s"__ga$di"), s.d.dataType)
    val lhs0 = withKey(
      if (s.gbB.isEmpty) aDom
      else {
        val ext = (if (s.backward) min(col("__bv")) else max(col("__bv")))
          .as("__bext")
        aDom.crossJoin(bDF.select((s.gbB.zipWithIndex.map { case (a, i) =>
          DatasetBridge.column(a).as(s"__gb$i") } :+
          toLongCol(DatasetBridge.column(s.v), s.v.dataType).as("__bv")): _*)
          .groupBy(gbBNames.map(col): _*).agg(ext))
      })
    val shifted =
      if (!s.strict) lhs0.withColumn("__d", dLong)
      else if (s.backward)
        lhs0.filter(dLong =!= lit(Long.MinValue)).withColumn("__d", dLong - 1L)
      else
        lhs0.filter(dLong =!= lit(Long.MaxValue)).withColumn("__d", dLong + 1L)
    val lhs =
      if (s.gbB.isEmpty) shifted
      else (if (s.backward) shifted.filter(col("__bext") <= col("__d"))
            else shifted.filter(col("__bext") >= col("__d"))).drop("__bext")
    // the tiebreak id must be a COLUMN DISTINCT from the time column:
    // asofForward negates time and id independently, and they alias here
    val rhs = withKey(bDF.select((s.gbB.zipWithIndex.map { case (a, i) =>
      DatasetBridge.column(a).as(s"__gb$i") } :+
      toLongCol(DatasetBridge.column(s.v), s.v.dataType).as("__v")): _*))
      .select(col("__ck"), col("__v"), col("__v").as("__vid"))
    // the strict-primary shift moves the sweep's reference point by one,
    // so an accompanying tolerance tightens by one too:
    // v <= d-1 AND d - v <= t  <=>  (d-1) - v <= t-1
    val sweepTol = s.tolerance
      .map(t => if (s.strict) t - 1 else t).getOrElse(Long.MaxValue)
    val swept =
      if (s.backward) graft.operators.AsOfJoin
        .asofBackward(lhs, rhs, "__ck", "__d", "__v", "__vid", sweepTol)
      else graft.operators.AsOfJoin
        .asofForward(lhs, rhs, "__ck", "__d", "__v", "__vid", sweepTol)
    // groups exist only where the inner join found at least one v
    val res = swept.filter(col("__v").isNotNull)
    val analyzed = res.queryExecution.optimizedPlan
    val byTemp = analyzed.output.map(a => a.name -> a).toMap
    def tempOf(e: NamedExpression): Expression = e match {
      case a: Attribute =>
        val ia = s.gbA.indexWhere(_.exprId == a.exprId)
        if (ia >= 0) byTemp(s"__ga$ia")
        else byTemp(s"__gb${s.gbB.indexWhere(_.exprId == a.exprId)}")
      case Alias(a: Attribute, _) => tempOf(a)
      // the extremum alias: convert the swept long back to the source type
      case _ => fromLongExpr(byTemp("__v"), s.v.dataType)
    }
    Project(agg.aggregateExpressions.zip(agg.output).map { case (ae, out) =>
      Alias(tempOf(ae), out.name)(exprId = out.exprId)
    }, analyzed)
  }
}

/** Rewrites the COMPLETE decorrelated as-of idiom — a probe relation
  * equi-joined to the extreme-value aggregate on ALL of its grouping
  * outputs — into a direct merge sweep with the probe itself as the
  * sweep's left side:
  *
  *   Join(probe, Aggregate[d, k](max v, Join(dom, R, v <= d ...)),
  *        probe.pd <=> d AND probe.pk = k)
  *     =>
  *   Filter(__v notnull, Sweep(lhs = probe, rhs = R))  [semi dom on pd]
  *
  * This is the piece `AsOfAggregateRule` alone cannot reach: computed in
  * isolation, the aggregate must enumerate |distinct d| × |distinct k|
  * candidate groups (the round-9 verdict's domain watch item), yet the
  * parent join consumes only the probe's own (pd, pk) pairs — at most
  * |probe| sweep rows, usually far fewer than the product. The sweep
  * output keeps inner-join semantics via the `__v` not-null filter, and
  * a left-semi guard against the original domain keeps the rewrite
  * sound when `dom` is NOT derived from the probe (a group can only
  * exist for d values the domain actually contains; the guard costs one
  * small semi-join on d instead of the full domain product).
  *
  * Fires between `AggregateJoinReorderRule` (which creates the
  * Join(probe, agg) shape from Catalyst's syntactic order) and
  * `AsOfAggregateRule` (which handles aggregates no probe consumes).
  * Null semantics: a null probe time sweeps unmatched and the not-null
  * filter drops it (matching `v <= null` = no group); a null probe key
  * under EqualTo is pre-filtered (null never equals), while under
  * EqualNullSafe it rides the struct key and correctly matches R's
  * null-key group. `spark.graft.join.asof.enabled=false` disables.
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
    import org.apache.spark.sql.graft.DatasetBridge
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
    // grouping-output coverage + type agreement with the sweep columns
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

    val probeDf0 = DatasetBridge.ofRows(session, probe)
    // name uniqueness: the sweep output is matched back by NAME
    val names = probeDf0.columns
    if (names.distinct.length != names.length) return None
    val temps = Set("__ck", "__d", "__v", "__vid", "__dom_d") ++
      s.gbB.indices.map(i => s"__gb$i")
    if (names.exists(temps.contains)) return None

    // pre-filter probe keys bound with plain equality (null never matches)
    val eqKeys = keyOuts.map(ko => binding(ko._1.exprId))
      .collect { case (att, false) => att }
    val probeDf = eqKeys.foldLeft(probeDf0)((df, att) =>
      df.filter(DatasetBridge.column(att).isNotNull))

    val bDF = DatasetBridge.ofRows(session, inner.right)
    val gbBNames = s.gbB.indices.map(i => s"__gb$i")
    // probe key columns aliased to the shared struct field names so the
    // union inside the sweep sees one key type on both sides
    val keyByGb: Map[ExprId, AttributeReference] = keyOuts.map { case (out, src) =>
      src.exprId -> binding(out.exprId)._1 }.toMap
    def withKey(df: org.apache.spark.sql.DataFrame,
        fields: Seq[org.apache.spark.sql.Column]) =
      if (s.gbB.isEmpty) df.withColumn("__ck", lit(0L))
      else df.withColumn("__ck", struct(
        fields.zip(gbBNames).map { case (c, n) => c.as(n) }: _*))
    val lhs0 = withKey(probeDf,
      s.gbB.map(k => DatasetBridge.column(keyByGb(k.exprId))))
    val dLong = toLongCol(DatasetBridge.column(pd), s.d.dataType)
    val lhs =
      if (!s.strict) lhs0.withColumn("__d", dLong)
      else if (s.backward)
        lhs0.filter(dLong =!= lit(Long.MinValue)).withColumn("__d", dLong - 1L)
      else
        lhs0.filter(dLong =!= lit(Long.MaxValue)).withColumn("__d", dLong + 1L)
    val rhs = withKey(bDF.select((s.gbB.map(a => DatasetBridge.column(a)) :+
      toLongCol(DatasetBridge.column(s.v), s.v.dataType).as("__v")): _*),
      s.gbB.map(a => DatasetBridge.column(a)))
      .select(col("__ck"), col("__v"), col("__v").as("__vid"))
    val sweepTol = s.tolerance
      .map(t => if (s.strict) t - 1 else t).getOrElse(Long.MaxValue)
    val swept =
      if (s.backward) graft.operators.AsOfJoin
        .asofBackward(lhs, rhs, "__ck", "__d", "__v", "__vid", sweepTol)
      else graft.operators.AsOfJoin
        .asofForward(lhs, rhs, "__ck", "__d", "__v", "__vid", sweepTol)
    val matched = swept.filter(col("__v").isNotNull)
    // soundness guard: a (d, k) group exists only for d values the
    // original domain side contains — semi-join the (small) distinct
    // domain unless the probe IS provably that domain's source
    val domD = DatasetBridge.ofRows(session, inner.left)
      .select(DatasetBridge.column(s.d).as("__dom_d")).distinct()
    val guarded = matched.join(domD,
      matched(pd.name) === col("__dom_d"), "left_semi")

    val analyzed = guarded.queryExecution.optimizedPlan
    val byName = analyzed.output.map(a => a.name -> a).toMap
    val probeAliases = probe.output.map(p =>
      Alias(byName(p.name), p.name)(exprId = p.exprId))
    val aggAliases = outs.map {
      case (out, scala.util.Left(src)) if src.exprId == s.d.exprId =>
        Alias(byName(pd.name), out.name)(exprId = out.exprId)
      case (out, scala.util.Left(_)) =>
        Alias(byName(binding(out.exprId)._1.name), out.name)(exprId = out.exprId)
      case (out, scala.util.Right(_)) =>
        Alias(fromLongExpr(byName("__v"), s.v.dataType), out.name)(
          exprId = out.exprId)
    }
    val projected = Project(probeAliases ++ aggAliases, analyzed)
    val allPost = leftover.toSeq ++ peeled
    val full: LogicalPlan =
      if (allPost.isEmpty) projected
      else Filter(allPost.reduce(And), projected)
    // the parent join's output may be a subset/reorder: restore exactly
    Some(Project(j.output, full))
  }
}
