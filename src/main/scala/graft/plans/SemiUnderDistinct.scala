package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.joins.SpatialJoinStrategy

/** A grouping-only Aggregate (i.e. DISTINCT) that reads columns from only
  * ONE side of an inner join underneath it cannot observe the join's
  * multiplicities — only which left rows found a partner. The inner join
  * is therefore a LEFT SEMI join:
  *
  *   Distinct(Project(a.cols, Join(a, b, Inner, cond)))
  *     = Distinct(Project(a.cols, Join(a, b, LeftSemi, cond)))
  *
  * Catalyst has no such rule, and the shape arises naturally from its own
  * subquery decorrelation: the domain of a correlated scalar subquery is
  * `DISTINCT(outer refs)` over the FULL outer relation — which, when the
  * subquery sits above a join, drags the whole join product into the
  * domain build. The semi form skips materializing |a|·|b|/|keys| rows
  * (and lets Catalyst broadcast b's distinct keys).
  *
  * Fired only when every aggregate output is aggregation-free (pure
  * DISTINCT — a count/sum DOES observe multiplicities) and every
  * referenced column comes from one join side, and not when the broadcast
  * index join takes the inner join but not its semi form. Mirrored for
  * the right side by swapping the children.
  * `spark.graft.semidistinct.enabled=false` disables.
  */
case class SemiUnderDistinctRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  private def enabled: Boolean = session.conf
    .getOption("spark.graft.semidistinct.enabled").forall(_ == "true")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case agg @ Aggregate(_, aes, child, _)
          if aes.forall(ae => !ae.exists(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
              .aggregate.AggregateExpression])) =>
        rewrite(agg, child).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate, child: LogicalPlan): Option[Aggregate] = {
    // the columns the distinct actually reads (through an optional
    // projection chain above the join)
    def descend(p: LogicalPlan, needed: AttributeSet): Option[LogicalPlan] =
      p match {
        case Project(pl, c) =>
          // keep only the entries the distinct reads: an unneeded entry may
          // reference the join side the semi rewrite is about to drop, and
          // copying it through would leave an unresolvable Project
          val kept = pl.filter(e => needed.contains(e.toAttribute))
          val below = AttributeSet(kept.flatMap(_.references))
          descend(c, below).map(nc => Project(kept, nc))
        case jn @ Join(a, b, Inner, cond, JoinHint.NONE) if !jn.isStreaming =>
          val semi =
            if (needed.subsetOf(a.outputSet)) Some(jn.copy(joinType = LeftSemi))
            else if (needed.subsetOf(b.outputSet)) Some(Join(b, a, LeftSemi, cond, JoinHint.NONE))
            else None
          semi.filterNot(keepsInner(jn, _))
        case _ => None
      }
    descend(child, agg.references).map(nc => agg.copy(child = nc))
  }

  /** A semi join broadcasts only its non-preserved side, so an inner
    * spatial join the broadcast index join takes by building the side the
    * semi form keeps stays inner: broadcast, not shuffled into the
    * partitioned index join. */
  private def keepsInner(inner: Join, semi: Join): Boolean = inner.condition.exists { c =>
    def broadcast(j: Join) =
      SpatialJoinStrategy.indexJoin(session, j.joinType, j.left, j.right, c, j.hint).isDefined
    broadcast(inner) && !broadcast(semi)
  }
}
