package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.DatasetBridge
import graft.functions.GeomScalar

/** Logical KNN-join node: for every query row, the k nearest object rows.
  * SQL `st_knn` joins are captured into it at ANALYSIS time (post-hoc
  * resolution) so that Catalyst's predicate pushdown never sees a plain
  * Join: filters written above the join stay above it, i.e. they apply to
  * the kNN *result*, not to the object set the neighbours are drawn from.
  * `SpatialJoins.knnJoin` builds it directly.
  *
  * This replicates the reference's KnnJoinEarlyRewrite placement *before*
  * PushDownFilter (rust/sedona-query-planner/src/optimizer.rs:140-195) —
  * the pushdown barrier falls out of the node being opaque to the
  * optimizer's Join/Filter rules.
  *
  * @param tieBreak a DOUBLE over the object side that orders objects at
  *   equal distance; None orders them by their geometry's WKB
  * @param rankOutput the `knn_distance` and `knn_rank` attributes the
  *   execs fill after the children's columns, or empty
  * @param objectHint the object side's hint; Spark folds hints into a
  *   `Join`'s hint only, and this node is no `Join`
  */
case class KnnJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    queryGeom: Expression,
    objectGeom: Expression,
    k: Int,
    objectIsLeft: Boolean,
    spheroid: Boolean = false,
    tieBreak: Option[Expression] = None,
    rankOutput: Seq[Attribute] = Nil,
    objectHint: Option[HintInfo] = None) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output ++ rankOutput
  override def producedAttributes: AttributeSet = AttributeSet(rankOutput)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object KnnJoinPlan {

  /** `j` as a KNN join when its condition is exactly
    * `st_knn(query_geom, object_geom[, k[, use_spheroid]])` with constant
    * optional arguments, the join is INNER / CROSS and each geometry
    * comes from one side. An omitted k is 1 (reference
    * test_knnjoin.py test_knn_join_default_k). The object side's hint is
    * the join's, or else one still on the object child. */
  def from(j: Join): Option[KnnJoinPlan] = j match {
    case Join(left, right, jt, Some(GeomScalar("st_knn", args, _, _, _)), hint)
        if (jt == Inner || jt == Cross) && args.length >= 2 && args.length <= 4 &&
          args.drop(2).forall(_.foldable) =>
      val Seq(a, b) = args.take(2)
      val k = if (args.length < 3) 1 else args(2).eval() match {
        case n: java.lang.Number => n.intValue()
        case d: org.apache.spark.sql.types.Decimal => d.toInt
      }
      val sph = args.length == 4 && args(3).eval() == true
      val objectIsLeft =
        if (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet))
          Some(false)
        else if (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
          Some(true)
        else None
      objectIsLeft.map { objLeft =>
        val objectHint =
          if (objLeft) hint.leftHint.orElse(hintOf(left))
          else hint.rightHint.orElse(hintOf(right))
        KnnJoinPlan(left, right, a, b, k, objLeft, sph, objectHint = objectHint)
      }
    case _ => None
  }

  /** The outermost hint still on `side`. */
  def hintOf(side: LogicalPlan): Option[HintInfo] = DatasetBridge.hints(side).headOption
}

/** Analyzer-stage rule: Join ON st_knn(q, o, k[, use_spheroid]) ->
  * KnnJoinPlan. */
object KnnJoinCaptureRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j: Join if j.resolved => KnnJoinPlan.from(j).getOrElse(j)
  }
}
