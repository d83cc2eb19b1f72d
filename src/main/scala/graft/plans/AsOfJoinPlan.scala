package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}

/** Logical as-of join: every left row beside the latest right row of the
  * same key whose time is at or before its own (backward) or the earliest
  * at or after it (`forward`), or beside nulls (left outer). Planned as
  * `graft.joins.AsOfJoinExec`; built by `AsOfJoin.asofBackward/asofForward`
  * and the SQL as-of rewrites.
  *
  * Keys compare null-safe, as GROUP BY groups them. The times share one
  * type with an exact long image (an integer, DATE days or TIMESTAMP
  * micros); a right row with a null time or id never matches, a left row
  * with a null time matches nothing. `strict` excludes equal times; a
  * `tolerance` bounds the gap, exactly over the whole long range. Right
  * rows of one key and time are ordered by `rightId`: the largest wins
  * backward, the smallest forward. The output is the children's own
  * columns, the right side nullable.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightId: Expression,
    tolerance: Option[Long],
    strict: Boolean,
    forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}
