package graft.joins

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType, ShortType}

/** The as-of join of [[graft.plans.AsOfJoinPlan]], built like
  * SortMergeJoinExec: each side is clustered on its keys and sorted by
  * (key, time, id), which EnsureRequirements provides with one hash
  * shuffle and one sort per side (stages AQE sees and sizes), and one
  * merge per partition pair holds the latest right row of the current
  * key. A forward join sorts time and id descending, so the same merge
  * finds the earliest right row and the smallest id of a tie. Without
  * keys both sides gather into one partition. Planning starts no job.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightId: Expression,
    tolerance: Option[Long],
    strict: Boolean,
    forward: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output.map(_.withNullability(true))

  // one output row per left row, in the left's partitions
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) AllTuples :: AllTuples :: Nil
    else ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val dir = if (forward) Descending else Ascending
    Seq(leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, dir),
      rightKeys.map(SortOrder(_, Ascending)) ++
        Seq(rightTime, rightId).distinct.map(SortOrder(_, dir)))
  }

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    val (lKeyTime, rKeyTimeId) = (leftKeys :+ leftTime, rightKeys ++ Seq(rightTime, rightId))
    val (lOut, rOut, outSchema) = (left.output, right.output, schema)
    val (fwd, strictly) = (forward, strict)
    // unsigned, -1 is the largest gap: no tolerance bounds nothing
    val tol = tolerance.getOrElse(-1L)
    val n = leftKeys.length // the time's ordinal in the [keys, time(, id)] rows
    val keyTypes = leftKeys.map(_.dataType)
    val time = AsOfJoinExec.longAt(leftTime.dataType)
    left.execute().zipPartitions(right.execute()) { (lefts, rightRows) =>
      val keyOrder = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lProj = UnsafeProjection.create(lKeyTime, lOut)
      val rProj = UnsafeProjection.create(rKeyTimeId, rOut)
      val out = UnsafeProjection.create(outSchema)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)
      val rights = rightRows.buffered
      // the latest right row that passed, and its [keys, time, id]
      var held: InternalRow = null
      var heldKey: UnsafeRow = null
      def passes(rt: Long, lt: Long): Boolean =
        if (fwd) { if (strictly) rt > lt else rt >= lt }
        else { if (strictly) rt < lt else rt <= lt }
      lefts.map { l =>
        val lk = lProj(l)
        val matched = !lk.isNullAt(n) && {
          val lt = time(lk, n)
          var more = true
          while (more && rights.hasNext) {
            val r = rights.head
            val rk = rProj(r)
            val c = keyOrder.compare(rk, lk)
            if (c > 0) more = false
            else if (c < 0 || rk.isNullAt(n) || rk.isNullAt(n + 1)) rights.next()
            else if (passes(time(rk, n), lt)) {
              held = r.copy()
              heldKey = rk.copy()
              rights.next()
            } else more = false
          }
          // the times are ordered, so the true gap is in [0, 2^64): exact
          // as an unsigned long
          held != null && keyOrder.compare(heldKey, lk) == 0 && {
            val ht = time(heldKey, n)
            java.lang.Long.compareUnsigned(if (fwd) ht - lt else lt - ht, tol) <= 0
          }
        }
        numOutputRows += 1
        if (matched) numMatchedRows += 1
        out(joined(l, if (matched) held else nullRight))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinExec {

  /** Reads a time at an ordinal as its long image: the integer, the
    * DATE's days or the TIMESTAMP's micros. */
  def longAt(t: DataType): (InternalRow, Int) => Long = t match {
    case IntegerType | DateType => (r, i) => r.getInt(i).toLong
    case ShortType => (r, i) => r.getShort(i).toLong
    case ByteType => (r, i) => r.getByte(i).toLong
    case _ => (r, i) => r.getLong(i)
  }
}
