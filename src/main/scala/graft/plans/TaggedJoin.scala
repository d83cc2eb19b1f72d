package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.storage.StorageLevel
import graft.CacheRegistry

/** The LEFT OUTER banded range join (`BandedRangeJoinRule`), composed from
  * one INNER join over the row-id-tagged left side L' = L + lid:
  *
  *   inner(L', R) ∪ (L' ANTI distinct lid of inner(L', R)) × nulls
  *
  * Spatial joins never come here: both index joins run every join type.
  * L' is persisted, so both branches see one id set, and registered with
  * `CacheRegistry` (released once the consuming query completes). Columns
  * go by position, so the sides may share names; the result is re-aliased
  * to the join's output. A side with a column named with the tag prefix
  * declines the rewrite.
  */
private[plans] object TaggedJoin {

  private val Prefix = "__tj_"

  /** LEFT OUTER `j` on the inner join `inner` builds over two sides (its
    * output their columns in order), or None when the rewrite declines. */
  def apply(session: SparkSession, j: Join)(
      inner: (LogicalPlan, LogicalPlan) => DataFrame): Option[LogicalPlan] = {
    def clashes(p: LogicalPlan) =
      p.output.exists(_.name.toLowerCase(java.util.Locale.ROOT).startsWith(Prefix))
    if (j.joinType != LeftOuter || clashes(j.left) || clashes(j.right)) return None
    val lDF = CacheRegistry.register(DatasetBridge.ofRows(session, j.left)
      .withColumn(Prefix + "lid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK))
    // the tagged left keeps j.left's attribute ids, so the join condition
    // resolves against it unchanged
    val tl = lDF.queryExecution.analyzed
    val joined = inner(tl, j.right)
    val out = joined.queryExecution.analyzed.output
    val nL = j.left.output.length
    val result = Some(out).filter(_.length == nL + 1 + j.right.output.length).map { _ =>
      val matched = joined.select(DatasetBridge.column(out(nL)).as(Prefix + "mid")).distinct()
      joined.select(out.patch(nL, Nil, 1).map(DatasetBridge.column): _*).unionAll(
        lDF.join(matched, DatasetBridge.column(tl.output.last) === col(Prefix + "mid"),
          "left_anti").select(j.left.output.map(DatasetBridge.column) ++
          j.right.output.map(a => lit(null).cast(a.dataType)): _*))
        .queryExecution.optimizedPlan
    }.filter(_.output.length == j.output.length).map(plan =>
      // the result under the original join's output ids
      Project(j.output.zip(plan.output).map { case (orig, a) =>
        Alias(a, orig.name)(exprId = orig.exprId)
      }, plan))
    // a declined rewrite releases its cache: left pinned, it would hold its
    // input for the session
    if (result.isEmpty) CacheRegistry.release(lDF)
    result
  }
}
