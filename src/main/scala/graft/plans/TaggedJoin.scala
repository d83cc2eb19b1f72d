package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.{FullOuter, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.storage.StorageLevel
import graft.CacheRegistry

/** The non-inner theta joins, composed from one INNER join over
  * row-id-tagged sides (the reference's spatial join runs all join types
  * through one operator, rust/sedona-spatial-join/src/exec.rs:88; here
  * the inner join is the caller's plan and the other types are assembled
  * around it):
  *
  *   LEFT SEMI      L' SEMI matched          L' = L + lid (persisted)
  *   LEFT ANTI      L' ANTI matched          matched = distinct lid of inner(L', R)
  *   LEFT OUTER     inner(L', R) ∪ (L' ANTI matched) × nulls
  *   RIGHT OUTER    LEFT OUTER with the sides swapped, columns put back
  *   FULL OUTER     pairs ⋈ L' ⋈ R' ∪ (L' ANTI pairs.lid) × nulls
  *                    ∪ nulls × (R' ANTI pairs.rid)
  *                  R' = R + rid; pairs = (lid, rid) of inner(L', R'), persisted
  *
  * The tagged sides are persisted so every branch sees one id set, and
  * registered with `CacheRegistry` (released once the consuming query
  * completes). Column plumbing is positional, so the sides may share
  * column names; the result is re-aliased to the original join's output.
  * A side that already has a column named with the tag prefix declines
  * the rewrite.
  */
private[plans] object TaggedJoin {

  private val Prefix = "__tj_"
  private val Lid = Prefix + "lid"
  private val Rid = Prefix + "rid"
  private val Mid = Prefix + "mid"
  private val PairLid = Prefix + "plid"
  private val PairRid = Prefix + "prid"

  /** The inner join over two (possibly tagged) sides; its output is the
    * left side's columns followed by the right side's. */
  type Build = (LogicalPlan, LogicalPlan) => DataFrame

  def handles(jt: JoinType): Boolean = jt match {
    case LeftOuter | LeftSemi | LeftAnti | RightOuter | FullOuter => true
    case _ => false
  }

  /** `j` rewritten onto `inner`, or None when the rewrite declines. */
  def apply(session: SparkSession, j: Join)(inner: Build): Option[LogicalPlan] =
    j.joinType match {
      case _ if j.left.output.exists(clashes) || j.right.output.exists(clashes) => None
      case LeftOuter | LeftSemi | LeftAnti => leftTyped(session, j, inner)
      case RightOuter =>
        leftTyped(session, Join(j.right, j.left, LeftOuter, j.condition, JoinHint.NONE), inner)
          .map(p => Project(j.output.map(a => p.output.find(_.exprId == a.exprId).get), p))
      case FullOuter => fullOuter(session, j, inner)
      case _ => None
    }

  private def clashes(a: org.apache.spark.sql.catalyst.expressions.Attribute): Boolean =
    a.name.toLowerCase(java.util.Locale.ROOT).startsWith(Prefix)

  private def tagged(session: SparkSession, side: LogicalPlan, tag: String): DataFrame =
    CacheRegistry.register(DatasetBridge.ofRows(session, side)
      .withColumn(tag, monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK))

  private def nulls(side: LogicalPlan) = side.output.map(a => lit(null).cast(a.dataType))

  /** LEFT OUTER / SEMI / ANTI from the matched left-id set. */
  private def leftTyped(session: SparkSession, j: Join, inner: Build): Option[LogicalPlan] = {
    val lDF = tagged(session, j.left, Lid)
    // the tagged left keeps j.left's attribute ids, so the join condition
    // resolves against it unchanged
    val tl = lDF.queryExecution.analyzed
    val joined = inner(tl, j.right)
    val out = joined.queryExecution.analyzed.output
    val nL = j.left.output.length
    if (out.length != nL + 1 + j.right.output.length) return bail(lDF)
    val matched = joined.select(DatasetBridge.column(out(nL)).as(Mid)).distinct()
    val byId = DatasetBridge.column(tl.output.last) === col(Mid)
    val lCols = j.left.output.map(DatasetBridge.column)
    val result = j.joinType match {
      case LeftSemi => lDF.join(matched, byId, "left_semi").select(lCols: _*)
      case LeftAnti => lDF.join(matched, byId, "left_anti").select(lCols: _*)
      case _ =>
        joined.select(out.patch(nL, Nil, 1).map(DatasetBridge.column): _*)
          .unionAll(lDF.join(matched, byId, "left_anti")
            .select(lCols ++ nulls(j.right): _*))
    }
    realias(j, result).orElse(bail(lDF))
  }

  /** FULL OUTER from the persisted (lid, rid) pairs: the inner join runs
    * once, and the matched rows rebuild through equi joins against the
    * persisted sides (the KNN winner-rejoin pattern). The matched-id sets
    * are distinct long sets, broadcast-sized in the anti joins at any
    * scale where the inner result itself is computable. */
  private def fullOuter(session: SparkSession, j: Join, inner: Build): Option[LogicalPlan] = {
    val lDF = tagged(session, j.left, Lid)
    val rDF = tagged(session, j.right, Rid)
    val tl = lDF.queryExecution.analyzed
    val tr = rDF.queryExecution.analyzed
    val joined = inner(tl, tr)
    val out = joined.queryExecution.analyzed.output
    val nL = j.left.output.length
    val nR = j.right.output.length
    if (out.length != nL + 1 + nR + 1) return bail(lDF, rDF)
    val pairs = CacheRegistry.register(
      joined.select(DatasetBridge.column(out(nL)).as(PairLid),
          DatasetBridge.column(out.last).as(PairRid))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val Seq(pLid, pRid) = pairs.queryExecution.analyzed.output.map(DatasetBridge.column)
    val lId = DatasetBridge.column(tl.output.last)
    val rId = DatasetBridge.column(tr.output.last)
    // the rejoin is a self-join (pairs' lineage holds both sides), so
    // Spark re-ids the repeated attributes: take the wide row by position
    val rejoined = pairs.join(lDF, pLid === lId).join(rDF, pRid === rId)
    val rjOut = rejoined.queryExecution.analyzed.output
    if (rjOut.length != 2 + nL + 1 + nR + 1) return bail(lDF, rDF, pairs)
    val matchedRows = rejoined.select(
      (rjOut.slice(2, 2 + nL) ++ rjOut.slice(3 + nL, 3 + nL + nR))
        .map(DatasetBridge.column): _*)
    val antiL = lDF.join(pairs.select(pLid.as(Mid)).distinct(), lId === col(Mid), "left_anti")
      .select(j.left.output.map(DatasetBridge.column) ++ nulls(j.right): _*)
    val antiR = rDF.join(pairs.select(pRid.as(Mid)).distinct(), rId === col(Mid), "left_anti")
      .select(nulls(j.left) ++ j.right.output.map(DatasetBridge.column): _*)
    realias(j, matchedRows.unionAll(antiL).unionAll(antiR))
      .orElse(bail(lDF, rDF, pairs))
  }

  /** `result`'s optimized plan under the original join's output ids. */
  private def realias(j: Join, result: DataFrame): Option[LogicalPlan] = {
    val plan = result.queryExecution.optimizedPlan
    if (plan.output.length != j.output.length) None
    else Some(Project(j.output.zip(plan.output).map { case (orig, a) =>
      Alias(a, orig.name)(exprId = orig.exprId)
    }, plan))
  }

  /** A declined rewrite releases the caches it persisted: left pinned,
    * they would hold their inputs for the session. */
  private def bail(dfs: DataFrame*): Option[LogicalPlan] = {
    dfs.foreach(CacheRegistry.release)
    None
  }
}
