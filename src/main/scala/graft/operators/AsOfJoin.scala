package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.TypeCoercion
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, IsNotNull}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.LongType
import graft.plans.AsOfJoinPlan

/** Time-series as-of join — the operator Spark's relational algebra
  * cannot express without a quadratic range join: for every left row,
  * the LATEST right row of the same key with `rightTime <= leftTime`
  * (backward as-of, optionally bounded by a tolerance), left-outer.
  *
  * Scale shape: ONE hash shuffle per side on the key, a per-partition
  * sort, and a linear merge — the plan a dedicated time-series engine
  * (kdb aj, QuestDB/DuckDB ASOF) runs. Both functions return a DataFrame
  * over an [[AsOfJoinPlan]], which plans `graft.joins.AsOfJoinExec`: the
  * shuffles and sorts are ordinary exchanges AQE sizes, and building the
  * DataFrame runs nothing. No per-key windowing, no cross product, no
  * state beyond one held right row per key during the merge.
  *
  * Null semantics (merge_asof-compatible): right rows with a null key,
  * time, or id can never be "the latest match"; left rows with a null
  * key or null time emit unmatched (null right side) — a null key never
  * equals anything, per SQL.
  *
  * Determinism: right rows sharing (key, time) are ordered by the
  * caller-named `rightIdCol` and the LARGEST id wins — a total order the
  * oracle can restate, instead of "whichever row the scan met last".
  */
object AsOfJoin {

  /** `leftTimeCol`/`rightTimeCol` must be integral (cast timestamps to
    * epoch micros first); `keyCol` must exist on both sides; payload
    * column names must not collide across sides (except the key, which
    * is emitted once from the left). A match is at most `toleranceUs`
    * stale; the default, `Long.MaxValue`, bounds nothing. */
  def asofBackward(left: DataFrame, right: DataFrame, keyCol: String,
      leftTimeCol: String, rightTimeCol: String, rightIdCol: String,
      toleranceUs: Long = Long.MaxValue): DataFrame =
    build(left, right, keyCol, leftTimeCol, rightTimeCol, rightIdCol, toleranceUs,
      forward = false)

  /** Forward as-of: the EARLIEST right row at-or-after each left row per
    * key (ties -> smallest right id), same tolerance/outer semantics. */
  def asofForward(left: DataFrame, right: DataFrame, keyCol: String,
      leftTimeCol: String, rightTimeCol: String, rightIdCol: String,
      toleranceUs: Long = Long.MaxValue): DataFrame =
    build(left, right, keyCol, leftTimeCol, rightTimeCol, rightIdCol, toleranceUs,
      forward = true)

  private def build(left: DataFrame, right: DataFrame, keyCol: String,
      leftTimeCol: String, rightTimeCol: String, rightIdCol: String,
      toleranceUs: Long, forward: Boolean): DataFrame = {
    require(toleranceUs >= 0, "asof: tolerance must be non-negative")
    val dup = right.columns.toSet.intersect(left.columns.toSet) - keyCol
    require(dup.isEmpty, s"asof: colliding payload columns: ${dup.mkString(", ")}")
    require(left.schema(leftTimeCol).dataType == LongType &&
      right.schema(rightTimeCol).dataType == LongType,
      "asof: time columns must be LongType (cast timestamps to epoch micros)")
    require(rightTimeCol != keyCol && rightIdCol != keyCol,
      "asof: right time/id columns must be payload, not the key")
    val spark = left.sparkSession
    // the analyzed cross join tells the two sides' attributes apart, also
    // in a self-join
    val (l, r) = left.crossJoin(right).queryExecution.analyzed match {
      case Join(l, r, _, _, _) => (l, r)
    }
    val resolver = spark.sessionState.conf.resolver
    def attr(side: LogicalPlan, name: String): Attribute =
      side.output.find(a => resolver(a.name, name))
        .getOrElse(throw new IllegalArgumentException(s"asof: no column $name"))
    val (lk, rk) = (attr(l, keyCol), attr(r, keyCol))
    // both sides hash and compare the key as one type
    val keyType = TypeCoercion.findWiderTypeForTwo(lk.dataType, rk.dataType)
    require(keyType.isDefined, s"asof: key types ${lk.dataType} and ${rk.dataType} differ")
    def key(a: Attribute) = if (a.dataType == keyType.get) a else Cast(a, keyType.get)
    // the node's keys compare null-safe: a null right key must match nothing
    val node = AsOfJoinPlan(l, Filter(IsNotNull(rk), r), Seq(key(lk)), Seq(key(rk)),
      attr(l, leftTimeCol), attr(r, rightTimeCol), attr(r, rightIdCol),
      Some(toleranceUs).filter(_ != Long.MaxValue), strict = false, forward)
    // the key is emitted once, from the left side
    DatasetBridge.ofRows(spark, Project(node.output.filterNot(_.exprId == rk.exprId), node))
  }
}
