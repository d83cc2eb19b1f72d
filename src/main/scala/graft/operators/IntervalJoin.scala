package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 1-D interval overlap join — the banded equi-join specialization of the
  * spatial grid join for time ranges / genomic intervals: emit every
  * (left, right) pair whose CLOSED intervals overlap
  * (`lStart <= rEnd && rStart <= lEnd`), optionally also matching on an
  * equality key (the per-user / per-chromosome case).
  *
  * Plan shape: both sides explode to the fixed-width cells their interval
  * covers, shuffle on (key, cell) — a plain equi-join Catalyst plans as
  * SMJ/SHJ with AQE sizing — then the exact overlap predicate refines and
  * the REFERENCE-CELL rule (count a pair only in the cell containing
  * max(lStart, rStart)) dedups pairs that share several cells without a
  * distinct. Cell width is the deployment knob: pick ~ the typical
  * interval length so per-row fanout is O(1); the quadratic
  * theta-join/BNLJ Spark would otherwise plan never appears.
  */
object IntervalJoin {

  /** `cellWidth > 0` in the same units as the (integral) start/end
    * columns; `origin` anchors cell 0. `key` columns, when given, must be
    * equality-joinable. Column names across sides must not collide.
    * `extraCond` is ANDed into the JOIN condition itself (not a post
    * filter) — streaming callers put their event-time state bound here,
    * where Structured Streaming's watermark analysis can see it. */
  def overlapJoin(left: DataFrame, right: DataFrame,
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      key: Option[(String, String)] = None,
      cellWidth: Long, origin: Long = 0L,
      extraCond: Option[Column] = None): DataFrame = {
    require(cellWidth > 0, "intervalJoin: cellWidth must be positive")
    val dup = left.columns.toSet.intersect(right.columns.toSet)
    require(dup.isEmpty, s"intervalJoin: colliding columns: ${dup.mkString(", ")}")
    def cellOf(c: Column): Column =
      floor((c - lit(origin)) / lit(cellWidth)).cast("long")
    // An inverted interval (start > end) is logically EMPTY and must match
    // nothing — without this filter, sequence(a,b) with b < a yields a
    // DESCENDING cell list and the overlap predicate can still pass, so
    // empty intervals would emit pairs. Null endpoints drop here too
    // (explode(null) would drop them anyway; this makes it explicit).
    val lc = left
      .filter(col(lStart) <= col(lEnd))
      .withColumn("__lc", explode(sequence(cellOf(col(lStart)), cellOf(col(lEnd)))))
    val rc = right
      .filter(col(rStart) <= col(rEnd))
      .withColumn("__rc", explode(sequence(cellOf(col(rStart)), cellOf(col(rEnd)))))
    val equi = key match {
      case Some((lk, rk)) => col("__lc") === col("__rc") && col(lk) === col(rk)
      case None => col("__lc") === col("__rc")
    }
    val joinCond = extraCond.map(equi && _).getOrElse(equi)
    // the closed overlap, and the reference cell: a pair counts only where
    // the later start falls, so multi-cell overlaps emit once. One conjunct
    // (NULL and false both reject): in a stream-stream join's condition
    // each comparison conjunct would log a WARN as a non-watermark bound.
    lc.join(rc, joinCond)
      .filter(coalesce(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__lc") === cellOf(greatest(col(lStart), col(rStart))), lit(false)))
      .drop("__lc", "__rc")
  }
}
