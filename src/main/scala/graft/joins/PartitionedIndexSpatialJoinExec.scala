package graft.joins

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}
import scala.jdk.CollectionConverters._

/** Partitioned index spatial join: the batch spatial join of any type
  * with no broadcast build side — no non-preserved side fits or each is
  * hinted SHUFFLE_HASH / SHUFFLE_MERGE; FULL OUTER always. It is the
  * reference's out-of-core partitioned join (rust/sedona-spatial-join/src/
  * partitioning/kdb.rs:20-46: sampled KDB tree, multi-assignment,
  * reference-point dedup) on the broadcast index join's build, probe and
  * refine code:
  *
  *   1. Sample the bounds of both sides and build a [[KdbTree]] over their
  *      min corners. Its leaves tile the whole plane; there are
  *      `spark.sql.shuffle.partitions` of them, fewer for a small sample.
  *   2. Send each row to every leaf its bound meets, and shuffle both
  *      sides by leaf. A stream bound is widened by the distance; on the
  *      sphere a bound is taken mod 360, and one ≥ 180° wide is the full
  *      ring within its latitude band.
  *   3. In each leaf, build the [[PackedIndex]] over the build rows and
  *      probe it with the stream rows (`BroadcastIndexSpatialJoinExec.Probe`). A
  *      candidate is kept only in the leaf holding its reference point,
  *      the max of the two bounds' min corners, so each pair is refined
  *      and emitted once.
  *
  * A join type with a preserved side (outer, semi, anti, existence; the
  * reference runs them all in one operator, exec.rs:88) numbers that
  * side's rows as read ([[numbered]]). Each leaf notes which preserved
  * rows had an owned pair that passed refine and the extra condition (a
  * preserved build side by one bit per index item). One merge shuffle by
  * row id then gets each preserved row once, with its columns, from the
  * leaf that owns it ([[KdbTree.owner]]), a marker from every other leaf
  * where it matched, and the pairs; there each row emits its null pad, its
  * semi or anti row or its existence flag
  * (`BroadcastIndexSpatialJoinExec.RowEmit`). A merge partition holds its
  * preserved rows in memory.
  *
  * A range join's sides are bound by [[Span]]s, as on the broadcast
  * index join: a span's box has zero height, so the KDB tree splits only
  * on x.
  *
  * All of it runs at execution time: planning starts no job. Null and
  * empty geometries, and spans with a null endpoint, match nothing.
  */
case class PartitionedIndexSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    /** a geometry, or a [[Span]]: see [[RowBound]] */
    buildGeom: Expression,
    streamGeom: Expression,
    /** predicate oriented as pred(streamG, buildG) */
    predName: String,
    /** bound to the stream side; st_dwithin, or st_dwithinsphere's radius */
    distance: Option[Expression],
    buildIsLeft: Boolean,
    joinType: JoinType,
    /** over left.output ++ right.output */
    extraCondition: Option[Expression])
  extends BinaryExecNode {

  import BroadcastIndexSpatialJoinExec._
  import PartitionedIndexSpatialJoinExec._

  private def buildPlan = if (buildIsLeft) left else right
  private def streamPlan = if (buildIsLeft) right else left

  override def output: Seq[Attribute] = joinOutput(joinType, left.output, right.output)

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "index candidate pairs"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
    val pred = predName
    val spherical = isSpherical(pred)
    val bIsLeft = buildIsLeft
    val jt = joinType
    val (leftKept, rightKept) = preserved(jt)
    val streamKept = if (bIsLeft) rightKept else leftKept
    val buildKept = if (bIsLeft) leftKept else rightKept
    // a preserved side travels as [row id, columns]
    def side(plan: SparkPlan, kept: Boolean): (RDD[InternalRow], Seq[Attribute]) =
      if (!kept) (plan.execute(), plan.output)
      else (numbered(plan.execute()),
        AttributeReference("id", LongType, nullable = false)() +: plan.output)
    val (streamRows, streamAttrs) = side(streamPlan, streamKept)
    val (buildRows, buildAttrs) = side(buildPlan, buildKept)
    val pairAttrs = if (bIsLeft) buildAttrs ++ streamAttrs else streamAttrs ++ buildAttrs
    val pairColumns = left.output ++ right.output
    val boundBuildGeom = BindReferences.bindReference(buildGeom, buildAttrs)
    val boundStreamGeom = BindReferences.bindReference(streamGeom, streamAttrs)
    val boundDistance = distance.map(BindReferences.bindReference(_, streamAttrs))
    val boundExtra = extraCondition.map(BindReferences.bindReference(_, pairAttrs))
    val streamBounds = Bounds(boundStreamGeom, boundDistance, stream = true, spherical)
    val buildBounds = Bounds(boundBuildGeom, None, stream = false, spherical)

    val kdb = kdbTree(Seq(streamRows -> streamBounds, buildRows -> buildBounds),
      math.max(1, conf.numShufflePartitions))

    def byLeaf(rows: RDD[InternalRow], attrs: Seq[Attribute], bounds: Bounds, kept: Boolean) =
      exchange(rows, attrs.map(_.dataType).toArray, kdb.numLeaves)(
        meeting(kdb, bounds, kept))

    // an inner join emits its pairs from the leaves; a join with a
    // preserved side sends them to the merge as records [key, kind, bytes],
    // with its preserved rows keyed by id (a right side's complemented)
    val inner = !streamKept && !buildKept
    val pairsOut = !(jt == LeftSemi || jt == LeftAnti || jt.isInstanceOf[ExistenceJoin])
    val (streamColumns, buildColumns) = (streamPlan.output, buildPlan.output)
    val fromLeaves = perLeaf(byLeaf(streamRows, streamAttrs, streamBounds, streamKept),
        byLeaf(buildRows, buildAttrs, buildBounds, buildKept)) { (leaf, streamIter, buildIter) =>
      val unbound = scala.collection.mutable.ArrayBuffer[InternalRow]()
      // the shuffle reader reuses its row buffer: the index keeps copies
      val index = buildIndex(buildIter, boundBuildGeom, spherical, _.copy(),
        if (buildKept) r => unbound += r.copy() else null)
      val probe = new Probe(boundStreamGeom, boundDistance, boundExtra, pred, bIsLeft,
        candidatePairs)
      val owned = (i: Int) =>
        kdb.leafOfPair(probe.bound, index.bounds, 4 * i, spherical) == leaf
      val hit = new java.util.BitSet()
      // rows leave as UnsafeRows, like every Spark join's
      val pairOf = UnsafeProjection.create(pairColumns, pairAttrs)
      lazy val streamRowOf = UnsafeProjection.create(streamColumns, streamAttrs)
      lazy val buildRowOf = UnsafeProjection.create(buildColumns, buildAttrs)
      val record = new SpecificInternalRow(RecordTypes)
      def rec(key: Long, kind: Int, bytes: Array[Byte]) = {
        record.setLong(0, key); record.setInt(1, kind); record.update(2, bytes); record
      }
      // a preserved row's record: with its columns in the leaf that owns
      // it, as a marker in another leaf where it matched
      def keep(id: Long, isLeft: Boolean, matched: Boolean, owner: Int,
          columns: => UnsafeRow): Iterator[InternalRow] = {
        val key = if (isLeft) id else ~id
        if (owner == leaf)
          Iterator.single(rec(key, WithRow | (if (matched) Matched else 0), columns.getBytes))
        else if (matched) Iterator.single(rec(key, Matched, null))
        else Iterator.empty
      }
      val fromStream = streamIter.flatMap { row =>
        val matches = probe(index, row, owned)
        if (inner) matches.map { r => numOutputRows += 1; pairOf(r) }
        else {
          var any = false
          val pairs =
            if (!pairsOut && !buildKept) { any = matches.hasNext; Iterator.empty }
            else matches.flatMap { r =>
              any = true
              if (buildKept) hit.set(probe.item)
              if (pairsOut) Iterator.single(rec(leaf, PairRecord, pairOf(r).getBytes))
              else Iterator.empty
            }
          if (!streamKept) pairs
          else {
            val id = row.getLong(0)
            val owner = kdb.owner(if (probe.bounded) probe.bound else null, 0, spherical, id)
            pairs ++ keep(id, !bIsLeft, any, owner, streamRowOf(row))
          }
        }
      }
      def fromBuild = Iterator.range(0, index.items.size).flatMap { i =>
        val row = index.items.rows(i)
        val id = row.getLong(0)
        keep(id, bIsLeft, hit.get(i), kdb.owner(index.bounds, 4 * i, spherical, id),
          buildRowOf(row))
      } ++ unbound.iterator.flatMap(row =>
        keep(row.getLong(0), bIsLeft, matched = false, leaf, buildRowOf(row)))
      if (buildKept) fromStream ++ fromBuild else fromStream
    }
    if (inner) return fromLeaves

    val merges = math.max(1, conf.numShufflePartitions)
    val outTypes = output.map(_.dataType).toArray
    val (nLeft, nRight) = (left.output.size, right.output.size)
    exchange(fromLeaves, RecordTypes.toArray, merges)(byKey(merges)).mapPartitions { recs =>
      // the preserved rows' columns by key, and the keys that matched
      val rows = new java.util.HashMap[Long, Array[Byte]]()
      val matched = new java.util.HashSet[Long]()
      val pair = new UnsafeRow(nLeft + nRight)
      val pairs = recs.flatMap { r =>
        val (key, kind, bytes) = (r.getLong(0), r.getInt(1), r.getBinary(2))
        if ((kind & Matched) != 0) matched.add(key)
        if ((kind & WithRow) != 0) rows.put(key, bytes)
        if (kind != PairRecord) Iterator.empty
        else { pair.pointTo(bytes, bytes.length); Iterator.single(pair) }
      }
      val toUnsafe = UnsafeProjection.create(outTypes)
      val (leftRow, rightRow) = (new UnsafeRow(nLeft), new UnsafeRow(nRight))
      val (leftEmit, rightEmit) = (new RowEmit(jt, true, nRight), new RowEmit(jt, false, nLeft))
      def pads = rows.entrySet.iterator.asScala.flatMap { e =>
        val isLeft = e.getKey >= 0
        val row = if (isLeft) leftRow else rightRow
        row.pointTo(e.getValue, e.getValue.length)
        (if (isLeft) leftEmit else rightEmit).alone(row, matched.contains(e.getKey))
      }
      (pairs ++ pads).map { r => numOutputRows += 1; toUnsafe(r) }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object PartitionedIndexSpatialJoinExec {

  /** Sampled bounds aimed at per leaf, and the fewest a leaf is cut for. */
  private val SamplePerLeaf = 100
  private val MinSamplePerLeaf = 8

  /** The KDB tree over a sample of `sides`' bound min corners: at most
    * `maxLeaves` leaves, fewer for a small sample. Runs one job. */
  def kdbTree(sides: Seq[(RDD[InternalRow], Bounds)], maxLeaves: Int): KdbTree = {
    val perPartition = math.ceil(3.0 * SamplePerLeaf * maxLeaves /
      math.max(1, sides.map(_._1.getNumPartitions).sum)).toInt
    val sample = sides.map { case (rows, bounds) => sampleCorners(rows, bounds, perPartition) }
      .reduce(_ union _).collect()
    KdbTree(sample, math.min(maxLeaves, math.max(1, sample.length / MinSamplePerLeaf)))
  }

  /** Whether a join of type `jt` preserves its left and its right side:
    * emits a row of that side whether or not it matched. */
  def preserved(jt: JoinType): (Boolean, Boolean) = jt match {
    case LeftOuter | LeftSemi | LeftAnti | ExistenceJoin(_) => (true, false)
    case RightOuter => (false, true)
    case FullOuter => (true, true)
    case _ => (false, false)
  }

  /** `rows` with a row id first: `partition << 33 | n` for the n-th row of
    * its partition, as read. */
  def numbered(rows: RDD[InternalRow]): RDD[InternalRow] =
    rows.mapPartitionsWithIndex { (part, it) =>
      val idRow = new SpecificInternalRow(Seq(LongType))
      val joined = new JoinedRow()
      var i = -1L
      it.map { row => i += 1; idRow.setLong(0, (part.toLong << 33) | i); joined(idRow, row) }
    }

  /** A merge record's kind: a preserved row that matched, with or
    * without its columns, or a pair. */
  private val Matched = 1
  private val WithRow = 2
  private val PairRecord = 4
  private val RecordTypes = Seq(LongType, IntegerType, BinaryType)

  /** `f(leaf, a, b)` over the leaves of `a` and `b`, two RDDs shuffled by
    * leaf. zipPartitions hands its function no partition index, and a
    * task's partition id is its consuming RDD's (a coalesce above
    * differs), so the leaf comes from mapPartitionsWithIndex. */
  def perLeaf(a: RDD[InternalRow], b: RDD[InternalRow])(
      f: (Int, Iterator[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow]) =
    a.zipPartitions(b)((x, y) => Iterator.single((x, y)))
      .mapPartitionsWithIndex { (leaf, its) => val (x, y) = its.next(); f(leaf, x, y) }

  /** Routes a row to one of `n` partitions by the hash of its first
    * column, a long key. */
  def byKey(n: Int): () => InternalRow => Iterator[Int] = () => row =>
    Iterator.single(java.lang.Math.floorMod(java.lang.Long.hashCode(row.getLong(0)), n))

  /** `rows` as UnsafeRows of `types`, shuffled into `n` partitions: each
    * row to every partition the task's `targets` names for it, none to
    * drop it. */
  def exchange(rows: RDD[InternalRow], types: Array[DataType], n: Int)(
      targets: () => InternalRow => Iterator[Int]): RDD[InternalRow] = {
    val keyed = rows.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(types)
      val to = targets()
      it.flatMap { row =>
        val parts = to(row)
        if (!parts.hasNext) Iterator.empty
        else {
          val u = toUnsafe(row).copy()
          parts.map(p => (p, u: InternalRow))
        }
      }
    }
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new HashPartitioner(n))
      .setSerializer(new UnsafeRowSerializer(types.length))
      .map(_._2)
  }

  /** The leaves of `kdb` a row's bound meets: none for a null or empty
    * geometry. A row of a `preserved` side ([[numbered]]) also goes to the
    * leaf that owns it ([[KdbTree.owner]]), bound or not. */
  def meeting(kdb: KdbTree, bounds: Bounds,
      preserved: Boolean = false): () => InternalRow => Iterator[Int] = () => {
    val read = bounds.reader()
    row => {
      val b = read(row)
      val leaves =
        if (b == null) new scala.collection.mutable.BitSet() else kdb.leavesOf(b, bounds.spherical)
      if (preserved) leaves += kdb.owner(b, 0, bounds.spherical, row.getLong(0))
      leaves.iterator
    }
  }

  /** Slack of a wrapped longitude interval against a leaf edge: it covers
    * the rounding of the ±360 shift that placed a pair's reference point. */
  private val WrapSlack = 1e-9

  /** One side's row bound, as the index sees it: `probeBound` with the
    * distance on the stream side, `buildBound` on the build side. `geom`
    * is a geometry or a [[Span]] ([[RowBound]]); planar bounds, points and
    * spans read without a parse, other geometries on the sphere parse once. */
  final case class Bounds(geom: Expression, distance: Option[Expression],
      stream: Boolean, spherical: Boolean) {

    /** A reader for one task: a row's bound as minX, minY, maxX, maxY, in
      * an array it reuses, or null for a null or empty geometry, a null
      * span endpoint or a null bound. */
    def reader(): InternalRow => Array[Double] = {
      val shape = new BroadcastIndexSpatialJoinExec.Shape(geom)
      val out = new Array[Double](4)
      row =>
        if (!shape.set(row)) null
        else if (stream) {
          val d = distance.map(BroadcastIndexSpatialJoinExec.distanceOf(_, row))
          if (BroadcastIndexSpatialJoinExec.probeBound(shape, d, spherical, out)) out else null
        } else {
          BroadcastIndexSpatialJoinExec.buildBound(shape, spherical, out)
          if (out(2) < out(0) || out(3) < out(1)) null else out
        }
    }
  }

  /** Up to `k` min corners of bounds per partition, reservoir-sampled
    * with a per-partition seed; on the sphere wrapped into [-180, 180),
    * and none for a full-ring bound. */
  private def sampleCorners(rows: RDD[InternalRow], bounds: Bounds,
      k: Int): RDD[(Double, Double)] =
    rows.mapPartitionsWithIndex { (part, it) =>
      val rnd = new java.util.Random(part)
      val read = bounds.reader()
      val out = new Array[(Double, Double)](k)
      var seen = 0
      it.foreach { row =>
        val b = read(row)
        if (b != null && !(bounds.spherical && b(2) - b(0) >= 180.0)) {
          val corner = (if (bounds.spherical) wrapLon(b(0)) else b(0), b(1))
          if (seen < k) out(seen) = corner
          else {
            val j = rnd.nextInt(seen + 1)
            if (j < k) out(j) = corner
          }
          seen += 1
        }
      }
      out.iterator.take(math.min(seen, k))
    }

  /** `x` wrapped into [-180, 180); unchanged when already there. */
  def wrapLon(x: Double): Double =
    if (x >= -180.0 && x < 180.0) x
    else {
      val w = x - 360.0 * math.floor((x + 180.0) / 360.0)
      if (w >= 180.0) w - 360.0 else w
    }

  /** The reference longitude of a sphere pair `BuildIndex.querySphere`
    * matched: the larger min longitude of probe bound `q` and build bound
    * `e` (minX, minY, maxX, maxY at `qAt`, `eAt`) in the frame where they
    * meet, wrapped into [-180, 180). A full-ring bound meets in every
    * frame, so the other bound's min is the larger; two full rings take
    * -180. */
  def sphereRefX(q: Array[Double], qAt: Int, e: Array[Double], eAt: Int): Double = {
    val (qMin, qMax, eMin, eMax) = (q(qAt), q(qAt + 2), e(eAt), e(eAt + 2))
    val qFull = qMax - qMin >= 180.0
    val eFull = eMax - eMin >= 180.0
    if (qFull && eFull) -180.0
    else if (qFull) wrapLon(eMin)
    else if (eFull) wrapLon(qMin)
    else wrapLon(BroadcastIndexSpatialJoinExec.Shifts.iterator
      .map(s => (qMin + s, qMax + s))
      .collectFirst { case (lo, hi) if eMin <= hi && lo <= eMax => math.max(lo, eMin) }
      .getOrElse(eMin))
  }

  /** A KDB tree whose leaves tile the whole plane: a split sends a point
    * whose x (or y) is below `at` to `lo`, every other point to `hi`, so
    * each point lies in exactly one leaf, and the outer leaves are open to
    * ±∞. Leaves are numbered 0 until `numLeaves`. */
  sealed trait KdbTree extends Serializable {

    lazy val numLeaves: Int = this match {
      case KdbLeaf(_) => 1
      case KdbSplit(_, _, lo, hi) => lo.numLeaves + hi.numLeaves
    }

    def leafOf(x: Double, y: Double): Int = this match {
      case KdbLeaf(id) => id
      case KdbSplit(onX, at, lo, hi) => (if ((if (onX) x else y) < at) lo else hi).leafOf(x, y)
    }

    /** The leaf of the min corner of bound `b` (minX, minY, maxX, maxY at
      * `at`): on the sphere of its wrapped longitude, and of -180 for a
      * full-ring bound. It is one of the bound's [[leavesOf]]. */
    def leafOfCorner(b: Array[Double], at: Int, spherical: Boolean): Int =
      leafOf(if (!spherical) b(at) else if (b(at + 2) - b(at) >= 180.0) -180.0
        else wrapLon(b(at)), b(at + 1))

    /** The leaf that owns preserved row `id` of bound `b` (at `at`): the
      * leaf of its min corner, or for no bound (null, or max < min) a
      * leaf by its id. */
    def owner(b: Array[Double], at: Int, spherical: Boolean, id: Long): Int =
      if (b == null || b(at + 2) < b(at) || b(at + 3) < b(at + 1))
        java.lang.Math.floorMod(java.lang.Long.hashCode(id), numLeaves)
      else leafOfCorner(b, at, spherical)

    /** The leaf holding the reference point of the pair of probe bound
      * `q` and build bound `e` (minX, minY, maxX, maxY at `eAt`). */
    def leafOfPair(q: Array[Double], e: Array[Double], eAt: Int, spherical: Boolean): Int =
      leafOf(if (spherical) sphereRefX(q, 0, e, eAt) else math.max(q(0), e(eAt)),
        math.max(q(1), e(eAt + 1)))

    /** Every leaf the closed rectangle meets, added to `out`. */
    private def meet(x0: Double, y0: Double, x1: Double, y1: Double,
        out: scala.collection.mutable.BitSet): Unit = this match {
      case KdbLeaf(id) => out += id
      case KdbSplit(onX, at, lo, hi) =>
        if ((if (onX) x0 else y0) < at) lo.meet(x0, y0, x1, y1, out)
        if ((if (onX) x1 else y1) >= at) hi.meet(x0, y0, x1, y1, out)
    }

    /** The leaves a row with bound `env` (minX, minY, maxX, maxY) goes
      * to. On the sphere that is the bound's image mod 360, and the whole
      * latitude band for a bound ≥ 180° wide. */
    def leavesOf(env: Array[Double], spherical: Boolean): scala.collection.mutable.BitSet = {
      val out = new scala.collection.mutable.BitSet()
      val (y0, y1) = (env(1), env(3))
      val inf = Double.PositiveInfinity
      if (!spherical) meet(env(0), y0, env(2), y1, out)
      else if (env(2) - env(0) >= 180.0) meet(-inf, y0, inf, y1, out)
      else {
        val a = wrapLon(env(0)) - WrapSlack
        val b = wrapLon(env(2)) + WrapSlack
        if (a <= b) meet(a, y0, b, y1, out)
        else { meet(a, y0, inf, y1, out); meet(-inf, y0, b, y1, out) }
      }
      out
    }
  }
  final case class KdbLeaf(id: Int) extends KdbTree
  final case class KdbSplit(onX: Boolean, at: Double, lo: KdbTree, hi: KdbTree)
    extends KdbTree

  object KdbTree {

    /** The tree over sample `points` with at most `maxLeaves` leaves: a
      * node's points split at their median on the wider axis, and its
      * leaves are shared out by point count. Coinciding points cannot be
      * split, so many duplicates give fewer leaves. */
    def apply(points: Array[(Double, Double)], maxLeaves: Int): KdbTree = {
      var next = 0
      def grow(pts: Array[(Double, Double)], leaves: Int): KdbTree =
        (if (leaves < 2 || pts.length < 2) None else cut(pts)) match {
          case None => next += 1; KdbLeaf(next - 1)
          case Some((onX, at)) =>
            val (lo, hi) = pts.partition(p => (if (onX) p._1 else p._2) < at)
            val loLeaves = math.min(leaves - 1,
              math.max(1, math.round(leaves.toDouble * lo.length / pts.length).toInt))
            KdbSplit(onX, at, grow(lo, loLeaves), grow(hi, leaves - loLeaves))
        }
      grow(points, maxLeaves)
    }

    /** The split of a node's points: on the wider axis, or the other when
      * it holds a single value; at the median, or just above the least
      * value when that is the median. None when all points coincide. */
    private def cut(pts: Array[(Double, Double)]): Option[(Boolean, Double)] = {
      def at(v: Array[Double]): Option[Double] = {
        val s = v.sorted
        val m = s(s.length / 2)
        if (m > s(0)) Some(m) else s.find(_ > s(0))
      }
      val xs = pts.map(_._1)
      val ys = pts.map(_._2)
      val xFirst = xs.max - xs.min >= ys.max - ys.min
      val first = if (xFirst) at(xs).map(true -> _) else at(ys).map(false -> _)
      first.orElse(if (xFirst) at(ys).map(false -> _) else at(xs).map(true -> _))
    }
  }
}
