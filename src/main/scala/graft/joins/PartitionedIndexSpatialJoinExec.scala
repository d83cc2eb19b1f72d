package graft.joins

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types.DataType

/** Partitioned index spatial join: the INNER / CROSS spatial join whose
  * sides have no broadcast build side — both too large, or hinted
  * SHUFFLE_HASH / SHUFFLE_MERGE. It is the reference's out-of-core
  * partitioned join (rust/sedona-spatial-join/src/partitioning/
  * kdb.rs:20-46: sampled KDB tree, multi-assignment, reference-point
  * dedup) on the broadcast index join's build, probe and refine code:
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
  * All of it runs at execution time: planning starts no job. Null and
  * empty geometries match nothing and are dropped.
  */
case class PartitionedIndexSpatialJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    buildGeom: Expression,
    streamGeom: Expression,
    /** predicate oriented as pred(streamG, buildG) */
    predName: String,
    /** bound to the stream side; st_dwithin, or st_dwithinsphere's radius */
    distance: Option[Expression],
    buildIsLeft: Boolean,
    extraCondition: Option[Expression])
  extends BinaryExecNode {

  import BroadcastIndexSpatialJoinExec._
  import PartitionedIndexSpatialJoinExec._

  private def buildPlan = if (buildIsLeft) left else right
  private def streamPlan = if (buildIsLeft) right else left

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "index candidate pairs"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
    val pred = predName
    val spherical = isSpherical(pred)
    val bIsLeft = buildIsLeft
    val boundBuildGeom = BindReferences.bindReference(buildGeom, buildPlan.output)
    val boundStreamGeom = BindReferences.bindReference(streamGeom, streamPlan.output)
    val boundDistance = distance.map(BindReferences.bindReference(_, streamPlan.output))
    val boundExtra = extraCondition.map(BindReferences.bindReference(_, output))
    val outTypes = output.map(_.dataType).toArray
    val streamRows = streamPlan.execute()
    val buildRows = buildPlan.execute()
    val streamBounds = Bounds(boundStreamGeom, boundDistance, stream = true, spherical)
    val buildBounds = Bounds(boundBuildGeom, None, stream = false, spherical)

    val kdb = kdbTree(Seq(streamRows -> streamBounds, buildRows -> buildBounds),
      math.max(1, conf.numShufflePartitions))

    def byLeaf(rows: RDD[InternalRow], attrs: Seq[Attribute], bounds: Bounds) =
      exchange(rows, attrs.map(_.dataType).toArray, kdb.numLeaves)(meeting(kdb, bounds))
    // zipPartitions hands its function no partition index, and a task's
    // partition id is its consuming RDD's (a coalesce above differs), so
    // the leaf id comes from mapPartitionsWithIndex over the zipped pair
    byLeaf(streamRows, streamPlan.output, streamBounds)
      .zipPartitions(byLeaf(buildRows, buildPlan.output, buildBounds))(
        (s, b) => Iterator.single((s, b)))
      .mapPartitionsWithIndex { (leaf, its) =>
        val (streamIter, buildIter) = its.next()
        // the shuffle reader reuses its row buffer: the index keeps copies
        val index = buildIndex(buildIter, boundBuildGeom, spherical, _.copy())
        val probe = new Probe(boundStreamGeom, boundDistance, boundExtra, pred, bIsLeft,
          candidatePairs)
        val owned = (i: Int) =>
          kdb.leafOfPair(probe.bound, index.bounds, 4 * i, spherical) == leaf
        val toUnsafe = UnsafeProjection.create(outTypes)
        streamIter.flatMap(probe(index, _, owned)).map { r => numOutputRows += 1; toUnsafe(r) }
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
    * geometry. */
  def meeting(kdb: KdbTree, bounds: Bounds): () => InternalRow => Iterator[Int] = () => {
    val read = bounds.reader()
    row => {
      val b = read(row)
      if (b == null) Iterator.empty else kdb.leavesOf(b, bounds.spherical).iterator
    }
  }

  /** Slack of a wrapped longitude interval against a leaf edge: it covers
    * the rounding of the ±360 shift that placed a pair's reference point. */
  private val WrapSlack = 1e-9

  /** One side's row bound, as the index sees it: `probeBound` with the
    * distance on the stream side, `buildBound` on the build side. Planar
    * bounds and points read from the WKB; other geometries parse once. */
  final case class Bounds(geom: Expression, distance: Option[Expression],
      stream: Boolean, spherical: Boolean) {

    /** A reader for one task: a row's bound as minX, minY, maxX, maxY, in
      * an array it reuses, or null for a null or empty geometry or a null
      * bound. */
    def reader(): InternalRow => Array[Double] = {
      val shape = new BroadcastIndexSpatialJoinExec.Shape
      val out = new Array[Double](4)
      row =>
        if (!shape.set(geom.eval(row))) null
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

    def numLeaves: Int = this match {
      case KdbLeaf(_) => 1
      case KdbSplit(_, _, lo, hi) => lo.numLeaves + hi.numLeaves
    }

    def leafOf(x: Double, y: Double): Int = this match {
      case KdbLeaf(id) => id
      case KdbSplit(onX, at, lo, hi) => (if ((if (onX) x else y) < at) lo else hi).leafOf(x, y)
    }

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
