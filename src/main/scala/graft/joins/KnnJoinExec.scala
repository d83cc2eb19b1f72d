package graft.joins

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.ByteArray
import org.locationtech.jts.geom.{Geometry, Point}
import graft.functions.Spherical
import graft.joins.BroadcastIndexSpatialJoinExec.{Items, Shape, pointDistance}

/** Broadcast KNN join: `q JOIN o ON st_knn(q.geom, o.geom, k)` — for every
  * query-side row, the k nearest object rows. The object side is broadcast
  * and indexed once per broadcast value (`BroadcastIndexSpatialJoinExec`'s
  * executor cache); each query row runs [[KnnJoinExec.nearest]], the search
  * [[PartitionedKnnJoinExec]] runs per leaf.
  *
  * Reference: ST_KNN stub + SpatialJoinPlanNode rewrite
  * (rust/sedona-functions/src/st_knn.rs:30-44,
  * rust/sedona-query-planner/src/optimizer.rs:140-195) and the tie
  * re-search of index/default_spatial_index.rs:359-430. The reference's
  * pushdown barrier caveat applies: place object-side filters in a
  * subquery if they must run BEFORE the kNN (Catalyst pushdown happens
  * before this strategy sees the plan).
  *
  * @param tieBreak a DOUBLE over the object side ordering equal
  *   distances; None orders them by the object WKB
  * @param rankOutput `knn_distance` and `knn_rank`, or empty
  */
case class KnnJoinExec(
    queryPlan: SparkPlan,
    objectPlan: SparkPlan,
    queryGeom: Expression,
    objectGeom: Expression,
    k: Int,
    objectIsLeft: Boolean,
    spheroid: Boolean,
    tieBreak: Option[Expression],
    rankOutput: Seq[Attribute])
  extends BinaryExecNode {

  import KnnJoinExec._

  override def left: SparkPlan = if (objectIsLeft) objectPlan else queryPlan
  override def right: SparkPlan = if (objectIsLeft) queryPlan else objectPlan
  override def output: Seq[Attribute] = left.output ++ right.output ++ rankOutput

  override def requiredChildDistribution: Seq[Distribution] = {
    val b = BroadcastDistribution(IdentityBroadcastMode)
    if (objectIsLeft) Seq(b, UnspecifiedDistribution) else Seq(UnspecifiedDistribution, b)
  }

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "knn candidate pairs"),
    "indexBuildTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index build time"),
    "indexWaitTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index wait time"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
    val buildTime = longMetric("indexBuildTime")
    val waitTime = longMetric("indexWaitTime")
    val broadcastRows = objectPlan.executeBroadcast[Array[InternalRow]]()
    val objects = ObjectSide.bound(objectPlan.output, objectGeom, tieBreak, spheroid)
    val boundQueryGeom = BindReferences.bindReference(queryGeom, queryPlan.output)
    val kk = k
    val objLeft = objectIsLeft
    val ranked = rankOutput.nonEmpty
    val outTypes = output.map(_.dataType).toArray

    queryPlan.execute().mapPartitions { queryIter =>
      val rows = broadcastRows.value
      val index = BroadcastIndexSpatialJoinExec.indexFor(rows, objects, buildTime, waitTime)(
        objects.index(rows.iterator, copy = false))
      val emit = new Emit(objLeft, ranked, outTypes)
      val search = new Search(index)
      val q = new Shape(boundQueryGeom)
      queryIter.flatMap { qRow =>
        if (!q.set(qRow)) Iterator.empty
        else {
          val cands = search.nearest(q, kk, candidatePairs)
          numOutputRows += cands.length
          emit(qRow, cands)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    if (objectIsLeft) copy(objectPlan = newLeft, queryPlan = newRight)
    else copy(queryPlan = newLeft, objectPlan = newRight)
}

/** The KNN search both KNN execs run, and its one order: (distance,
  * tie-break, object row bytes). */
object KnnJoinExec {

  /** A ranked object: its distance, its tie key and its row. */
  final class Candidate(val d: Double, val tie: Array[Byte], val row: UnsafeRow)

  /** Distance, then the tie key, then the object row's bytes: a total
    * order, so every path keeps the same k rows. Keys are computed once per
    * object. */
  val byRank: java.util.Comparator[Candidate] = (a, b) => {
    val c = java.lang.Double.compare(a.d, b.d)
    if (c != 0) c
    else {
      val t = ByteArray.compareBinary(a.tie, b.tie)
      if (t != 0) t else compareRows(a.row, b.row)
    }
  }

  /** Two rows' bytes, unsigned and lexicographic, as
    * `ByteArray.compareBinary` orders arrays. */
  private def compareRows(a: UnsafeRow, b: UnsafeRow): Int = {
    val n = math.min(a.getSizeInBytes, b.getSizeInBytes)
    var i = 0
    while (i < n) {
      val x = Platform.getByte(a.getBaseObject, a.getBaseOffset + i) & 0xff
      val y = Platform.getByte(b.getBaseObject, b.getBaseOffset + i) & 0xff
      if (x != y) return x - y
      i += 1
    }
    a.getSizeInBytes - b.getSizeInBytes
  }

  /** The `k` best candidates offered, by [[byRank]]. */
  final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[Candidate](math.max(1, k), byRank.reversed())
    def offer(c: Candidate): Unit =
      if (heap.size < k) heap.add(c)
      else if (k > 0 && byRank.compare(c, heap.peek) < 0) { heap.poll(); heap.add(c) }
    def sorted: Array[Candidate] = {
      val out = heap.toArray(new Array[Candidate](0))
      java.util.Arrays.sort(out, byRank)
      out
    }
  }

  /** A tie-break DOUBLE as bytes in the same unsigned order; null first. */
  def doubleKey(v: Any): Array[Byte] = v match {
    case d: Double =>
      val bits = java.lang.Double.doubleToLongBits(d)
      java.nio.ByteBuffer.allocate(8).putLong(if (bits < 0) ~bits else bits ^ Long.MinValue).array()
    case _ => Array.emptyByteArray
  }

  /** How object rows enter the search; also the broadcast index's cache
    * key. `geom` and `tieBreak` are bound to the object side's output. */
  final case class ObjectSide(types: Seq[DataType], geom: Expression,
      tieBreak: Option[Expression], spheroid: Boolean) {

    /** The index over `rows`' non-empty geometries. Rows that are already
      * UnsafeRows are kept as they are, or copied when `copy` (a reused
      * row buffer); others are projected. */
    def index(rows: Iterator[InternalRow], copy: Boolean): KnnIndex = {
      val toUnsafe = UnsafeProjection.create(types.toArray)
      val items = Items(rows, geom, {
        case u: UnsafeRow => if (copy) u.copy() else u
        case r => toUnsafe(r).copy()
      })
      val ties = items.rows.map { row =>
        tieBreak match {
          case Some(t) => doubleKey(t.eval(row))
          case None => geom.eval(row).asInstanceOf[Array[Byte]]
        }
      }
      new KnnIndex(items, ties, spheroid)
    }
  }

  object ObjectSide {
    /** The object side of `attrs`, its expressions bound to them. */
    def bound(attrs: Seq[Attribute], geom: Expression, tieBreak: Option[Expression],
        spheroid: Boolean): ObjectSide =
      ObjectSide(attrs.map(_.dataType), BindReferences.bindReference(geom, attrs),
        tieBreak.map(BindReferences.bindReference(_, attrs)), spheroid)
  }

  /** The objects of one broadcast or one leaf, their rows UnsafeRows:
    * planar in a [[PackedIndex]] of their bounds; on the sphere, all-point
    * objects in a [[ChordKdTree]] (chord distance is strictly monotone in
    * great-circle distance), others unindexed. `bounds` are the objects'
    * index bounds (spherical on the sphere). */
  final class KnnIndex(val items: Items, val ties: Array[Array[Byte]], val spheroid: Boolean) {
    def size: Int = items.size
    def row(i: Int): UnsafeRow = items.rows(i).asInstanceOf[UnsafeRow]
    val bounds: Array[Double] = items.indexBounds(spheroid)
    val points: Boolean = (0 until size).forall(items.isPoint)
    val tree: PackedIndex =
      if (spheroid || size == 0) null else PackedIndex(items.bounds, Array.range(0, size))
    val chord: ChordKdTree =
      if (!spheroid || size == 0 ||
          !(0 until size).forall(i => items.isPoint(i) || items.geom(i).isInstanceOf[Point])) null
      else {
        val t = new ChordKdTree(size)
        (0 until size).foreach { i =>
          if (items.isPoint(i)) t.add(items.bounds(4 * i), items.bounds(4 * i + 1))
          else { val c = items.geom(i).getCoordinate; t.add(c.x, c.y) }
        }
        t.build()
        t
      }
  }

  /** Great-circle distance in meters between the planar-nearest points of
    * two lon/lat geometries (exact for point-point). */
  def geodesicDistance(a: Geometry, b: Geometry): Double = (a, b) match {
    case (p: Point, q: Point) => Spherical.haversine(p.getX, p.getY, q.getX, q.getY)
    case _ =>
      val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(a, b)
      Spherical.haversine(pts(0).x, pts(0).y, pts(1).x, pts(1).y)
  }

  /** The distance from `q` to object `i`: JTS's planar distance, or
    * [[geodesicDistance]] on the sphere; between two points from their
    * coordinates, with no parse. */
  def distance(q: Shape, index: KnnIndex, i: Int): Double = {
    val items = index.items
    if (q.isPoint && items.isPoint(i)) {
      val (x, y) = (items.bounds(4 * i), items.bounds(4 * i + 1))
      if (index.spheroid) Spherical.haversine(q.bound(0), q.bound(1), x, y)
      else pointDistance(q.bound(0), q.bound(1), x, y)
    } else if (index.spheroid) geodesicDistance(q.geom, items.geom(i))
    else q.geom.distance(items.geom(i))
  }

  /** `r` plus a rounding slack, so a bound widened by it holds every
    * geometry within `r` of `q`: 1e-9 of it plus 1 mm on the sphere, 1e-12
    * of it and of `q`'s coordinates on the plane. */
  def padded(q: Shape, r: Double, spheroid: Boolean): Double =
    if (r.isPosInfinity) r
    else if (spheroid) r * (1 + 1e-9) + 1e-3
    else {
      val b = q.bound
      val mag = math.max(math.max(math.abs(b(0)), math.abs(b(2))),
        math.max(math.abs(b(1)), math.abs(b(3))))
      r + 1e-12 * (r + mag)
    }

  /** One task's search over one index, with its scratch. */
  final class Search(val index: KnnIndex) {
    private val heap = new PackedIndex.MinHeap
    private var found = new Array[Int](16)
    private var q: Shape = _
    private val exact: Int => Double = i => distance(q, index, i)

    /** A radius at least the kth smallest distance from `q` to the
      * objects, +∞ when there are fewer than k: planar the largest
      * distance among the k objects the packed tree finds nearest (best
      * first, by squared box distance, and by exact distance for
      * non-points); on the sphere the chord tree's kth chord (padded into
      * meters) or a full rank. Any radius at least the kth distance ranks
      * the same k objects in [[rankWithin]]. */
    def kthDistance(q: Shape, k: Int): Double = {
      if (index.size < k || k < 1) Double.PositiveInfinity
      else if (index.tree != null) {
        this.q = q
        if (found.length < k) found = new Array[Int](k)
        val b = q.bound
        val n = index.tree.nearest(b(0), b(1), b(2), b(3), k,
          if (q.isPoint && index.points) null else exact, heap, found)
        var r = 0.0
        var j = 0
        while (j < n) { r = math.max(r, distance(q, index, found(j))); j += 1 }
        r
      } else if (index.chord != null && isPoint(q)) {
        val c2 = index.chord.kthDist2(embed(q), k)
        padded(q, 2 * Spherical.R * math.asin(math.min(1.0, math.sqrt(c2) / 2)), spheroid = true)
      } else {
        val ds = Array.tabulate(index.size)(i => distance(q, index, i))
        java.util.Arrays.sort(ds)
        ds(k - 1)
      }
    }

    /** The up to `k` best objects within `radius` of `q` that `keep`
      * admits (null admits all), best first by [[byRank]]. `candidates`
      * counts the distances computed. */
    def rankWithin(q: Shape, radius: Double, k: Int, keep: Int => Boolean = null,
        candidates: SQLMetric = null): Array[Candidate] = {
      if (k < 1 || index.size == 0) return Array.empty
      val top = new TopK(k)
      var n = 0L
      val offer: Int => Unit = i =>
        if (keep == null || keep(i)) {
          n += 1
          val d = distance(q, index, i)
          if (d <= radius) top.offer(new Candidate(d, index.ties(i), index.row(i)))
        }
      if (radius.isPosInfinity) (0 until index.size).foreach(offer)
      else if (index.tree != null) {
        val pad = padded(q, radius, spheroid = false)
        val b = q.bound
        index.tree.query(b(0) - pad, b(1) - pad, b(2) + pad, b(3) + pad, offer)
      } else if (index.chord != null && isPoint(q)) {
        val chord = 2 * math.sin(math.min(math.Pi / 2,
          padded(q, radius, spheroid = true) / (2 * Spherical.R)))
        index.chord.range(embed(q), chord * chord).foreach(offer)
      } else (0 until index.size).foreach(offer)
      if (candidates != null) candidates += n
      top.sorted
    }

    private def isPoint(q: Shape): Boolean = q.isPoint || q.geom.isInstanceOf[Point]

    /** A point query's chord-tree position. */
    private def embed(q: Shape): Array[Double] =
      if (q.isPoint) index.chord.embed(q.bound(0), q.bound(1))
      else { val c = q.geom.getCoordinate; index.chord.embed(c.x, c.y) }

    /** The `k` nearest objects to `q`, best first: everything within the
      * kth distance, ranked, so ties at the kth distance resolve by
      * [[byRank]] (the reference's tie re-search). */
    def nearest(q: Shape, k: Int, candidates: SQLMetric = null): Array[Candidate] =
      rankWithin(q, kthDistance(q, k), k, candidates = candidates)
  }

  /** Output rows of a query row's ranked candidates: query and object in
    * child order, then `knn_distance` and `knn_rank` when `ranked`. One
    * per task: it reuses its rows. */
  final class Emit(objectIsLeft: Boolean, ranked: Boolean, outTypes: Array[DataType]) {
    private val toUnsafe = UnsafeProjection.create(outTypes)
    private val pair = new JoinedRow()
    private val withRank = new JoinedRow()
    private val rank = new SpecificInternalRow(Seq(DoubleType, IntegerType))

    def apply(qRow: InternalRow, cands: Array[Candidate]): Iterator[InternalRow] =
      cands.iterator.zipWithIndex.map { case (c, i) =>
        val o = c.row
        val r = if (objectIsLeft) pair(o, qRow) else pair(qRow, o)
        if (!ranked) toUnsafe(r)
        else {
          rank.setDouble(0, c.d)
          rank.setInt(1, i + 1)
          toUnsafe(withRank(r, rank))
        }
      }
  }
}
