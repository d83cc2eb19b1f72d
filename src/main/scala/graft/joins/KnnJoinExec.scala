package graft.joins

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.ByteArray
import org.locationtech.jts.geom.{Envelope, Geometry, Point}
import org.locationtech.jts.index.strtree.{ItemBoundable, ItemDistance, STRtree}
import graft.functions.Spherical
import graft.geom.GeomIO

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
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "knn candidate pairs"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
    val broadcastRows = objectPlan.executeBroadcast[Array[InternalRow]]()
    val objects = ObjectSide.bound(objectPlan.output, objectGeom, tieBreak, spheroid)
    val boundQueryGeom = BindReferences.bindReference(queryGeom, queryPlan.output)
    val kk = k
    val objLeft = objectIsLeft
    val ranked = rankOutput.nonEmpty
    val outTypes = output.map(_.dataType).toArray

    queryPlan.execute().mapPartitions { queryIter =>
      val rows = broadcastRows.value
      val index = BroadcastIndexSpatialJoinExec.indexFor(rows, objects)(objects.index(rows.iterator))
      val emit = new Emit(objLeft, ranked, outTypes)
      queryIter.flatMap { qRow =>
        val qg = geometryOf(boundQueryGeom, qRow)
        if (qg == null) Iterator.empty
        else {
          val cands = nearest(index, qg, kk, candidatePairs)
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

  /** An object row as the search sees it: its geometry, its bound
    * (`BroadcastIndexSpatialJoinExec.buildBound`), its tie key and its
    * UnsafeRow bytes. */
  final class KnnObject(val geom: Geometry, val bound: Envelope, val tie: Array[Byte],
      val bytes: Array[Byte], numFields: Int) {
    def row: UnsafeRow = {
      val r = new UnsafeRow(numFields)
      r.pointTo(bytes, bytes.length)
      r
    }
  }

  final class Candidate(val d: Double, val obj: KnnObject)

  /** Distance, then the tie key, then the object row's bytes: a total
    * order, so every path keeps the same k rows. Keys are computed once per
    * object. */
  val byRank: java.util.Comparator[Candidate] = (a, b) => {
    val c = java.lang.Double.compare(a.d, b.d)
    if (c != 0) c
    else {
      val t = ByteArray.compareBinary(a.obj.tie, b.obj.tie)
      if (t != 0) t else ByteArray.compareBinary(a.obj.bytes, b.obj.bytes)
    }
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

  /** The geometry `geom` evaluates to on `row`; null for a null or empty
    * geometry, which matches nothing. */
  def geometryOf(geom: Expression, row: InternalRow): Geometry = {
    val bytes = geom.eval(row)
    if (bytes == null) null
    else {
      val g = GeomIO.read(bytes.asInstanceOf[Array[Byte]])
      if (g.isEmpty) null else g
    }
  }

  /** How object rows enter the search; also the broadcast index's cache
    * key. `geom` and `tieBreak` are bound to the object side's output. */
  final case class ObjectSide(types: Seq[DataType], geom: Expression,
      tieBreak: Option[Expression], spheroid: Boolean) {

    def index(rows: Iterator[InternalRow]): KnnIndex = {
      val toUnsafe = UnsafeProjection.create(types.toArray)
      val objects = Array.newBuilder[KnnObject]
      rows.foreach { row =>
        val g = geometryOf(geom, row)
        if (g != null) {
          val tie = tieBreak match {
            case Some(t) => doubleKey(t.eval(row))
            case None => geom.eval(row).asInstanceOf[Array[Byte]]
          }
          objects += new KnnObject(g, BroadcastIndexSpatialJoinExec.buildBound(g, spheroid), tie,
            toUnsafe(row).copy().getBytes, types.length)
        }
      }
      new KnnIndex(objects.result(), spheroid)
    }
  }

  object ObjectSide {
    /** The object side of `attrs`, its expressions bound to them. */
    def bound(attrs: Seq[Attribute], geom: Expression, tieBreak: Option[Expression],
        spheroid: Boolean): ObjectSide =
      ObjectSide(attrs.map(_.dataType), BindReferences.bindReference(geom, attrs),
        tieBreak.map(BindReferences.bindReference(_, attrs)), spheroid)
  }

  /** The objects of one broadcast or one leaf: planar in an STRtree; on
    * the sphere, all-point objects in a [[ChordKdTree]] (chord distance
    * is strictly monotone in great-circle distance), others unindexed. */
  final class KnnIndex(val objects: Array[KnnObject], val spheroid: Boolean) {
    val tree: STRtree =
      if (spheroid || objects.isEmpty) null
      else {
        val t = new STRtree()
        objects.foreach(o => t.insert(o.geom.getEnvelopeInternal, o))
        t.build()
        t
      }
    val chord: ChordKdTree =
      if (!spheroid || objects.isEmpty || !objects.forall(_.geom.isInstanceOf[Point])) null
      else {
        val t = new ChordKdTree(objects.length)
        objects.foreach { o => val c = o.geom.getCoordinate; t.add(c.x, c.y) }
        t.build()
        t
      }
  }

  private object ObjectDistance extends ItemDistance {
    override def distance(a: ItemBoundable, b: ItemBoundable): Double =
      a.getItem.asInstanceOf[KnnObject].geom.distance(b.getItem.asInstanceOf[KnnObject].geom)
  }

  /** Great-circle distance in meters between the planar-nearest points of
    * two lon/lat geometries (exact for point-point). */
  def geodesicDistance(a: Geometry, b: Geometry): Double = (a, b) match {
    case (p: Point, q: Point) => Spherical.haversine(p.getX, p.getY, q.getX, q.getY)
    case _ =>
      val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(a, b)
      Spherical.haversine(pts(0).x, pts(0).y, pts(1).x, pts(1).y)
  }

  def distance(q: Geometry, o: Geometry, spheroid: Boolean): Double =
    if (spheroid) geodesicDistance(q, o) else q.distance(o)

  /** `r` plus a rounding slack, so a bound widened by it holds every
    * geometry within `r` of `q`: 1e-9 of it plus 1 mm on the sphere, 1e-12
    * of it and of `q`'s coordinates on the plane. */
  def padded(q: Geometry, r: Double, spheroid: Boolean): Double =
    if (r.isPosInfinity) r
    else if (spheroid) r * (1 + 1e-9) + 1e-3
    else {
      val e = q.getEnvelopeInternal
      val mag = math.max(math.max(math.abs(e.getMinX), math.abs(e.getMaxX)),
        math.max(math.abs(e.getMinY), math.abs(e.getMaxY)))
      r + 1e-12 * (r + mag)
    }

  /** The kth smallest distance from `q` to the index's objects, +∞ when
    * it holds fewer than k: planar by `STRtree.nearestNeighbour`, on the
    * sphere by the chord tree's kth chord (padded into meters) or a full
    * rank. */
  def kthDistance(index: KnnIndex, q: Geometry, k: Int): Double = {
    val objects = index.objects
    if (objects.length < k || k < 1) Double.PositiveInfinity
    else if (index.tree != null)
      index.tree.nearestNeighbour(q.getEnvelopeInternal,
          new KnnObject(q, null, null, null, 0), ObjectDistance, k)
        .map(o => q.distance(o.asInstanceOf[KnnObject].geom)).max
    else if (index.chord != null && q.isInstanceOf[Point]) {
      val c = q.getCoordinate
      val c2 = index.chord.kthDist2(index.chord.embed(c.x, c.y), k)
      padded(q, 2 * Spherical.R * math.asin(math.min(1.0, math.sqrt(c2) / 2)), spheroid = true)
    } else {
      val ds = objects.map(o => geodesicDistance(q, o.geom))
      java.util.Arrays.sort(ds)
      ds(k - 1)
    }
  }

  /** The up to `k` best objects within `radius` of `q` that `keep`
    * admits (null admits all), best first by [[byRank]]. `candidates`
    * counts the distances computed. */
  def rankWithin(index: KnnIndex, q: Geometry, radius: Double, k: Int,
      keep: KnnObject => Boolean = null, candidates: SQLMetric = null): Array[Candidate] = {
    val objects = index.objects
    if (k < 1 || objects.isEmpty) return Array.empty
    val top = new TopK(k)
    var n = 0L
    def offer(o: KnnObject): Unit =
      if (keep == null || keep(o)) {
        n += 1
        val d = distance(q, o.geom, index.spheroid)
        if (d <= radius) top.offer(new Candidate(d, o))
      }
    if (radius.isPosInfinity) objects.foreach(offer)
    else if (index.tree != null) {
      val env = new Envelope(q.getEnvelopeInternal)
      env.expandBy(padded(q, radius, spheroid = false))
      val it = index.tree.query(env).iterator()
      while (it.hasNext) offer(it.next().asInstanceOf[KnnObject])
    } else if (index.chord != null && q.isInstanceOf[Point]) {
      val c = q.getCoordinate
      val chord = 2 * math.sin(math.min(math.Pi / 2,
        padded(q, radius, spheroid = true) / (2 * Spherical.R)))
      index.chord.range(index.chord.embed(c.x, c.y), chord * chord).foreach(i => offer(objects(i)))
    } else objects.foreach(offer)
    if (candidates != null) candidates += n
    top.sorted
  }

  /** The `k` nearest objects to `q`, best first: everything within the
    * kth distance, ranked, so ties at the kth distance resolve by
    * [[byRank]] (the reference's tie re-search). */
  def nearest(index: KnnIndex, q: Geometry, k: Int,
      candidates: SQLMetric = null): Array[Candidate] =
    rankWithin(index, q, kthDistance(index, q, k), k, candidates = candidates)

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
        val o = c.obj.row
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
