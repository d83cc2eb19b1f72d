package graft.joins

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import graft.functions.Spherical
import graft.geom.GeomIO

/** Broadcast index spatial join: build side is broadcast, a Hilbert-packed
  * R-tree ([[PackedIndex]]) over its bounds, read from the WKB without a
  * parse, is built once per executor and broadcast value, and each
  * streamed row probes the tree and refines its candidates: from
  * coordinates for point and rectangle pairs, else with JTS (a prepared
  * geometry once a row has several candidates).
  *
  * This is the Spark-native analog of the reference's build/probe/refine
  * SpatialJoinExec (rust/sedona-spatial-join/src/exec.rs:80-88) with its
  * Hilbert-packed R-tree (index/default_spatial_index.rs:36) and prepared-
  * geometry refinement (refine/exec_mode_selector.rs). Broadcast replaces
  * the OnceAsync build-side collection; at cluster scale the build side
  * ships once per executor, the probe side never moves — zero shuffle.
  *
  * Spherical mode (a `_sphere` predicate, `SpatialPredicate.extractSphere`)
  * is the reference's geography join on the same operator
  * (rust/sedona/src/context.rs:163-172): the tree holds each build row's
  * spherical bound (`Spherical.latLngBound`), the probe is the stream
  * row's bound widened by the radius (`Spherical.radiusBound`), matched
  * across the antimeridian at longitude shifts 0/±360, and candidates
  * refine with the kernels of the SQL sphere functions.
  *
  * A range join (`SpatialPredicate.extractBand`) runs here too: each
  * side's bound is a [[Span]], the box [min(lo, hi), max(lo, hi)] × [0, 0]
  * tagged a point or a rectangle, the predicate is `st_intersects`, which
  * refines such boxes from coordinates, and the whole original condition
  * is the extra condition, the exact refine. JTS is never called.
  *
  * Join types (reference SpatialJoinExec covers the same set,
  * test_sjoin.py): Inner/Cross either orientation; LeftOuter, LeftSemi,
  * LeftAnti, ExistenceJoin (mark join, the EXISTS-in-OR rewrite) with the
  * stream on the left; RightOuter with the stream on the right. The
  * preserved side always streams — only the non-preserved side is
  * broadcast, so no match is ever lost to broadcasting. A join with no
  * such side (FULL OUTER always) runs on PartitionedIndexSpatialJoinExec,
  * which shares this join's output ([[BroadcastIndexSpatialJoinExec.joinOutput]])
  * and per-row emit ([[BroadcastIndexSpatialJoinExec.RowEmit]]).
  */
case class BroadcastIndexSpatialJoinExec(
    buildPlan: SparkPlan,
    streamPlan: SparkPlan,
    /** a geometry, or a [[Span]]: see [[RowBound]] */
    buildGeom: Expression,
    streamGeom: Expression,
    /** predicate oriented as pred(streamG, buildG) */
    predName: String,
    /** bound to stream side; st_dwithin, or st_dwithinsphere's radius */
    distance: Option[Expression],
    buildIsLeft: Boolean,
    joinType: JoinType,
    extraCondition: Option[Expression])
  extends BinaryExecNode {

  override def left: SparkPlan = if (buildIsLeft) buildPlan else streamPlan
  override def right: SparkPlan = if (buildIsLeft) streamPlan else buildPlan

  override def output: Seq[Attribute] =
    BroadcastIndexSpatialJoinExec.joinOutput(joinType, left.output, right.output)

  override def requiredChildDistribution: Seq[Distribution] = {
    val b = BroadcastDistribution(IdentityBroadcastMode)
    if (buildIsLeft) Seq(b, UnspecifiedDistribution) else Seq(UnspecifiedDistribution, b)
  }

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "index candidate pairs"),
    "indexBuildTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index build time"),
    "indexWaitTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "index wait time"))

  protected override def doExecute(): RDD[InternalRow] = {
    import BroadcastIndexSpatialJoinExec._
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
    val buildTime = longMetric("indexBuildTime")
    val waitTime = longMetric("indexWaitTime")
    val broadcastRows = buildPlan.executeBroadcast[Array[InternalRow]]()
    val boundBuildGeom = BindReferences.bindReference(buildGeom, buildPlan.output)
    val boundStreamGeom = BindReferences.bindReference(streamGeom, streamPlan.output)
    val boundDistance = distance.map(BindReferences.bindReference(_, streamPlan.output))
    // the extra condition sees the full (left ++ right) pair row, even for
    // join types whose OUTPUT omits the build side
    val boundExtra = extraCondition.map(
      BindReferences.bindReference(_, left.output ++ right.output))
    val pred = predName
    val spherical = isSpherical(pred)
    val bIsLeft = buildIsLeft
    val jt = joinType
    val buildWidth = buildPlan.output.size
    val outTypes = output.map(_.dataType).toArray

    streamPlan.execute().mapPartitions { streamIter =>
      // rows leave as UnsafeRows, like every Spark join's: a collect or
      // shuffle directly above reads them as such
      val toUnsafe = UnsafeProjection.create(outTypes)
      val rows = broadcastRows.value
      val index = indexFor(rows, (boundBuildGeom, spherical), buildTime, waitTime)(
        buildIndex(rows.iterator, boundBuildGeom, spherical))
      val probe = new Probe(boundStreamGeom, boundDistance, boundExtra, pred, bIsLeft,
        candidatePairs)
      val emit = new RowEmit(jt, !bIsLeft, buildWidth)
      streamIter.flatMap(row => emit(row, probe(index, row)))
        .map { r => numOutputRows += 1; toUnsafe(r) }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    if (buildIsLeft) copy(buildPlan = newLeft, streamPlan = newRight)
    else copy(streamPlan = newLeft, buildPlan = newRight)
}

object BroadcastIndexSpatialJoinExec {

  /** The output of a spatial join of type `jt` over children with
    * outputs `left` and `right`; both index joins take these types. */
  def joinOutput(jt: JoinType, left: Seq[Attribute], right: Seq[Attribute]): Seq[Attribute] =
    jt match {
      case Inner | Cross => left ++ right
      case LeftOuter => left ++ right.map(_.withNullability(true))
      case RightOuter => left.map(_.withNullability(true)) ++ right
      case FullOuter => (left ++ right).map(_.withNullability(true))
      case LeftSemi | LeftAnti => left
      case ExistenceJoin(exists) => left :+ exists
      case t => throw new IllegalStateException(s"unsupported spatial join type $t")
    }

  /** What a preserved row of a join of type `jt` emits: its pairs, or its
    * null pad beside the other side's `otherWidth` columns (outer joins);
    * itself if matched (semi), if not (anti), or with its match flag
    * (existence). One per task; it reuses the rows it returns. */
  final class RowEmit(jt: JoinType, preservedIsLeft: Boolean, otherWidth: Int) {
    private val joined = new JoinedRow()
    private val nulls = new GenericInternalRow(otherWidth)
    private val flag = new GenericInternalRow(1)

    /** `row`'s output, given its `pairs` (its matches, in child order). */
    def apply(row: InternalRow, pairs: Iterator[InternalRow]): Iterator[InternalRow] =
      jt match {
        case Inner | Cross => pairs
        case LeftOuter | RightOuter | FullOuter =>
          var any = false
          // the pad is decided once the pairs are exhausted
          pairs.map { r => any = true; r } ++ alone(row, any)
        case _ => alone(row, pairs.hasNext)
      }

    /** `row`'s output beside its pairs, given whether it matched. */
    def alone(row: InternalRow, matched: Boolean): Iterator[InternalRow] = jt match {
      case LeftOuter | RightOuter | FullOuter if !matched =>
        Iterator.single(if (preservedIsLeft) joined(row, nulls) else joined(nulls, row))
      case LeftSemi if matched => Iterator.single(row)
      case LeftAnti if !matched => Iterator.single(row)
      case ExistenceJoin(_) =>
        flag.setBoolean(0, matched)
        Iterator.single(joined(row, flag))
      case _ => Iterator.empty
    }
  }

  /** Whether `pred` (a `SpatialPredicate.Extracted` name) is spherical. */
  def isSpherical(pred: String): Boolean =
    SpatialPredicate.sphereRelationPreds(pred) || pred == "st_dwithinsphere"

  /** A distance expression's value, NaN for null; SQL
    * `st_dwithin(a, b, 2.0)` carries a DECIMAL literal. */
  def distanceOf(e: Expression, row: InternalRow): Double = e.eval(row) match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
    case null => Double.NaN
  }

  /** One stream or query row's bound as a probe sees it, reused from row
    * to row: its planar bound and shape tag, read by the side's
    * [[RowBound]] (a WKB geometry's by `GeomIO.bounds`, or a [[Span]]'s
    * box), and its JTS geometry, parsed at most once, on first use. */
  final class Shape(boundExpr: Expression) {
    private val read = RowBound(boundExpr)
    val bound = new Array[Double](4)
    var tag: Int = GeomIO.EmptyShape
    private var parsed: Geometry = _

    /** Takes `row`'s bound; false when it has none: a null or empty
      * geometry, or a null span endpoint. */
    def set(row: InternalRow): Boolean = {
      parsed = null
      tag = read(row, bound, 0)
      tag != GeomIO.EmptyShape
    }

    def isPoint: Boolean = tag == GeomIO.PointShape

    def geom: Geometry = {
      if (parsed == null) parsed = GeomIO.read(read.wkb)
      parsed
    }
  }

  /** The rows of one build or object side with a bound (a non-empty
    * geometry, or a span with both endpoints): each with its WKB (null for
    * a span), planar bound (4 doubles) and shape tag, and its JTS
    * geometry, parsed on first use and then kept. Tasks share it. */
  final class Items(val rows: Array[InternalRow], wkb: Array[Array[Byte]],
      val bounds: Array[Double], val shapes: Array[Byte]) {
    private val parsed = new java.util.concurrent.atomic.AtomicReferenceArray[Geometry](rows.length)

    def size: Int = rows.length

    def isPoint(i: Int): Boolean = shapes(i) == GeomIO.PointShape

    def geom(i: Int): Geometry = {
      val g = parsed.get(i)
      if (g != null) g
      else {
        val p = GeomIO.read(wkb(i))
        parsed.set(i, p)
        p
      }
    }

    /** The bounds of the index: the planar ones, or on the sphere each
      * row's `Spherical.latLngBound` (a point's is the point). */
    def indexBounds(spherical: Boolean): Array[Double] =
      if (!spherical) bounds
      else {
        val out = bounds.clone()
        var i = 0
        while (i < size) {
          if (!isPoint(i)) putEnvelope(Spherical.latLngBound(geom(i)), out, 4 * i)
          i += 1
        }
        out
      }
  }

  object Items {
    /** The rows whose bound expression `geom` (a geometry or a [[Span]])
      * gives a bound, each through `keep` (the identity, or a copy of a
      * reused row); the others go to `skip`, when given. */
    def apply(rows: Iterator[InternalRow], geom: Expression,
        keep: InternalRow => InternalRow = identity,
        skip: InternalRow => Unit = null): Items = {
      val read = RowBound(geom)
      val kept = Array.newBuilder[InternalRow]
      val wkb = Array.newBuilder[Array[Byte]]
      val shapes = Array.newBuilder[Byte]
      var bounds = new Array[Double](64)
      var n = 0
      rows.foreach { row =>
        if (4 * n + 4 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
        val shape = read(row, bounds, 4 * n)
        if (shape != GeomIO.EmptyShape) {
          kept += keep(row)
          wkb += read.wkb
          shapes += shape.toByte
          n += 1
        } else if (skip != null) skip(row)
      }
      new Items(kept.result(), wkb.result(), java.util.Arrays.copyOf(bounds, 4 * n),
        shapes.result())
    }
  }

  private def putEnvelope(e: Envelope, out: Array[Double], at: Int): Unit = {
    out(at) = e.getMinX; out(at + 1) = e.getMinY; out(at + 2) = e.getMaxX; out(at + 3) = e.getMaxY
  }

  /** A build geometry's bound in the index, into `out`: its envelope, or
    * on the sphere its `Spherical.latLngBound`. */
  def buildBound(g: Shape, spherical: Boolean, out: Array[Double]): Unit =
    if (spherical && !g.isPoint) putEnvelope(Spherical.latLngBound(g.geom), out, 0)
    else System.arraycopy(g.bound, 0, out, 0, 4)

  /** Degrees a sphere probe bound is widened by: the sphere kernels count
    * shapes 1e-9 rad (5.7e-8°) apart as touching, so such pairs must reach
    * the refine. */
  private val SphereSlack = 1e-7

  /** A stream geometry's probe bound, into `out`: its envelope widened by
    * the distance `d` (`Envelope.expandBy`), or on the sphere its
    * `Spherical.latLngBound` widened by the radius
    * (`Spherical.radiusBound`) and by [[SphereSlack]]. False when the
    * bound is null, and for a NaN (null) distance, which no pair is
    * within. */
  def probeBound(g: Shape, d: Option[Double], spherical: Boolean, out: Array[Double]): Boolean =
    if (d.exists(_.isNaN)) false
    else if (spherical) {
      val b = g.bound
      val e = Spherical.radiusBound(
        if (g.isPoint) new Envelope(b(0), b(2), b(1), b(3)) else Spherical.latLngBound(g.geom),
        d.getOrElse(0.0))
      if (e.isNull) false else { e.expandBy(SphereSlack); putEnvelope(e, out, 0); true }
    } else {
      System.arraycopy(g.bound, 0, out, 0, 4)
      d match {
        case Some(r) =>
          out(0) -= r; out(1) -= r; out(2) += r; out(3) += r
          !(out(0) > out(2) || out(1) > out(3))
        case None => true
      }
    }

  /** Predicates with a refine from coordinates ([[refineShapes]]). */
  final val IntersectsMode = 0
  final val DWithinMode = 1
  final val DWithinSphereMode = 2
  final val OtherMode = 3

  def refineMode(pred: String): Int = pred match {
    case "st_intersects" => IntersectsMode
    case "st_dwithin" => DWithinMode
    case "st_dwithinsphere" => DWithinSphereMode
    case _ => OtherMode
  }

  /** JTS's distance between two 2D points: `Math.hypot` of the
    * differences, `Double.MaxValue` where that overflows. */
  def pointDistance(x0: Double, y0: Double, x1: Double, y1: Double): Double = {
    val d = Math.hypot(x0 - x1, y0 - y1)
    if (d < Double.MaxValue) d else Double.MaxValue
  }

  /** `pred(stream, build)` from the shapes alone, for the pairs where that
    * is JTS's answer: 1 or 0, or -1 when the pair needs JTS. The bounds
    * lie at `sAt` and `bAt`; `d` is the distance or the radius.
    *   - st_intersects of points and rectangles: their closed boxes meet;
    *   - st_dwithin of two points: `Math.hypot(dx, dy) <= d`;
    *   - st_dwithinsphere of two points: `Spherical.haversine <= d`.
    */
  def refineShapes(mode: Int, sShape: Int, s: Array[Double], sAt: Int, bShape: Int,
      b: Array[Double], bAt: Int, d: Double): Int = {
    val points = sShape == GeomIO.PointShape && bShape == GeomIO.PointShape
    mode match {
      case IntersectsMode
          if (sShape == GeomIO.PointShape || sShape == GeomIO.RectShape) &&
            (bShape == GeomIO.PointShape || bShape == GeomIO.RectShape) =>
        if (s(sAt) <= b(bAt + 2) && b(bAt) <= s(sAt + 2) &&
          s(sAt + 1) <= b(bAt + 3) && b(bAt + 1) <= s(sAt + 3)) 1 else 0
      case DWithinMode if points =>
        if (Math.hypot(s(sAt) - b(bAt), s(sAt + 1) - b(bAt + 1)) <= d) 1 else 0
      case DWithinSphereMode if points =>
        if (Spherical.haversine(s(sAt), s(sAt + 1), b(bAt), b(bAt + 1)) <= d) 1 else 0
      case _ => -1
    }
  }

  /** The per-row probe of both index joins: a stream row's index
    * candidates that `owned` admits, refined by the predicate, joined
    * with the stream row in child order and filtered by the extra
    * condition. Point and rectangle pairs refine from coordinates
    * ([[refineShapes]]); any other parses the stream geometry once and
    * takes JTS (prepared once a row has [[prepareThreshold]] candidates)
    * or the sphere kernels. One per task, over bound expressions: it
    * reuses its joined row, its candidate buffer and its result iterator,
    * which holds until the next call. */
  final class Probe(streamGeom: Expression, distance: Option[Expression],
      extra: Option[Expression], pred: String, buildIsLeft: Boolean,
      candidatePairs: SQLMetric) {
    private val spherical = isSpherical(pred)
    private val mode = refineMode(pred)
    private val joined = new JoinedRow()
    private val shape = new Shape(streamGeom)
    /** The current stream row's probe bound, when `bounded`. */
    val bound = new Array[Double](4)
    /** Whether the current stream row has a probe bound: false for a null
      * or empty geometry, a null distance or a null bound, which match
      * nothing. */
    var bounded = false
    private var dist = 0.0
    private var cands = new Array[Int](16)
    private var nCand = 0
    private var owned: Int => Boolean = null
    private val collect: Int => Unit = i =>
      if (owned == null || owned(i)) {
        if (nCand == cands.length) cands = java.util.Arrays.copyOf(cands, 2 * nCand)
        cands(nCand) = i
        nCand += 1
      }
    private var prepared: PreparedGeometry = null
    private val matches = new Matches

    /** `owned(item)` admits the candidates this probe owns; null admits
      * all. */
    def apply(index: BuildIndex, streamRow: InternalRow,
        owned: Int => Boolean = null): Iterator[InternalRow] = {
      bounded = false
      if (!shape.set(streamRow)) return Iterator.empty
      val d = distance.map(distanceOf(_, streamRow))
      dist = d.getOrElse(0.0)
      if (!probeBound(shape, d, spherical, bound)) return Iterator.empty
      bounded = true
      this.owned = owned
      nCand = 0
      if (spherical) index.querySphere(bound, collect)
      else index.query(bound, collect)
      this.owned = null
      if (nCand == 0) return Iterator.empty
      candidatePairs += nCand
      prepared = null
      matches.reset(index.items, streamRow)
      matches
    }

    private def refine(items: Items, i: Int): Boolean = {
      val fast = refineShapes(mode, shape.tag, shape.bound, 0, items.shapes(i), items.bounds,
        4 * i, dist)
      if (fast >= 0) fast == 1
      else {
        val sg = shape.geom
        val bg = items.geom(i)
        if (spherical) refineSphere(sg, pred, bg, dist)
        else if (distance.isDefined) sg.isWithinDistance(bg, dist)
        else if (nCand >= prepareThreshold) {
          // Speculative prepare (reference option.rs:276-301 /
          // exec_mode_selector.rs): building the prepared geometry's edge
          // index costs more than one or two plain relate ops, so only
          // prepare when enough index hits will amortize it.
          if (prepared == null) prepared = PreparedGeometryFactory.prepare(sg)
          BroadcastIndexSpatialJoinExec.refine(prepared, pred, bg)
        } else refineDirect(sg, pred, bg)
      }
    }

    /** The build item of the row the result iterator returned last. */
    def item: Int = matches.item

    /** The joined rows of the current candidates that refine and pass the
      * extra condition. */
    private final class Matches extends Iterator[InternalRow] {
      private var items: Items = _
      private var streamRow: InternalRow = _
      private var j = 0
      private var ready: InternalRow = null
      var item = -1

      def reset(items: Items, streamRow: InternalRow): Unit = {
        this.items = items; this.streamRow = streamRow; j = 0; ready = null
      }

      override def hasNext: Boolean = {
        while (ready == null && j < nCand) {
          val i = cands(j)
          j += 1
          if (refine(items, i)) {
            val b = items.rows(i)
            val r = if (buildIsLeft) joined(b, streamRow) else joined(streamRow, b)
            if (extra.forall(c => java.lang.Boolean.TRUE == c.eval(r))) { ready = r; item = i }
          }
        }
        ready != null
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val r = ready
        ready = null
        r
      }
    }
  }

  /** The index over one build side: its [[Items]] in a [[PackedIndex]] of
    * their bounds, planar or spherical. Spherical rows whose bound spans
    * ≥ 180° of longitude (polar caps, rings across the antimeridian) are
    * the full ring: they stay out of the tree, in `fullRing`, and match
    * every probe they overlap in latitude. */
  final class BuildIndex(val items: Items, val bounds: Array[Double], tree: PackedIndex,
      fullRing: Array[Int]) {

    /** Visits the rows whose bound meets the probe bound `q`. */
    def query(q: Array[Double], visit: Int => Unit): Unit =
      tree.query(q(0), q(1), q(2), q(3), visit)

    /** Visits the rows whose spherical bound meets the probe bound `q` (a
      * `Spherical.radiusBound`): a probe ≥ 180° wide is the full ring, a
      * narrower one is matched at longitude shifts 0 and ±360. Each row is
      * visited once: a tree bound and a probe both under 180° wide can
      * meet at most one of the shifts, which lie 360° apart. */
    def querySphere(q: Array[Double], visit: Int => Unit): Unit = {
      if (q(2) - q(0) >= 180.0)
        tree.query(Double.NegativeInfinity, q(1), Double.PositiveInfinity, q(3), visit)
      else {
        var s = 0
        while (s < Shifts.length) {
          tree.query(q(0) + Shifts(s), q(1), q(2) + Shifts(s), q(3), visit)
          s += 1
        }
      }
      var r = 0
      while (r < fullRing.length) {
        val i = fullRing(r)
        if (bounds(4 * i + 1) <= q(3) && q(1) <= bounds(4 * i + 3)) visit(i)
        r += 1
      }
    }
  }

  private[joins] val Shifts = Array(0.0, 360.0, -360.0)

  /** The index over `rows`, skipping null and empty geometries (to
    * `skip`, when given); `keep` maps each kept row (a copy of a reused
    * row). */
  def buildIndex(rows: Iterator[InternalRow], geomExpr: Expression, spherical: Boolean,
      keep: InternalRow => InternalRow = identity,
      skip: InternalRow => Unit = null): BuildIndex = {
    val items = Items(rows, geomExpr, keep, skip)
    val bounds = items.indexBounds(spherical)
    val inTree = Array.newBuilder[Int]
    val fullRing = Array.newBuilder[Int]
    var i = 0
    while (i < items.size) {
      val o = 4 * i
      // a null bound (max < min) matches nothing
      if (!(bounds(o + 2) < bounds(o) || bounds(o + 3) < bounds(o + 1))) {
        if (spherical && bounds(o + 2) - bounds(o) >= 180.0) fullRing += i
        else inTree += i
      }
      i += 1
    }
    new BuildIndex(items, bounds, PackedIndex(bounds, inTree.result()), fullRing.result())
  }

  /** Executor-local indexes: one per broadcast build side (and index
    * key: geometry expression and mode), not one per task — the reference
    * builds its index once per join via OnceAsync (exec.rs:44-46). Keyed
    * weakly by the broadcast VALUE, and each index held weakly: it lives
    * while the tasks of its join probe it, which hold the broadcast too,
    * and the first GC after the join drops it — even before Spark removes
    * the broadcast. The build runs under its broadcast's own lock, so the
    * tasks of one join wait for its single build while unrelated joins
    * proceed. The KNN join caches its index here too. */
  private val indexes = new java.util.WeakHashMap[AnyRef,
    java.util.HashMap[AnyRef, java.lang.ref.WeakReference[AnyRef]]]()

  /** The index `build` makes over broadcast `rows`, built once per
    * broadcast value and `key`. The task that builds adds the build's
    * time to `buildTime`; a task that finds the index built adds the time
    * it waited for the lock, mostly another task's build, to `waitTime`. */
  def indexFor[I <: AnyRef](rows: Array[InternalRow], key: AnyRef,
      buildTime: SQLMetric, waitTime: SQLMetric)(build: => I): I = {
    val start = System.nanoTime()
    val perBroadcast = indexes.synchronized {
      indexes.computeIfAbsent(rows, _ => new java.util.HashMap())
    }
    perBroadcast.synchronized {
      val locked = System.nanoTime()
      val cached = perBroadcast.get(key)
      Option(if (cached == null) null else cached.get) match {
        case Some(index) =>
          waitTime += locked - start
          index.asInstanceOf[I]
        case None =>
          val index = build
          buildTime += System.nanoTime() - locked
          perBroadcast.put(key, new java.lang.ref.WeakReference[AnyRef](index))
          index
      }
    }
  }

  /** Indexes currently alive in this JVM. */
  private[graft] def cachedIndexes: Int = indexes.synchronized {
    var n = 0
    indexes.values.forEach(m => m.synchronized(m.values.forEach(r => if (r.get != null) n += 1)))
    n
  }

  /** Candidate count at which preparing the stream geometry pays for
    * itself (the reference's speculative threshold, option.rs:276-301). */
  val prepareThreshold = 3

  /** pred(streamG, buildG) without preparation — cheaper for rows with
    * fewer than [[prepareThreshold]] index hits. */
  def refineDirect(sg: Geometry, pred: String, bg: Geometry): Boolean = pred match {
    case "st_intersects" => sg.intersects(bg)
    case "st_contains" => sg.contains(bg)
    case "st_within" => sg.within(bg)
    case "st_covers" => sg.covers(bg)
    case "st_coveredby" => sg.coveredBy(bg)
    case "st_touches" => sg.touches(bg)
    case "st_crosses" => sg.crosses(bg)
    case "st_overlaps" => sg.overlaps(bg)
    case "st_equals" => sg.equalsTopo(bg)
  }

  /** pred(streamG, buildG) via the stream-side prepared geometry. */
  def refine(prepared: PreparedGeometry, pred: String, bg: Geometry): Boolean = pred match {
    case "st_intersects" => prepared.intersects(bg)
    case "st_contains" => prepared.contains(bg)
    case "st_within" => prepared.within(bg)
    case "st_covers" => prepared.covers(bg)
    case "st_coveredby" => prepared.coveredBy(bg)
    case "st_touches" => prepared.touches(bg)
    case "st_crosses" => prepared.crosses(bg)
    case "st_overlaps" => prepared.overlaps(bg)
    case "st_equals" => prepared.getGeometry.equalsTopo(bg)
  }

  /** pred(streamG, buildG) for the spherical predicates, by the kernels of
    * the SQL functions of the same names — the last conjunct of the grid
    * path. `radiusM` is st_dwithinsphere's radius. */
  def refineSphere(sg: Geometry, pred: String, bg: Geometry, radiusM: Double): Boolean =
    pred match {
      case "st_dwithinsphere" => Spherical.distance(sg, bg) match {
        case d: Double => d <= radiusM
        case _ => false
      }
      case "st_intersectssphere" => Spherical.distance(sg, bg) match {
        case d: Double => d == 0.0
        case _ => false
      }
      case "st_containssphere" => Spherical.containsGeom(sg, bg)
      case "st_withinsphere" => Spherical.containsGeom(bg, sg)
      case "st_coverssphere" => Spherical.coversGeom(sg, bg)
      case "st_coveredbysphere" => Spherical.coversGeom(bg, sg)
      case "st_equalssphere" => Spherical.equalsGeom(sg, bg)
    }
}
