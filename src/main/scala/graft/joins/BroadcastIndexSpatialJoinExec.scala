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
import org.locationtech.jts.index.ItemVisitor
import org.locationtech.jts.index.hprtree.HPRtree
import graft.functions.Spherical
import graft.geom.GeomIO

/** Broadcast index spatial join: build side is broadcast, a Hilbert-packed
  * R-tree (JTS HPRtree) over its geometries is built once per executor
  * and broadcast value, and each streamed row probes the tree and refines
  * candidates with a prepared geometry.
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
  * Join types (reference SpatialJoinExec covers the same set,
  * test_sjoin.py): Inner/Cross either orientation; LeftOuter, LeftSemi,
  * LeftAnti, ExistenceJoin (mark join, the EXISTS-in-OR rewrite) with the
  * stream on the left; RightOuter with the stream on the right. The
  * preserved side always streams — only the non-preserved side is
  * broadcast, so no match is ever lost to broadcasting.
  */
case class BroadcastIndexSpatialJoinExec(
    buildPlan: SparkPlan,
    streamPlan: SparkPlan,
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

  override def output: Seq[Attribute] = joinType match {
    case Inner | Cross => left.output ++ right.output
    case LeftOuter =>
      require(!buildIsLeft, "left-outer requires the stream on the left")
      left.output ++ right.output.map(_.withNullability(true))
    case RightOuter =>
      require(buildIsLeft, "right-outer requires the stream on the right")
      left.output.map(_.withNullability(true)) ++ right.output
    case LeftSemi | LeftAnti =>
      require(!buildIsLeft, "semi/anti joins stream the left side")
      left.output
    case ExistenceJoin(exists) =>
      require(!buildIsLeft, "existence join streams the left side")
      left.output :+ exists
    case t => throw new IllegalStateException(s"unsupported spatial join type $t")
  }

  override def requiredChildDistribution: Seq[Distribution] = {
    val b = BroadcastDistribution(IdentityBroadcastMode)
    if (buildIsLeft) Seq(b, UnspecifiedDistribution) else Seq(UnspecifiedDistribution, b)
  }

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "candidatePairs" -> SQLMetrics.createMetric(sparkContext, "index candidate pairs"))

  protected override def doExecute(): RDD[InternalRow] = {
    import BroadcastIndexSpatialJoinExec._
    val numOutputRows = longMetric("numOutputRows")
    val candidatePairs = longMetric("candidatePairs")
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
      val index = indexFor(rows, (boundBuildGeom, spherical))(
        buildIndex(rows.iterator, boundBuildGeom, spherical))
      val probe = new Probe(boundStreamGeom, boundDistance, boundExtra, pred, bIsLeft,
        candidatePairs)
      val joined = new JoinedRow()
      val nullBuild = new GenericInternalRow(buildWidth)
      val existsTrue = new GenericInternalRow(Array[Any](true))
      val existsFalse = new GenericInternalRow(Array[Any](false))
      streamIter.flatMap { streamRow =>
        val filtered = probe(index, streamRow)
        jt match {
          case Inner | Cross =>
            filtered.map { r => numOutputRows += 1; r }
          case LeftOuter | RightOuter =>
            var any = false
            val out = filtered.map { r => any = true; numOutputRows += 1; r }
            // emit the null-padded row lazily after the matches are exhausted
            new Iterator[InternalRow] {
              private var doneExtra = false
              override def hasNext: Boolean = out.hasNext || (!any && !doneExtra)
              override def next(): InternalRow =
                if (out.hasNext) out.next()
                else {
                  doneExtra = true; numOutputRows += 1
                  if (bIsLeft) joined(nullBuild, streamRow)
                  else joined(streamRow, nullBuild)
                }
            }
          case LeftSemi =>
            if (filtered.hasNext) { numOutputRows += 1; Iterator.single(streamRow) }
            else Iterator.empty
          case LeftAnti =>
            if (filtered.hasNext) Iterator.empty
            else { numOutputRows += 1; Iterator.single(streamRow) }
          case ExistenceJoin(_) =>
            numOutputRows += 1
            Iterator.single(new JoinedRow(streamRow,
              if (filtered.hasNext) existsTrue else existsFalse))
          case t => throw new IllegalStateException(s"unsupported spatial join type $t")
        }
      }.map(toUnsafe)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    if (buildIsLeft) copy(buildPlan = newLeft, streamPlan = newRight)
    else copy(streamPlan = newLeft, buildPlan = newRight)
}

object BroadcastIndexSpatialJoinExec {

  /** A build-side row with its parsed geometry and its [[buildBound]]:
    * the index's item. */
  final class BuildRow(val geom: Geometry, val row: InternalRow, val bound: Envelope)

  /** Whether `pred` (a `SpatialPredicate.Extracted` name) is spherical. */
  def isSpherical(pred: String): Boolean =
    SpatialPredicate.sphereRelationPreds(pred) || pred == "st_dwithinsphere"

  /** A build geometry's bound in the index: its envelope, or on the
    * sphere its `Spherical.latLngBound`. */
  def buildBound(g: Geometry, spherical: Boolean): Envelope =
    if (spherical) Spherical.latLngBound(g) else g.getEnvelopeInternal

  /** A stream geometry's probe bound: its envelope widened by the
    * distance, or on the sphere its `Spherical.latLngBound` widened by the
    * radius (`Spherical.radiusBound`). */
  def streamBound(g: Geometry, dist: Option[Double], spherical: Boolean): Envelope =
    if (spherical) Spherical.radiusBound(Spherical.latLngBound(g), dist.getOrElse(0.0))
    else {
      val env = new Envelope(g.getEnvelopeInternal)
      dist.foreach(d => env.expandBy(d))
      env
    }

  /** A distance expression's value; SQL `st_dwithin(a, b, 2.0)` carries a
    * DECIMAL literal. */
  def distanceOf(e: Expression, row: InternalRow): Double = e.eval(row) match {
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case n: Number => n.doubleValue()
  }

  /** The per-row probe of both index joins: a stream row's index
    * candidates that `keep` admits, refined by the predicate, joined with
    * the stream row in child order and filtered by the extra condition.
    * One per task, over bound expressions: it reuses its joined row. */
  final class Probe(streamGeom: Expression, distance: Option[Expression],
      extra: Option[Expression], pred: String, buildIsLeft: Boolean,
      candidatePairs: SQLMetric) {
    private val spherical = isSpherical(pred)
    private val joined = new JoinedRow()

    /** `keep(streamBound, candidate)` admits the candidates this probe
      * owns; null admits all. */
    def apply(index: BuildIndex, streamRow: InternalRow,
        keep: (Envelope, BuildRow) => Boolean = null): Iterator[InternalRow] = {
      val gBytes = streamGeom.eval(streamRow)
      if (gBytes == null) return Iterator.empty
      val sg = GeomIO.read(gBytes.asInstanceOf[Array[Byte]])
      val dist = distance.map(distanceOf(_, streamRow))
      val q = streamBound(sg, dist, spherical)
      val found = if (spherical) index.querySphere(q) else index.query(q)
      val candidates =
        if (keep == null) found
        else {
          val kept = new java.util.ArrayList[AnyRef](found.size)
          found.forEach(c => if (keep(q, c.asInstanceOf[BuildRow])) kept.add(c))
          kept
        }
      if (candidates.isEmpty) return Iterator.empty
      val nCand = candidates.size()
      candidatePairs += nCand
      // Speculative prepare (reference option.rs:276-301 /
      // exec_mode_selector.rs): building the prepared geometry's
      // edge index costs more than one or two plain relate ops, so
      // only prepare when enough index hits will amortize it.
      val prepared: PreparedGeometry =
        if (!spherical && dist.isEmpty && nCand >= prepareThreshold)
          PreparedGeometryFactory.prepare(sg)
        else null
      val it = candidates.iterator()
      val matches = new Iterator[BuildRow] {
        override def hasNext: Boolean = it.hasNext
        override def next(): BuildRow = it.next().asInstanceOf[BuildRow]
      }.filter { b =>
        if (spherical) refineSphere(sg, pred, b.geom, dist.getOrElse(0.0))
        else dist match {
          case Some(d) => sg.isWithinDistance(b.geom, d)
          case None =>
            if (prepared != null) refine(prepared, pred, b.geom)
            else refineDirect(sg, pred, b.geom)
        }
      }.map { b =>
        if (buildIsLeft) joined(b.row, streamRow) else joined(streamRow, b.row)
      }
      extra match {
        case Some(c) => matches.filter(r => java.lang.Boolean.TRUE == c.eval(r))
        case None => matches
      }
    }
  }

  /** The index over one broadcast build side: an HPRtree of the rows'
    * envelopes — planar, or in spherical mode their spherical bounds.
    * Spherical rows whose bound spans ≥ 180° of longitude (polar caps,
    * rings across the antimeridian) are the full ring: they stay out of
    * the tree, in `fullRing`, and match every probe they overlap in
    * latitude. */
  final class BuildIndex(tree: HPRtree, fullRing: Array[(Envelope, BuildRow)]) {

    def query(env: Envelope): java.util.List[AnyRef] =
      tree.query(env).asInstanceOf[java.util.List[AnyRef]]

    /** Build rows whose spherical bound meets the probe bound `q` (a
      * `Spherical.radiusBound`): a probe ≥ 180° wide is the full ring, a
      * narrower one is matched at longitude shifts 0 and ±360. Each row is
      * returned once: a tree bound and a probe both under 180° wide can
      * meet at most one of the shifts, which lie 360° apart. */
    def querySphere(q: Envelope): java.util.List[AnyRef] = {
      val out = new java.util.ArrayList[AnyRef]()
      if (q.isNull) return out
      val visitor = new ItemVisitor { def visitItem(item: AnyRef): Unit = out.add(item) }
      if (q.getWidth >= 180.0)
        tree.query(new Envelope(Double.NegativeInfinity, Double.PositiveInfinity,
          q.getMinY, q.getMaxY), visitor)
      else for (shift <- Shifts)
        tree.query(new Envelope(q.getMinX + shift, q.getMaxX + shift,
          q.getMinY, q.getMaxY), visitor)
      for ((env, b) <- fullRing)
        if (env.getMinY <= q.getMaxY && q.getMinY <= env.getMaxY) out.add(b)
      out
    }
  }

  private[joins] val Shifts = Array(0.0, 360.0, -360.0)

  /** The index over `rows`, skipping null and empty geometries. */
  def buildIndex(rows: Iterator[InternalRow], geomExpr: Expression,
      spherical: Boolean): BuildIndex = {
    val tree = new HPRtree()
    val fullRing = Array.newBuilder[(Envelope, BuildRow)]
    rows.foreach { row =>
      val bytes = geomExpr.eval(row)
      if (bytes != null) {
        val g = GeomIO.read(bytes.asInstanceOf[Array[Byte]])
        if (!g.isEmpty) {
          val env = buildBound(g, spherical)
          val b = new BuildRow(g, row, env)
          if (spherical && env.getWidth >= 180.0) fullRing += ((env, b))
          else tree.insert(env, b)
        }
      }
    }
    tree.build()
    new BuildIndex(tree, fullRing.result())
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
    * broadcast value and `key`. */
  def indexFor[I <: AnyRef](rows: Array[InternalRow], key: AnyRef)(build: => I): I = {
    val perBroadcast = indexes.synchronized {
      indexes.computeIfAbsent(rows, _ => new java.util.HashMap())
    }
    perBroadcast.synchronized {
      val cached = perBroadcast.get(key)
      Option(if (cached == null) null else cached.get).getOrElse {
        val index = build
        perBroadcast.put(key, new java.lang.ref.WeakReference[AnyRef](index))
        index
      }.asInstanceOf[I]
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
