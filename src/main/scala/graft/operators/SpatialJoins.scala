package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Envelope, Geometry}
import org.locationtech.jts.index.strtree.{ItemBoundable, ItemDistance, STRtree}
import graft.geom.GeomIO

/** Whole-operator spatial joins exposed as DataFrame combinators.
  *
  * - `gridJoin`: the 100TB path — both sides shuffle-partitioned on a
  *   uniform grid, geometries duplicated into every overlapped cell, pairs
  *   deduplicated by the reference-point rule. This is the reference's
  *   out-of-core partitioned join (rust/sedona-spatial-join/src/
  *   partitioning/kdb.rs:20-46, multi-assignment + dedup) re-expressed as
  *   explode + equi-join so Catalyst/Tungsten run the shuffle, AQE handles
  *   skew, and our ST_ predicate refines per cell.
  *
  * - `knnJoin`: k nearest neighbours with deterministic tie-breaking —
  *   reference semantics from index/default_spatial_index.rs:359-430
  *   (neighbour search + tie re-search) and probe/knn_results_merger.rs.
  *   Objects side is broadcast; the scale path for a large object side is
  *   gridJoin with a distance bound then rank-per-query.
  */
object SpatialJoins {
  import graft.functions.GraftFunctions.st

  /** Spatial join of two large inputs via grid partitioning.
    *
    * @param predicate SQL name of the refinement predicate, e.g.
    *   "st_intersects" (applied as predicate(leftGeom, rightGeom))
    * @param bounds (xmin, ymin, xmax, ymax) of the data; pass None to
    *   compute with an envelope-aggregate pre-pass
    * @param nx, ny grid resolution — tune so cells hold O(10k) geometries
    */
  def gridJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      predicate: String,
      bounds: Option[(Double, Double, Double, Double)] = None,
      nx: Int = 64, ny: Int = 64,
      distance: Option[Column] = None,
      extraCond: Option[Column] = None): DataFrame = {

    val (xmin, ymin, xmax, ymax) = bounds.getOrElse {
      val Row(a: Double, b: Double, c: Double, d: Double) =
        left.select(st.envelopeAgg(leftGeom).as("e"))
          .unionAll(right.select(st.envelopeAgg(rightGeom).as("e")))
          .select(min(st.xmin(col("e"))), min(st.ymin(col("e"))),
            max(st.xmax(col("e"))), max(st.ymax(col("e"))))
          .collect()(0)
      (a, b, c, d)
    }
    def cells4(e4: Column): Column = st.f("sd_gridcells4", e4,
      lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny))

    // Each side parses its WKB exactly once per row (sd_envelope4); cell
    // explode, bbox overlap and reference-point dedup all run on the
    // carried envelope doubles — codegen'd double math. The WKB-parsing
    // predicate refines only pairs that survive the cheap conjuncts.
    // Distance joins expand the left envelope by the radius for cell
    // assignment and dedup (same construction as GridSpatialJoinRule).
    val l4base = st.f("sd_envelope4", leftGeom)
    val l4 = distance match {
      case Some(dst) => array(
        element_at(l4base, 1) - dst, element_at(l4base, 2) - dst,
        element_at(l4base, 3) + dst, element_at(l4base, 4) + dst)
      case None => l4base
    }
    val l = left.withColumn("__lg", leftGeom)
      .withColumn("__l4", l4)
      .withColumn("__lcell", explode(cells4(col("__l4"))))
    val r = right.withColumn("__rg", rightGeom)
      .withColumn("__r4", st.f("sd_envelope4", rightGeom))
      .withColumn("__rcell", explode(cells4(col("__r4"))))
    def le(k: Int) = element_at(col("__l4"), k)
    def re(k: Int) = element_at(col("__r4"), k)
    val bboxOverlap = le(1) <= re(3) && re(1) <= le(3) &&
      le(2) <= re(4) && re(2) <= le(4)
    // arithmetic twin of Grid.cellOf (trunc-toward-zero == floor after the
    // 0-clamp, so the generated cell ids match st_gridcells exactly)
    def cellc(x: Column, mn: Double, mx: Double, n: Int): Column =
      least(greatest(floor((x - lit(mn)) / lit(mx - mn) * lit(n)).cast("long"),
        lit(0L)), lit((n - 1).toLong))
    val refCell = cellc(greatest(le(2), re(2)), ymin, ymax, ny) * nx +
      cellc(greatest(le(1), re(1)), xmin, xmax, nx)
    val refine = distance match {
      case Some(d) => st.f("st_dwithin", col("__lg"), col("__rg"), d)
      case None => st.f(predicate, col("__lg"), col("__rg"))
    }
    val cond = col("__lcell") === col("__rcell") &&
      bboxOverlap && refCell === col("__lcell") && refine
    // (opt r17 note: the spherical joins redistribute their larger side
    // by cell before joining — see cellRepartitionLarger — because their
    // per-pair refine is spherical trig over WKB. The planar refine here
    // is double-interval math + one cheap JTS predicate; an A/B showed
    // the extra exchange LOSES at gate scale (gs01 2.07→2.71 s) and at
    // cluster scale the join's own shuffle already provides the width,
    // so the planar path deliberately stays as-is.)
    l.join(r, extraCond.map(cond && _).getOrElse(cond))
      .drop("__lcell", "__rcell", "__l4", "__r4", "__lg", "__rg")
  }

  /** Size-adaptive spatial join: broadcast index join when a side fits the
    * broadcast threshold (the SpatialJoinStrategy path), otherwise the
    * shuffle grid join — the policy the reference's planner chain applies
    * via statistics (rust/sedona-spatial-join/option.rs:105-108 +
    * partitioned fallback). */
  def autoJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      predicate: String,
      nx: Int = 64, ny: Int = 64): DataFrame = {
    val spark = left.sparkSession
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    def size(df: DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (size(left) <= threshold || size(right) <= threshold)
      left.join(right, st.f(predicate, leftGeom, rightGeom))
    else
      gridJoin(left, right, leftGeom, rightGeom, predicate, None, nx, ny)
  }

  /** Geography (spherical) distance join — both sides shuffle-partitioned
    * on a wrap-safe lat-lon grid, pairs refined with great-circle
    * st_dwithinsphere and deduplicated by the canonical-common-cell rule.
    * The Spark re-expression of the reference's S2-based geography join
    * (rust/sedona-spatial-join-geography, planner fallback at
    * context.rs:163-172): cell-id equality makes it a regular shuffled
    * equi-join, so AQE skew handling applies; antimeridian and pole cases
    * are covered by the cell kernel, not special-cased join logic.
    *
    * @param radiusM great-circle radius in meters
    * @param nx,ny   grid resolution over lon [-180,180] x lat [-90,90]
    */
  def sphereDWithinJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      radiusM: Double,
      nx: Int = 360, ny: Int = 180): DataFrame = {
    // spherical bound computed ONCE per row (sd_envelopesphere4), so the
    // per-pair conjuncts — lat-band overlap, canonical-cell dedup — are
    // double arithmetic with no WKB re-parse; the great-circle refine
    // runs last, only on pairs the cheap conjuncts admit (the same
    // carried-envelope layout as the planar gridJoin)
    val dLat = math.toDegrees(radiusM / graft.functions.Spherical.R)
    val l = left.withColumn("__lg", leftGeom)
      .withColumn("__l4", st.f("sd_envelopesphere4", col("__lg")))
      .withColumn("__cell", explode(st.f("sd_gridcells_sphere4_adaptive", col("__l4"),
        lit(radiusM), lit(nx), lit(ny), lit(MaxFineCells))))
    val r = right.withColumn("__rg", rightGeom)
      .withColumn("__r4", st.f("sd_envelopesphere4", col("__rg")))
      .withColumn("__cell", explode(st.f("sd_gridcells_sphere4_dual", col("__r4"),
        lit(0.0), lit(nx), lit(ny))))
    def le(k: Int) = element_at(col("__l4"), k)
    def re(k: Int) = element_at(col("__r4"), k)
    val latOverlap = le(2) - lit(dLat) <= re(4) && re(2) <= le(4) + lit(dLat)
    // Distribute the LARGER candidate set by cell before the join (opt
    // r17): cell is the join's own equi-key, so at scale a sort-merge/
    // hash plan reuses the exchange outright — and when the smaller side
    // broadcasts (gate scale), the probe side no longer inherits the
    // SCAN's split count (one task per small parquet file) for the
    // expensive great-circle refine: the per-pair work spreads over the
    // session's shuffle width either way. The smaller side is left
    // alone so the broadcast fast path stays shuffle-free. Explicit N
    // pins the width (AQE would coalesce a few-MB exploded set back to
    // one task — the exact straggler this fixes).
    val (lp, rp) = cellRepartitionLarger(left, right, l, r)
    lp.join(rp, lp("__cell") === rp("__cell")
        && latOverlap
        && levelRefCell(lp("__cell"), lit(radiusM), nx, ny)
        && st.f("st_dwithinsphere", col("__lg"), col("__rg"), lit(radiusM)))
      .drop("__cell", "__lg", "__rg", "__l4", "__r4")
  }

  /** Fine cover budget before the adaptive side switches to coarse
    * cells (two-level spherical grid — Spherical.gridCellsAdaptive). */
  val MaxFineCells = 256

  /** Cell-keyed pre-shuffle of the larger join input (its exploded
    * frame), leaving the smaller input on the broadcast fast path.
    * "Larger" by the optimizer's size estimate of the un-exploded
    * inputs — both sides inflate by the same cover machinery, so the
    * input ordering is the candidate-set ordering. */
  private def cellRepartitionLarger(left: DataFrame, right: DataFrame,
      l: DataFrame, r: DataFrame): (DataFrame, DataFrame) = {
    val spark = left.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val lBytes = left.queryExecution.optimizedPlan.stats.sizeInBytes
    val rBytes = right.queryExecution.optimizedPlan.stats.sizeInBytes
    // Micro-join floor: when even the larger input is this small the
    // whole candidate set is a single cheap task and the extra exchange
    // is pure overhead; any production-scale side clears 1 MB by many
    // orders of magnitude, so the knob only exempts toy inputs.
    val minBytes = spark.conf.getOption("spark.graft.sphere.repartitionMinBytes")
      .map(_.toLong).getOrElse(1L << 20)
    if (lBytes.max(rBytes) < minBytes) return (l, r)
    // Redistribute ONLY when the candidate side is actually
    // under-parallelized (e.g. one task per small single-row-group
    // file): a source that already scans wide — a big cluster input, a
    // generated range — keeps its width, and the broadcast fast path
    // stays exchange-free (measured: blanket redistribution cost
    // sj13's m=10 ScaleBench run ~1.5 s of pure shuffle overhead on an
    // already-32-way input).
    //
    // The toRdd probe is gated to EXCHANGE-FREE physical plans (ADVICE
    // r17): under AQE, toRdd on a plan with an Exchange/Broadcast
    // materializes the child stages at planning time — the work would
    // run here, be discarded, and run again in the real query. A plan
    // that carries its own exchange already gets the session's shuffle
    // width from it, so "already wide" (no repartition) is also the
    // semantically right answer for that case; only exchange-free scans
    // (the gate case: one task per single-row-group file) are probed,
    // where toRdd is pure planning. The catch is scoped to NonFatal so
    // a genuine planning failure still surfaces in the real query, not
    // here.
    def width(df: DataFrame): Int =
      try {
        val plan = df.queryExecution.sparkPlan
        val hasExchange = plan.exists {
          case _: org.apache.spark.sql.execution.exchange.Exchange => true
          case _ => false
        }
        if (hasExchange) parts
        else df.queryExecution.toRdd.getNumPartitions
      } catch { case scala.util.control.NonFatal(_) => parts }
    val (bigIn, big, small, bigFirst) =
      if (lBytes >= rBytes) (left, l, r, true) else (right, r, l, false)
    if (width(bigIn) * 2 >= parts) (l, r)
    else if (bigFirst) (big.repartition(parts, col("__cell")), small)
    else (small, big.repartition(parts, col("__cell")))
  }

  /** Per-level canonical-cell dedup: a pair meets at the level the
    * adaptive (left) row chose, so the refcell comparison runs against
    * that level's grid (coarse ids carry the nx*ny offset). */
  private def levelRefCell(cell: Column, radius: Column, nx: Int, ny: Int): Column = {
    import graft.functions.Spherical.{coarseNx, coarseNy}
    val off = nx.toLong * ny
    when(cell < off,
      st.f("sd_refcell_sphere4", col("__l4"), col("__r4"),
        radius, lit(nx), lit(ny)) === cell)
      .otherwise(
        st.f("sd_refcell_sphere4", col("__l4"), col("__r4"),
          radius, lit(coarseNx(nx)), lit(coarseNy(ny))) === cell - lit(off))
  }

  /** Geography intersects join: the dwithin machinery at radius 0 with
    * the st_intersectssphere refine (winding containment + crossing
    * geodesic arcs — the reference's geography sjoin surface,
    * tests/geography/test_geog_sjoin.py). The modulo lon-interval
    * pre-filter is gated off for bounds spanning ≥ 180° (polar caps,
    * whose chart lon interval is not a cover); latitude overlap is
    * always a valid cover test because latLngBound carries the geodesic
    * bulges. */
  def sphereIntersectsJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      nx: Int = 360, ny: Int = 180): DataFrame =
    sphereRelationJoin(left, right, leftGeom, rightGeom, "st_intersectssphere", nx, ny)

  /** The sphereIntersectsJoin machinery with a parameterized exact
    * refine: any spherical binary predicate that IMPLIES envelope
    * overlap (intersects / contains / within / covers / coveredby /
    * equals — NOT disjoint) is admitted by the same radius-0 grid
    * candidate generation, so the predicate only changes the last
    * conjunct. The SQL planner path (`SphereJoinRule`) routes all
    * recognized spherical relation predicates through here. */
  def sphereRelationJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      predicate: String,
      nx: Int = 360, ny: Int = 180): DataFrame = {
    val l = left.withColumn("__lg", leftGeom)
      .withColumn("__l4", st.f("sd_envelopesphere4", col("__lg")))
      .withColumn("__cell", explode(st.f("sd_gridcells_sphere4_adaptive", col("__l4"),
        lit(0.0), lit(nx), lit(ny), lit(MaxFineCells))))
    val r = right.withColumn("__rg", rightGeom)
      .withColumn("__r4", st.f("sd_envelopesphere4", col("__rg")))
      .withColumn("__cell", explode(st.f("sd_gridcells_sphere4_dual", col("__r4"),
        lit(0.0), lit(nx), lit(ny))))
    def le(k: Int) = element_at(col("__l4"), k)
    def re(k: Int) = element_at(col("__r4"), k)
    val latOverlap = le(2) <= re(4) && re(2) <= le(4)
    def lonOv(shift: Double) =
      le(1) + lit(shift) <= re(3) && re(1) <= le(3) + lit(shift)
    val lonOverlap = (le(3) - le(1) >= 180.0) || (re(3) - re(1) >= 180.0) ||
      lonOv(0.0) || lonOv(360.0) || lonOv(-360.0)
    // cell-keyed redistribution of the larger side before the join — see
    // sphereDWithinJoin: exchange-reused at scale, and the winding/
    // arc-crossing refine gets the session's full shuffle width instead
    // of the scan's split count
    val (lp, rp) = cellRepartitionLarger(left, right, l, r)
    lp.join(rp, lp("__cell") === rp("__cell")
        && latOverlap && lonOverlap
        && levelRefCell(lp("__cell"), lit(0.0), nx, ny)
        && st.f(predicate, col("__lg"), col("__rg")))
      .drop("__cell", "__lg", "__rg", "__l4", "__r4")
  }

  /** Partitioned KNN join — the scale path when the OBJECT side cannot be
    * broadcast (the reference's out-of-core kNN territory:
    * probe/knn_results_merger.rs). Exact two-round grid algorithm:
    *
    * 1. Probe each query's 3x3 cell neighbourhood, rank candidates, and
    *    take the kth-candidate distance as the query's radius bound; a
    *    query with fewer than k candidates in the neighbourhood falls back
    *    to the full-extent diagonal (correct, rare when the grid is sized
    *    so a cell holds >= k objects).
    * 2. Re-probe every cell intersecting the radius-bound envelope and
    *    rank by (distance, tieBreak) — exact top-k, three shuffles total,
    *    nothing broadcast, nothing quadratic.
    */
  def knnJoinGrid(
      query: DataFrame, objects: DataFrame,
      queryGeom: Column, objectGeom: Column,
      k: Int, tieBreak: Column,
      nx: Int = 32, ny: Int = 32,
      bounds: Option[(Double, Double, Double, Double)] = None): DataFrame = {

    val (xmin, ymin, xmax, ymax) = bounds.getOrElse {
      val Row(a: Double, b: Double, c: Double, d: Double) =
        objects.select(st.envelopeAgg(objectGeom).as("e"))
          .unionAll(query.select(st.envelopeAgg(queryGeom).as("e")))
          .select(min(st.xmin(col("e"))), min(st.ymin(col("e"))),
            max(st.xmax(col("e"))), max(st.ymax(col("e"))))
          .collect()(0)
      (a, b, c, d)
    }
    val diag = math.sqrt((xmax - xmin) * (xmax - xmin) + (ymax - ymin) * (ymax - ymin))
    val cellW = (xmax - xmin) / nx
    val cellH = (ymax - ymin) / ny

    val qCols = query.columns
    val oCols = objects.columns
    // persisted NOW, registered with the CacheRegistry only at the END of
    // construction: the construction-time collects below (occ bitmap,
    // histogram, escalation counts) are completing queries that reference
    // these caches, and an early registration lets the sweep listener
    // unpersist them mid-build — every later stage then recomputes the
    // sources AND re-draws monotonically_increasing_id, a correctness
    // hazard for the id-keyed rejoin
    val q = query.withColumn("__qg", queryGeom)
      .withColumn("__qid", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val o =
      objects.withColumn("__og", objectGeom).withColumn("__otb", tieBreak.cast("double"))
        .withColumn("__oid", monotonically_increasing_id())
        .withColumn("__o4", st.f("sd_envelope4", col("__og")))
        .withColumn("__ocell", explode(st.f("st_gridcells_knndual",
          st.f("st_envelope", col("__og")),
          lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // OCCUPANCY bitmap over the dual cell-id space (fine + nested
    // coarse): every probe cover — bound rounds AND the final mixed
    // cover — intersects against it INSIDE the generator, so a sparse
    // query's empty cells are never exploded into rows at all (the
    // former explode-then-broadcast-semi pipeline generated ~cover
    // rows per query before dropping the empties; at m=100 sparse that
    // was ~60s of pure cover generation). Bounded by the grid knob:
    // <= nx*ny + (nx/f)*(ny/f) bits, same bound the broadcast occupied
    // list already had. Collected eagerly (warms o's persist).
    val fxN = graft.functions.Grid.nestFactor(nx)
    val fyN = graft.functions.Grid.nestFactor(ny)
    // The bitmap (and occHit's id.toInt) indexes with Int: a grid near
    // or above 2^31 cells would wrap silently and DROP occupied cells
    // from covers (lost KNN candidates) — force the legacy
    // broadcast-semi path for oversized grids instead.
    val nBitsL = nx.toLong * ny +
      (if (fxN * fyN > 1) (nx.toLong / fxN) * (ny.toLong / fyN) else 0L)
    val occOn = nBitsL <= Int.MaxValue.toLong && query.sparkSession.conf
      .getOption("spark.graft.knn.occCover").forall(_ == "true")
    if (sys.env.contains("SPARK_GRAFT_KNN_DEBUG"))
      println(s"[knn-occ] planar nBits=$nBitsL occOn=$occOn " +
        s"(guard=${nBitsL > Int.MaxValue.toLong})")
    val occBitmap: Array[Byte] = if (!occOn) null else {
      val nBits = nBitsL.toInt
      val bm = new Array[Byte]((nBits + 7) / 8)
      o.select(col("__ocell")).distinct().collect().foreach { r =>
        val id = r.getLong(0).toInt
        bm(id >> 3) = (bm(id >> 3) | (1 << (id & 7))).toByte
      }
      bm
    }
    def cells(g: Column, expand: Column): Column =
      if (occOn) st.f("st_gridcells_occ", st.f("st_expandenvelope", g, expand),
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny),
        lit(occBitmap))
      else st.f("st_gridcells", st.f("st_expandenvelope", g, expand),
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny))

    // final-probe cover: object cells exist at BOTH nested levels (fine
    // + coarse image) so the MIXED cover matches at either level (bound
    // probes stay fine; only the final enumeration goes hierarchical)
    def cellsMixed(g: Column, expand: Column): Column =
      if (occOn) st.f("st_gridcells_knncover_occ",
        st.f("st_expandenvelope", g, expand),
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny),
        lit(MaxFineCells), lit(occBitmap))
      else st.f("st_gridcells_knncover", st.f("st_expandenvelope", g, expand),
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny),
        lit(MaxFineCells))

    // round 1: geometric radius escalation over the per-cell COUNT
    // histogram -> per-query bound (one-ring probe first, 4x per round
    // for still-unresolved queries; see escalateKnnBounds — a sparse
    // query never re-probes the full extent, and no escalation round
    // touches an object row)
    val ring = math.max(cellW, cellH) + 1e-12
    def clampIdx(v: Column, n: Int): Column =
      least(greatest(v.cast("long"), lit(0L)), lit((n - 1).toLong))
    def oe(i: Int) = element_at(st.f("sd_envelope4", col("__og")), i)
    val canonCell = clampIdx(floor((oe(2) - lit(ymin)) / lit(ymax - ymin) * ny), ny) * nx +
      clampIdx(floor((oe(1) - lit(xmin)) / lit(xmax - xmin) * nx), nx)
    def centerXY(cell: Column): (Column, Column) = (
      lit(xmin) + (pmod(cell, lit(nx)).cast("double") + 0.5) * cellW,
      lit(ymin) + (floor(cell / nx).cast("double") + 0.5) * cellH)
    val reachLit = lit(math.sqrt(cellW * cellW / 4 + cellH * cellH / 4))
    val diagCol = sqrt((oe(3) - oe(1)) * (oe(3) - oe(1)) +
      (oe(4) - oe(2)) * (oe(4) - oe(2)))
    // the escalation's per-pair ub is codegen'd double arithmetic: raw
    // cell centers in the fine-only histogram,
    // euclidean ubDist, and the query anchored at its envelope min
    // corner (exact for point queries)
    def ubDist(ax: Column, ay: Column, bx: Column, by: Column): Column =
      sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
    // histogram stays FINE-ONLY: bound rounds probe fine covers and the
    // whole-histogram probe must not double-count (see escalateKnnBounds)
    val cellStats =
      knnCellStats(objects, objectGeom, canonCell, centerXY, _ => reachLit, diagCol)
    def qe(i: Int) = element_at(st.f("sd_envelope4", col("__qg")), i)
    val qAnchor = (qe(1), qe(2), sqrt((qe(3) - qe(1)) * (qe(3) - qe(1)) +
      (qe(4) - qe(2)) * (qe(4) - qe(2))))
    // round 1, default path: per-query kth-bound via the driver-built
    // CellBoundKd over the (grid-knob-bounded) histogram — a map-side
    // projection, no joins, no escalation actions, and the bound is the
    // global weighted-kth (never looser than any escalation round's).
    // spark.graft.knn.kdBound=false falls back to the count-probe
    // escalation (kept as the measured A/B reference).
    val useKd = query.sparkSession.conf
      .getOption("spark.graft.knn.kdBound").forall(_ == "true")
    val withRadius =
      if (useKd)
        q.withColumn("__radius",
          kdBoundColumn(cellStats, k, diag, sphereMode = false, qAnchor))
      else
        q.join(escalateKnnBounds(q, cellStats, k, cells, ubDist, qAnchor,
            ring, diag), Seq("__qid"), "left")
          .withColumn("__radius", coalesce(col("__radius"), lit(diag)))

    // round 2: exact re-probe within the per-query radius (queries with an
    // empty neighbourhood at every radius fall back to the full-extent
    // diagonal — only possible when the object side holds fewer than k
    // rows). With the occupancy bitmap the cover explode emits occupied
    // cells only; the legacy path (occCover=false) keeps the broadcast
    // semi filter instead.
    // Envelope doubles on BOTH sides (one WKB parse per query row / per
    // object row at persist time), so the per-pair refine below is pure
    // codegen'd double arithmetic: rect-gap lower bound first (drops the
    // in-envelope / out-of-circle corner pairs — measured 1.34G of 1.47G
    // pairs at m=100 sparse), exact WKB st_distance ONLY for pairs of
    // non-degenerate envelopes (for point-point pairs, the common KNN
    // shape, gap == exact distance). The former st_distance-per-pair
    // refine parsed two WKBs on every one of the 1.47G pairs: 56s.
    // only the probe machinery rides the pair join — user columns are
    // recovered by the winner rejoin in knnTopKFinish. Per-side envelope
    // SCALAR columns (not element_at over the array per pair): the
    // refine expressions appear in the join condition AND the __d
    // projection, and the array-indexing form blew the stage's generated
    // method past HotSpot's 8 KB JIT limit — the whole join stage ran in
    // the bytecode interpreter, measured 25x slower (uniform 46s tasks).
    def q4(i: Int) = element_at(st.f("sd_envelope4", col("__qg")), i)
    var q2 = withRadius.select(col("__qid"), col("__qg"), col("__radius"),
        q4(1).as("__qx0"), q4(2).as("__qy0"), q4(3).as("__qx1"), q4(4).as("__qy1"))
      .withColumn("__qpt",
        col("__qx0") === col("__qx1") && col("__qy0") === col("__qy1"))
      .withColumn("__pcell",
        explode(cellsMixed(col("__qg"), col("__radius") + lit(1e-9))))
    if (!occOn) {
      val occupied = broadcast(o.select(col("__ocell").as("__occ")).distinct())
      q2 = q2.join(occupied, col("__pcell") === col("__occ"), "left_semi")
    }
    def o4(i: Int) = element_at(col("__o4"), i)
    val oSel = o.select(col("__ocell"), col("__og"),
        o4(1).as("__ox0"), o4(2).as("__oy0"), o4(3).as("__ox1"), o4(4).as("__oy1"),
        (o4(1) === o4(3) && o4(2) === o4(4)).as("__opt"),
        col("__otb"), col("__oid"))
      .hint("shuffle_hash") // probe side is an explode: see escalateKnnBounds
    val pairs = q2.join(oSel, col("__pcell") === col("__ocell"))
    val gapX = greatest(lit(0.0), col("__ox0") - col("__qx1"),
      col("__qx0") - col("__ox1"))
    val gapY = greatest(lit(0.0), col("__oy0") - col("__qy1"),
      col("__qy0") - col("__oy1"))
    val gapSq = gapX * gapX + gapY * gapY
    val rEff = col("__radius") + lit(1e-9)
    val refined = pairs
      .filter(gapSq <= rEff * rEff) // sqrt-free rect-gap lower bound
      .withColumn("__d", when(col("__qpt") && col("__opt"), sqrt(gapSq))
        .otherwise(st.distance(col("__qg"), col("__og"))))
      .filter(col("__d") <= rEff)
      .select(col("__qid"), col("__oid"), col("__otb"), col("__d"))
    val result = knnTopKFinish(refined, q, o, qCols, oCols, k)
    graft.CacheRegistry.register(q)
    graft.CacheRegistry.register(o)
    result
  }

  /** Shared final phase of the grid KNN twins: a BOUNDED top-k
    * aggregate (`sd_knn_topk_agg`, map-side combine, distinct-oid,
    * (d, tb, oid) tie order) over the NARROW candidate rows — only
    * (qid, <=k entries) buffers shuffle — then winner rows rejoin the
    * persisted inputs by id. Replaces the dropDuplicates + row_number
    * pipeline, which shuffled every surviving pair twice and whose
    * narrow post-shuffle partitions AQE coalesced into near-single-
    * threaded sorts (measured 50s of a 53s m=10 sparse run).
    * `refined` must carry exactly (__qid, __oid, __otb, __d). */
  private def knnTopKFinish(refined: DataFrame, q: DataFrame, o: DataFrame,
      qCols: Array[String], oCols: Array[String], k: Int): DataFrame = {
    val topk = refined
      .groupBy(col("__qid"))
      .agg(st.f("sd_knn_topk_agg", col("__d"), col("__otb"), col("__oid"),
        lit(k)).as("__top"))
      .select(col("__qid"), explode(col("__top")).as("__t"))
      .select(col("__qid"), col("__t.oid").as("__woid"),
        col("__t.d").as("knn_distance"), col("__t.rank").as("knn_rank"))
    // o is persisted pre-dedup (one row per object-cell), so the distinct
    // by id is a narrow shuffle of the object side, consistent with the
    // ids the candidates carry
    val oRows = o.select(col("__oid") +: oCols.map(c => o(c).as(s"__o_$c")): _*)
      .dropDuplicates("__oid")
    topk.join(q.select(col("__qid") +: qCols.map(col): _*), Seq("__qid"))
      .join(oRows, col("__woid") === col("__oid"))
      .select((qCols.map(col) ++ oCols.map(c => col(s"__o_$c").as(c)) ++
        Seq(col("knn_distance"), col("knn_rank"))).toIndexedSeq: _*)
  }

  /** Round-1 of the two-round grid KNN schemes: per-query kth-distance
    * upper bound via GEOMETRIC RADIUS ESCALATION. Probe each query's
    * ~one-cell ring first; queries still holding < k distinct candidates
    * re-probe at 4x the radius (ring -> 4x -> 16x -> ... -> maxR) until
    * they resolve. A query's kth candidate distance under ANY cover
    * bounds its true kth distance from above (the cover contains every
    * object within the probe radius), so resolved queries never
    * re-probe, and a sparse query pays for its own escalated radius
    * instead of being dragged straight to the full-extent cover (the
    * former fallback joined every empty-ring query against the ENTIRE
    * object side). Escalation rounds see only the shrinking unresolved
    * set — on a dense workload rounds 2+ run on (near-)empty inputs and
    * AQE's empty-relation propagation collapses them at runtime.
    *
    * The per-round bound is computed by `sd_knn_bound_agg`, a bounded
    * TypedImperativeAggregate with MAP-SIDE partial aggregation: the
    * probe join's candidate pairs are consumed where they are produced
    * and only (qid, <=k entries) buffers shuffle — the former
    * dropDuplicates + row_number pipeline shuffled every candidate pair
    * twice, the dominant intermediate at scale. Per-round stats (one row
    * per probing query) are persisted so later rounds and the final
    * union never recompute earlier probe joins.
    *
    * `q` must carry __qid/__qg, `o` must carry __ocell/__og/__otb/__oid.
    * Returns (__qid, __radius) for every query with >= 1 candidate at
    * some radius; the terminal round hands cnt < k queries maxR (cover =
    * the full extent, so < k candidates there means the object side
    * itself holds fewer than k rows — taking everything is exact). */
  /** Round-1 default for both grid KNN twins: driver-collect the fine
    * per-cell histogram (<= nx*ny rows, the grid-resolution knob that
    * already bounds the broadcast), build a [[graft.functions.CellBoundKd]]
    * over it, and compute each query's kth-bound radius as a MAP-SIDE
    * projection — no probe joins, no escalation rounds. Queries whose
    * total histogram weight is below k (object side smaller than k) get
    * `maxR`, matching the escalation's terminal-round semantics. */
  private def kdBoundColumn(cellStats: DataFrame, k: Int, maxR: Double,
      sphereMode: Boolean, anchor: (Column, Column, Column)): Column = {
    import org.apache.spark.sql.graft.DatasetBridge
    val t0 = System.nanoTime()
    val rows = cellStats
      .select(col("__ccx"), col("__ccy"), col("__ccnt"), col("__cpad")).collect()
    val m = rows.length
    val cx = new Array[Double](m); val cy = new Array[Double](m)
    val w = new Array[Long](m); val pd = new Array[Double](m)
    var i = 0
    while (i < m) {
      val r = rows(i)
      cx(i) = r.getDouble(0); cy(i) = r.getDouble(1)
      w(i) = r.getLong(2); pd(i) = r.getDouble(3)
      i += 1
    }
    val kd = if (sphereMode) graft.functions.CellBoundKd.sphere(cx, cy, w, pd)
      else graft.functions.CellBoundKd.planar(cx, cy, w, pd)
    if (sys.env.contains("SPARK_GRAFT_KNN_DEBUG"))
      println(f"[knn-kdbound] cells=$m collect+buildSec=${(System.nanoTime() - t0) / 1e9}%.2f")
    val kk = k
    val mr = maxR
    val kern: Array[Any] => Any = a => {
      val b = kd.kthBound(a(0).asInstanceOf[Double], a(1).asInstanceOf[Double], kk)
      if (b < 0) mr else b + a(2).asInstanceOf[Double]
    }
    val (ax, ay, adiag) = anchor
    DatasetBridge.column(graft.functions.GeomScalar("sd_knn_kdbound",
      Seq(DatasetBridge.expr(ax), DatasetBridge.expr(ay), DatasetBridge.expr(adiag)),
      org.apache.spark.sql.types.DoubleType,
      Seq(graft.functions.ArgKind.Dbl, graft.functions.ArgKind.Dbl,
        graft.functions.ArgKind.Dbl), kern))
  }

  /** Non-foldable constant-0 join key: a join on a LITERAL constant key
    * constant-folds away and the equi-join degenerates to the
    * BroadcastNestedLoopJoin the plan audit forbids; pmod over a data
    * column is semantically the same constant 0 but survives the
    * optimizer, keeping the whole-histogram probe a BroadcastHashJoin
    * (plan shape pinned in SpatialJoinSpec). */
  private def constKey(dataCol: Column): Column = pmod(dataCol, lit(1L))

  private[graft] def escalateKnnBounds(q: DataFrame, cellStats: DataFrame, k: Int,
      cells: (Column, Column) => Column,
      ubDist: (Column, Column, Column, Column) => Column,
      anchor: (Column, Column, Column),
      ring: Double, maxR: Double): DataFrame = {
    val radii =
      Iterator.iterate(ring)(_ * 4).takeWhile(_ < maxR).take(12).toList :+ maxR
    // COUNT PROBES, not object probes: each round joins the query covers
    // against the broadcast per-cell histogram (<= nx*ny rows — bounded
    // by the same deployment knob that sizes the grid), so no escalation
    // round ever touches an object row. A query resolves with radius
    // rk = the weighted kth-smallest CELL upper bound (distance to cell
    // center + cell reach + the cell's max object extent): >= k objects
    // provably sit within rk, so the single exact join that follows
    // probes ~the true kth distance — the former object-enumeration
    // rounds scanned density x area(4 d_k) pairs on clustered data
    // (observed: a 5B-pair sort fallback filling the disk at m=100).
    // the histogram is persisted so the per-round broadcast exchanges
    // (one per eager round action — exchange reuse does not span
    // actions) re-read <= nx*ny cached rows instead of re-running the
    // object aggregation every round. The histogram is FINE-ONLY by
    // construction (knnCellStats): bound rounds must never see a coarse
    // row — a doubled fine+coarse multiset would shrink the weighted
    // kth bound below the true kth distance (observed: lost neighbours
    // on the 3-object global-cover fixture), and coarse-cell pads
    // inflate resolved radii (measured 1.6-3x worse end to end).
    val probe = broadcast(cellStats
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // occupied-cell count, materialized once (also warms the persist):
    // a round whose fine cover would ENUMERATE more cells than the
    // histogram HOLDS probes the whole broadcast histogram directly
    // instead — strictly cheaper (no empty-cell explode rows: a
    // whole-extent round was measured at 92s of a 184s sparse m=100
    // run, all cover generation) and strictly TIGHTER (every histogram
    // row's ub is sound regardless of cover membership, and more
    // entries only lower the weighted kth bound). The cover is a
    // work-reduction device, never a correctness one.
    // the whole-histogram probe is an equi-join on a CONSTANT key, not a
    // crossJoin: semantically identical (every pair matches), but it
    // plans as a BroadcastHashJoin — the operator keeps the no-BNLJ /
    // no-Cartesian property the plan audit pins across every gate (see
    // constKey for why the key must be non-foldable)
    val probeAll = broadcast(cellStats.withColumn("__k1", constKey(col("__ccell"))))
    val histRows = cellStats.count()
    // the per-pair ub is PURE DOUBLE ARITHMETIC: the query contributes a
    // fixed ANCHOR (its envelope min corner — a point of the envelope,
    // so any point of the query is within the envelope "diag" of it;
    // for point queries anchor == the point and diag == 0, exact) and
    // the histogram row its center coords — no WKB parse per pair (the
    // former st_distance(query_wkb, center_point) re-parsed the query
    // per histogram row: measured 92s of one whole-extent round)
    val (ax, ay, adiag) = anchor
    var unresolved = q.select(col("__qid"), col("__qg"),
      ax.as("__qax"), ay.as("__qay"), adiag.as("__qdiag"))
    // Each round MATERIALIZES its stats (and the shrunk unresolved set)
    // before the next round is even planned: rounds whose input is empty
    // are never constructed, so a dense workload's final plan carries
    // ONLY the rounds that actually probed (no full-extent branches),
    // and each probe join runs exactly once — a lazily-composed
    // escalation re-derived every round's subtree inside one action and
    // measured 4-8x slower. Eager jobs at operator-construction time are
    // this codebase's established pattern (knnJoinGrid's envelope
    // pre-pass collect, IvfAnn's Lloyd rounds). The per-round persists
    // join the CacheRegistry only AFTER construction completes — the
    // sweep listener releases caches referenced by any finishing query,
    // and the construction-time counts must not trigger it early.
    val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      pinned += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val dbg = sys.env.contains("SPARK_GRAFT_KNN_DEBUG")
    var remaining = -1L // unknown before the first round's count
    val bounds = radii.zipWithIndex.flatMap { case (r, i) =>
      val last = i == radii.size - 1
      if (remaining == 0) None
      else {
        val t0 = if (dbg) System.nanoTime() else 0L
        // the ub is PROJECTED to a narrow row before the aggregate: the
        // typed aggregate's partial (ObjectHashAggregate) falls back to
        // sort-based beyond the distinct-key threshold, and that sort
        // touches the full input rows — 3 scalars per row here
        val coverEst = { val c = 2.0 * r / ring + 1.0; c * c }
        val cand =
          if (coverEst >= histRows)
            unresolved.withColumn("__k1", constKey(col("__qid")))
              .join(probeAll, "__k1")
          else unresolved
            .select(col("__qid"), col("__qax"), col("__qay"), col("__qdiag"),
              explode(cells(col("__qg"), lit(r))).as("__pcell"))
            .join(probe, col("__pcell") === col("__ccell"))
        val stats = pin(cand
          .select(col("__qid"),
            (ubDist(col("__qax"), col("__qay"), col("__ccx"), col("__ccy")) +
              col("__qdiag") + col("__cpad")).as("__ub"),
            col("__ccnt"))
          .groupBy(col("__qid"))
          .agg(st.f("sd_knn_wbound_agg", col("__ub"), col("__ccnt"), lit(k)).as("__b"))
          .select(col("__qid"), col("__b").getField("rk").as("__dk"),
            col("__b").getField("cnt").as("__cnt")))
        if (!last) {
          unresolved = pin(unresolved.join(
            stats.filter(col("__cnt") >= k).select(col("__qid")), Seq("__qid"), "left_anti"))
          remaining = unresolved.count() // also materializes stats
        } else if (dbg) stats.count()
        if (dbg) println(f"[knn-bound] round=$i radius=$r%.1f " +
          f"unresolved_after=$remaining sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        Some(
          if (last)
            stats.select(col("__qid"),
              when(col("__cnt") >= k, col("__dk")).otherwise(lit(maxR)).as("__radius"))
          else
            stats.filter(col("__cnt") >= k).select(col("__qid"), col("__dk").as("__radius")))
      }
    }
    pinned.foreach(graft.CacheRegistry.register(_))
    graft.CacheRegistry.register(cellStats)
    bounds.reduce(_ unionByName _)
  }

  /** Per-cell object histogram for the count-probe escalation: one row
    * per OCCUPIED canonical cell (the cell of each object's envelope
    * min corner — pure column arithmetic, counted once per object) with
    * the object count, the cell center geometry, and a SOUND distance
    * pad: distance(q, object) <= dist(q, center) + reach(center ->
    * farthest corner) + the cell's max object-envelope diagonal. At most
    * nx*ny rows — broadcastable by construction (the grid resolution is
    * the deployment knob that already bounds it). */
  private def knnCellStats(objects: DataFrame, objectGeom: Column,
      canonCell: Column, centerXY: Column => (Column, Column),
      reachOf: Column => Column, diag: Column): DataFrame = {
    val (ccx, ccy) = centerXY(col("__ccell"))
    objects
      .select(objectGeom.as("__og"))
      .select(canonCell.as("__ccell"), diag.as("__diag"))
      .groupBy(col("__ccell"))
      .agg(count(lit(1)).as("__ccnt"), max(col("__diag")).as("__mdiag"))
      .select(col("__ccell"), col("__ccnt"),
        ccx.as("__ccx"), ccy.as("__ccy"),
        (reachOf(col("__ccell")) + col("__mdiag")).as("__cpad"))
  }

  /** Spheroid (great-circle) partitioned KNN join — the scale path when
    * the OBJECT side of a `st_knn(..., use_spheroid=true)` join cannot be
    * broadcast, closing the one join family that previously always
    * driver-collected. Same exact two-round scheme as `knnJoinGrid`, with
    * every planar ingredient swapped for its wrap-safe spherical analog:
    *
    *   - cells: `st_gridcells_sphere` — the lat/lon cover of the
    *     geometry's SPHERICAL envelope (S2 RectBounder latitude bulges)
    *     expanded by a geodesic radius in METERS, full-ring/pole-touch
    *     fallbacks included (the same kernel the sphere dwithin join's
    *     candidate cover is gate-proven on);
    *   - distance: `st_distancesphere` (haversine meters);
    *   - the "no candidates" fallback radius: half the circumference
    *     (π·R — the antipodal maximum), the spherical analog of the
    *     planar full-extent diagonal.
    *
    * Round 1 probes each query's ~one-cell-ring geodesic neighbourhood
    * and takes its kth candidate distance as a per-query upper bound
    * (the kth smallest over any subset bounds the true kth from above);
    * round 2 re-probes the radius-expanded spherical cover and ranks by
    * (distance, tieBreak, object id) — exact top-k, three shuffles,
    * nothing broadcast, no O(|q|·|o|) rank. Reference semantics:
    * rust/sedona-spatial-join/src/index/default_spatial_index.rs:359-430
    * with the spheroid option of option.rs:98. */
  def knnJoinGridSphere(
      query: DataFrame, objects: DataFrame,
      queryGeom: Column, objectGeom: Column,
      k: Int, tieBreak: Column,
      nx: Int = 90, ny: Int = 45): DataFrame = {

    val maxGeo = math.Pi * graft.functions.Spherical.R // antipodal meters
    // BOUND probes stay on the FINE grid (tight per-query radii — a
    // coarse-cell bound pads the resolved radius by the coarse reach,
    // which measured 3x the exact-probe pairs on the sparse workload);
    // only the FINAL probe's cover enumeration goes hierarchical, via
    // the MIXED nested cover whose candidate-pair set is provably
    // identical to all-fine (sd_gridcells_sphere4_knncover notes).
    def cells(g: Column, expandM: Column): Column =
      st.f("sd_gridcells_sphere4", st.f("sd_envelopesphere4", g),
        expandM, lit(nx), lit(ny))

    val qCols = query.columns
    val oCols = objects.columns
    // persisted now, CacheRegistry-registered at the END of construction
    // (see the planar twin: early registration lets construction-time
    // collects sweep the caches mid-build)
    val q = query.withColumn("__qg", queryGeom)
      .withColumn("__qid", monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val o =
      objects.withColumn("__og", objectGeom).withColumn("__otb", tieBreak.cast("double"))
        .withColumn("__oid", monotonically_increasing_id())
        .withColumn("__o4", st.f("sd_envelopesphere4", col("__og")))
        .withColumn("__ocell", explode(st.f("sd_gridcells_sphere4_knndual",
          st.f("sd_envelopesphere4", col("__og")), lit(0.0), lit(nx), lit(ny))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // OCCUPANCY bitmap over the dual cell-id space (fine + nested
    // coarse), collected from the object explode — the final probe's
    // cover generator intersects against it so empty-ocean cells are
    // never exploded into rows (the planar twin's round-15 fix; the
    // sphere side previously paid the explode-then-broadcast-semi tax).
    // Same Int-overflow guard as the planar path: an oversized grid
    // falls back to the legacy broadcast-semi filter. Collected eagerly
    // (warms o's persist, and runs BEFORE CacheRegistry registration).
    val fxN = graft.functions.Grid.nestFactor(nx)
    val fyN = graft.functions.Grid.nestFactor(ny)
    val nBitsL = nx.toLong * ny +
      (if (fxN * fyN > 1) (nx.toLong / fxN) * (ny.toLong / fyN) else 0L)
    val occOn = nBitsL <= Int.MaxValue.toLong && query.sparkSession.conf
      .getOption("spark.graft.knn.occCover").forall(_ == "true")
    if (sys.env.contains("SPARK_GRAFT_KNN_DEBUG"))
      println(s"[knn-occ] sphere nBits=$nBitsL occOn=$occOn " +
        s"(guard=${nBitsL > Int.MaxValue.toLong})")
    val occBitmap: Array[Byte] = if (!occOn) null else {
      val bm = new Array[Byte]((nBitsL.toInt + 7) / 8)
      o.select(col("__ocell")).distinct().collect().foreach { r =>
        val id = r.getLong(0).toInt
        bm(id >> 3) = (bm(id >> 3) | (1 << (id & 7))).toByte
      }
      bm
    }
    def cellsMixed(g: Column, expandM: Column): Column =
      if (occOn) st.f("sd_gridcells_sphere4_knncover_occ",
        st.f("sd_envelopesphere4", g),
        expandM, lit(nx), lit(ny), lit(MaxFineCells), lit(occBitmap))
      else st.f("sd_gridcells_sphere4_knncover", st.f("sd_envelopesphere4", g),
        expandM, lit(nx), lit(ny), lit(MaxFineCells))

    // round 1: geometric radius escalation over the per-cell COUNT
    // histogram -> per-query bound (one-ring geodesic probe first, 4x
    // per round, globe only as the terminal radius — see
    // escalateKnnBounds; the former π·R fallback joined every empty-ring
    // query against the ENTIRE object side, a skew cliff on
    // sparse/clustered workloads like ocean sensors vs coastal assets)
    val ringM = math.Pi * graft.functions.Spherical.R / ny + 1e-6
    val distSphere = (a: Column, b: Column) => st.f("st_distancesphere", a, b)
    val cellW = 360.0 / nx
    val cellH = 180.0 / ny
    def clampIdx(v: Column, n: Int): Column =
      least(greatest(v.cast("long"), lit(0L)), lit((n - 1).toLong))
    def oe(i: Int) = element_at(st.f("sd_envelopesphere4", col("__og")), i)
    val canonCell =
      clampIdx(floor((oe(2) + lit(90.0)) / 180.0 * ny), ny) * nx +
        clampIdx(floor((oe(1) + lit(180.0)) / 360.0 * nx), nx)
    def centerLon(cell: Column): Column =
      lit(-180.0) + (pmod(cell, lit(nx)).cast("double") + 0.5) * cellW
    def centerLat(cell: Column): Column =
      lit(-90.0) + (floor(cell / nx).cast("double") + 0.5) * cellH
    def centerXY(cell: Column): (Column, Column) =
      (centerLon(cell), centerLat(cell))
    // SOUND rect bounds on the sphere use the meridian+parallel path
    // R*(dLatRad + dLonRad) — NOT corner-to-corner haversine, which can
    // UNDERSHOOT a rect's diameter at high latitude (a same-latitude
    // pair can be farther apart than the corner pair because the
    // parallel shrinks with cos(lat) while the corner pair climbs to a
    // shorter-arc latitude). Exact for the degenerate (point) case.
    val mPerDeg = math.Pi * graft.functions.Spherical.R / 180.0
    def rectBound(dLonDeg: Column, dLatDeg: Column): Column =
      (dLonDeg + dLatDeg) * mPerDeg
    // cell reach: center -> any point of the cell
    def reachOf(cell: Column): Column = {
      val _ = cell
      lit((cellW / 2 + cellH / 2) * mPerDeg)
    }
    // object extent pad: any-point bound from the envelope min corner; a
    // wrap-aware envelope crossing the antimeridian (or spanning >= 180
    // deg) gets the antipodal maximum
    val diagCol = when(oe(1) > oe(3) || oe(3) - oe(1) >= 180.0, lit(maxGeo))
      .otherwise(least(rectBound(oe(3) - oe(1), oe(4) - oe(2)), lit(maxGeo)))
    // per-pair ub = haversine on raw doubles (no WKB in the bound loop)
    def ubDist(ax: Column, ay: Column, bx: Column, by: Column): Column =
      st.f("sd_haversine", ax, ay, bx, by)
    // histogram stays FINE-ONLY (see the planar twin / escalateKnnBounds)
    val cellStats =
      knnCellStats(objects, objectGeom, canonCell, centerXY, reachOf, diagCol)
    def qe(i: Int) = element_at(st.f("sd_envelopesphere4", col("__qg")), i)
    val qAnchor = (qe(1), qe(2),
      when(qe(1) > qe(3) || qe(3) - qe(1) >= 180.0, lit(maxGeo))
        .otherwise(least(rectBound(qe(3) - qe(1), qe(4) - qe(2)), lit(maxGeo))))
    // round 1 (see the planar twin): map-side CellBoundKd radius by
    // default, count-probe escalation as the A/B fallback
    val useKd = query.sparkSession.conf
      .getOption("spark.graft.knn.kdBound").forall(_ == "true")
    val withRadius =
      if (useKd)
        q.withColumn("__radius",
          kdBoundColumn(cellStats, k, maxGeo, sphereMode = true, qAnchor))
      else
        q.join(escalateKnnBounds(q, cellStats, k, cells, ubDist, qAnchor,
            ringM, maxGeo), Seq("__qid"), "left")
          .withColumn("__radius", coalesce(col("__radius"), lit(maxGeo)))

    // round 2: exact re-probe of the radius-expanded spherical cover
    // (a query bound of maxGeo can only mean an object side smaller than
    // k — rare by construction, never wrong). With the occ bitmap the
    // cover generator already dropped unoccupied cells; the legacy path
    // (occCover=false or oversized grid) keeps the broadcast-semi filter
    // per-side envelope SCALARS, not per-pair element_at (see the planar
    // twin's generated-method-size note); point-point pairs (degenerate
    // spherical envelopes, the common KNN shape) refine via haversine on
    // raw doubles — no per-pair WKB parse
    def q4(i: Int) = element_at(st.f("sd_envelopesphere4", col("__qg")), i)
    val q2base = withRadius.select(col("__qid"), col("__qg"), col("__radius"),
        q4(1).as("__qx0"), q4(2).as("__qy0"),
        (q4(1) === q4(3) && q4(2) === q4(4)).as("__qpt"))
      .withColumn("__pcell",
        explode(cellsMixed(col("__qg"), col("__radius") + lit(1e-3))))
    val q2 =
      if (occOn) q2base
      else q2base.join(
        broadcast(o.select(col("__ocell").as("__occ")).distinct()),
        col("__pcell") === col("__occ"), "left_semi")
    def o4(i: Int) = element_at(col("__o4"), i)
    val pairs = q2.join(
      o.select(col("__ocell"), col("__og"),
          o4(1).as("__ox0"), o4(2).as("__oy0"),
          (o4(1) === o4(3) && o4(2) === o4(4)).as("__opt"),
          col("__otb"), col("__oid"))
        .hint("shuffle_hash"), // probe side is an explode: see escalateKnnBounds
      col("__pcell") === col("__ocell"))
    val refined = pairs
      .withColumn("__d", when(col("__qpt") && col("__opt"),
          st.f("sd_haversine", col("__qx0"), col("__qy0"), col("__ox0"), col("__oy0")))
        .otherwise(st.f("st_distancesphere", col("__qg"), col("__og"))))
      .filter(col("__d") <= col("__radius") + lit(1e-3))
      .select(col("__qid"), col("__oid"), col("__otb"), col("__d"))
    val result = knnTopKFinish(refined, q, o, qCols, oCols, k)
    graft.CacheRegistry.register(q)
    graft.CacheRegistry.register(o)
    result
  }

  private class GeomItemDistance extends ItemDistance with Serializable {
    override def distance(a: ItemBoundable, b: ItemBoundable): Double = {
      val ga = a.getItem.asInstanceOf[(Geometry, Any, Any)]._1
      val gb = b.getItem.asInstanceOf[(Geometry, Any, Any)]._1
      ga.distance(gb)
    }
  }

  /** For each query row, the k nearest object rows by euclidean distance.
    * Output = query columns ++ object columns ++ (knn_distance, knn_rank).
    * Ties at equal distance break on `tieBreak` ascending (then arbitrary),
    * matching the reference's tie handling (option.rs:98).
    */
  def knnJoin(
      query: DataFrame, objects: DataFrame,
      queryGeom: Column, objGeom: Column,
      k: Int, tieBreak: Column): DataFrame = {

    val spark = query.sparkSession
    val objCols = objects.columns
    val collected = objects
      .select(objGeom.as("__g"), struct(objCols.map(col).toIndexedSeq: _*).as("__s"),
        tieBreak.cast("double").as("__t"))
      .collect()
      .map(r => (GeomIO.read(r.getAs[Array[Byte]]("__g")), r.getStruct(1), r.getDouble(2)))
    val bc = spark.sparkContext.broadcast(collected)
    val kk = k

    val outSchema = StructType(query.schema.fields ++ objects.schema.fields ++
      Seq(StructField("knn_distance", DoubleType), StructField("knn_rank", IntegerType)))

    val qCols = query.columns
    val rdd = query.select(queryGeom.as("__g"), struct(qCols.map(col).toIndexedSeq: _*).as("__s"))
      .rdd.mapPartitions { iter =>
        val objs = bc.value
        val tree = new STRtree()
        objs.foreach { case item @ (g, _, _) => tree.insert(g.getEnvelopeInternal, item) }
        if (objs.nonEmpty) tree.build()
        val itemDist = new GeomItemDistance
        iter.flatMap { r =>
          val qg = GeomIO.read(r.getAs[Array[Byte]](0))
          val qRow = r.getStruct(1)
          if (objs.isEmpty) Iterator.empty
          else {
            val n = math.min(kk, objs.length)
            val nearest = tree.nearestNeighbour(qg.getEnvelopeInternal,
              (qg, null, null), itemDist, n)
            val dk = nearest.map(o => qg.distance(o.asInstanceOf[(Geometry, Row, Double)]._1)).max
            // deterministic k: re-search everything within the kth distance,
            // order by (distance, tieBreak)
            val env = new Envelope(qg.getEnvelopeInternal)
            env.expandBy(dk)
            val cands = tree.query(env).toArray
              .map(_.asInstanceOf[(Geometry, Row, Double)])
              .map { case (g, row, t) => (qg.distance(g), t, row) }
              .filter(_._1 <= dk)
              .sortBy { case (dist, t, _) => (dist, t) }
              .take(n)
            cands.iterator.zipWithIndex.map { case ((dist, _, oRow), i) =>
              Row.fromSeq(qRow.toSeq ++ oRow.toSeq ++ Seq[Any](dist, i + 1))
            }
          }
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }
}
