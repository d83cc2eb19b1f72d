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
  * - `gridJoin`: the streaming spatial join — both sides exploded onto a
  *   uniform grid, geometries duplicated into every overlapped cell, pairs
  *   deduplicated by the reference-point rule. The cell id is the equi
  *   key a streaming join needs for its state. A batch spatial join is
  *   written as a plain join and plans an index join
  *   (`graft.joins.SpatialJoinStrategy`).
  *
  * - `knnJoin`: k nearest neighbours with deterministic tie-breaking —
  *   reference semantics from index/default_spatial_index.rs:359-430
  *   (neighbour search + tie re-search) and probe/knn_results_merger.rs.
  *   Objects side is broadcast; the scale path for a large object side is
  *   `knnJoinGrid`.
  */
object SpatialJoins {
  import graft.functions.GraftFunctions.st

  /** Spatial join on a grid-cell equi key, for streaming inputs
    * (`StreamingOps.streamSpatialJoin`, stream-static joins).
    *
    * @param predicate SQL name of the refinement predicate, e.g.
    *   "st_intersects" (applied as predicate(leftGeom, rightGeom))
    * @param bounds (xmin, ymin, xmax, ymax) of the data: an unbounded
    *   stream has no extent to compute
    * @param nx, ny grid resolution — tune so cells hold O(10k) geometries
    */
  def gridJoin(
      left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column,
      predicate: String,
      bounds: (Double, Double, Double, Double),
      nx: Int = 64, ny: Int = 64,
      distance: Option[Column] = None,
      extraCond: Option[Column] = None): DataFrame = {

    val (xmin, ymin, xmax, ymax) = bounds
    def cells4(e4: Column): Column = st.f("sd_gridcells4", e4,
      lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny))

    // Each side parses its WKB exactly once per row (sd_envelope4); cell
    // explode, bbox overlap and reference-point dedup all run on the
    // carried envelope doubles — codegen'd double math. The WKB-parsing
    // predicate refines only pairs that survive the cheap conjuncts.
    // Distance joins expand the left envelope by the radius for cell
    // assignment and dedup.
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
    l.join(r, extraCond.map(cond && _).getOrElse(cond))
      .drop("__lcell", "__rcell", "__l4", "__r4", "__lg", "__rg")
  }

  /** Grid extent of a [[knnJoinGrid]]: the min/max of both sides'
    * envelopes, one partial-aggregated envelope pre-pass. When neither
    * side has a non-empty geometry no row explodes into a cell, so any
    * extent gives the (empty) join; the unit square stands in.
    *
    * The pre-pass collects through the physical plan, so no query
    * listener sees it: inside a planner rule, a completed query would
    * sweep `CacheRegistry` and could release a cache that a rewrite
    * below registered for the consuming query. */
  def gridBounds(left: DataFrame, right: DataFrame,
      leftGeom: Column, rightGeom: Column): (Double, Double, Double, Double) = {
    val row = left.select(st.envelopeAgg(leftGeom).as("e"))
      .unionAll(right.select(st.envelopeAgg(rightGeom).as("e")))
      .select(min(st.xmin(col("e"))), min(st.ymin(col("e"))),
        max(st.xmax(col("e"))), max(st.ymax(col("e"))))
      .queryExecution.executedPlan.executeCollect()(0)
    if (row.isNullAt(0)) (0.0, 0.0, 1.0, 1.0)
    else (row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
  }

  /** Fine cover budget before the KNN covers switch to nested coarse
    * cells (`Spherical.gridCellsKnnCover`, `Grid.cellsKnnCover`). */
  val MaxFineCells = 256

  /** Partitioned KNN join — the scale path when the OBJECT side cannot be
    * broadcast (the reference's out-of-core kNN territory:
    * probe/knn_results_merger.rs). Exact two-round grid algorithm:
    *
    * 1. Aggregate the objects into a per-cell histogram (count + sound
    *    distance pad, <= nx*ny rows), build a [[graft.functions.CellBoundKd]]
    *    over it on the driver, and give each query the weighted kth
    *    smallest cell upper bound as its radius — a map-side projection,
    *    no probe join. A query whose histogram holds fewer than k objects
    *    gets the full-extent diagonal (only possible when the object side
    *    itself has fewer than k rows).
    * 2. Re-probe every cell intersecting the radius-bound envelope and
    *    rank by (distance, tieBreak) — exact top-k, nothing quadratic.
    */
  def knnJoinGrid(
      query: DataFrame, objects: DataFrame,
      queryGeom: Column, objectGeom: Column,
      k: Int, tieBreak: Column,
      nx: Int = 32, ny: Int = 32,
      bounds: Option[(Double, Double, Double, Double)] = None): DataFrame = {

    val (xmin, ymin, xmax, ymax) =
      bounds.getOrElse(gridBounds(objects, query, objectGeom, queryGeom))
    val diag = math.sqrt((xmax - xmin) * (xmax - xmin) + (ymax - ymin) * (ymax - ymin))
    val cellW = (xmax - xmin) / nx
    val cellH = (ymax - ymin) / ny

    val qCols = query.columns
    val oCols = objects.columns
    // persisted NOW, registered with the CacheRegistry only at the END of
    // construction: the construction-time collects below (occ bitmap,
    // histogram) are completing queries that reference
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
    val occBitmap: Array[Byte] = if (!occOn) null else {
      val nBits = nBitsL.toInt
      val bm = new Array[Byte]((nBits + 7) / 8)
      o.select(col("__ocell")).distinct().collect().foreach { r =>
        val id = r.getLong(0).toInt
        bm(id >> 3) = (bm(id >> 3) | (1 << (id & 7))).toByte
      }
      bm
    }

    // final-probe cover: object cells exist at BOTH nested levels (fine
    // + coarse image) so the MIXED cover matches at either level
    def cellsMixed(g: Column, expand: Column): Column =
      if (occOn) st.f("st_gridcells_knncover_occ",
        st.f("st_expandenvelope", g, expand),
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny),
        lit(MaxFineCells), lit(occBitmap))
      else st.f("st_gridcells_knncover", st.f("st_expandenvelope", g, expand),
        lit(xmin), lit(ymin), lit(xmax), lit(ymax), lit(nx), lit(ny),
        lit(MaxFineCells))

    // round 1: per-query kth-bound radius from the per-cell COUNT
    // histogram via CellBoundKd (cellBoundRadius) — no round-1 step
    // touches an object row
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
    // histogram stays FINE-ONLY (knnCellStats): a doubled fine+coarse
    // multiset would shrink the weighted kth bound below the true kth
    // distance
    val cellStats =
      knnCellStats(objects, objectGeom, canonCell, centerXY, _ => reachLit, diagCol)
    // the query is anchored at its envelope min corner, padded by its
    // envelope diagonal (exact for point queries)
    def qe(i: Int) = element_at(st.f("sd_envelope4", col("__qg")), i)
    val qAnchor = (qe(1), qe(2), sqrt((qe(3) - qe(1)) * (qe(3) - qe(1)) +
      (qe(4) - qe(2)) * (qe(4) - qe(2))))
    val withRadius = q.withColumn("__radius",
      cellBoundRadius(cellStats, k, diag, sphereMode = false, qAnchor))

    // round 2: exact re-probe within the per-query radius (a radius of
    // the full-extent diagonal is only possible when the object side
    // holds fewer than k rows). With the occupancy bitmap the cover
    // explode emits occupied cells only; the legacy path (occCover=false)
    // keeps the broadcast semi filter instead.
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
      // the probe side is a cover explode whose row estimate ignores the
      // explode factor, so AQE could broadcast a side that is really
      // 100M+ rows: pin shuffle-hash, the object side as the build
      .hint("shuffle_hash")
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

  /** Round 1 of both grid KNN twins: driver-collect the fine per-cell
    * histogram (<= nx*ny rows, bounded by the grid-resolution knob),
    * build a [[graft.functions.CellBoundKd]] over it, and compute each
    * query's kth-bound radius as a MAP-SIDE projection — no probe joins,
    * no per-round actions. The bound consumes every histogram cell, so it
    * is the tightest any cell cover could give. Queries whose total
    * histogram weight is below k (object side smaller than k) get `maxR`,
    * whose cover is the whole extent: taking everything is exact. */
  private def cellBoundRadius(cellStats: DataFrame, k: Int, maxR: Double,
      sphereMode: Boolean, anchor: (Column, Column, Column)): Column = {
    import org.apache.spark.sql.graft.DatasetBridge
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

  /** Per-cell object histogram for the round-1 KNN bound: one row
    * per OCCUPIED canonical cell (the cell of each object's envelope
    * min corner — pure column arithmetic, counted once per object) with
    * the object count, the cell center geometry, and a SOUND distance
    * pad: distance(q, object) <= dist(q, center) + reach(center ->
    * farthest corner) + the cell's max object-envelope diagonal. At most
    * nx*ny rows — driver-collectable by construction (the grid resolution is
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
    *   - cells: `sd_gridcells_sphere4_knncover` — the lat/lon cover of
    *     the geometry's SPHERICAL envelope (S2 RectBounder latitude
    *     bulges) expanded by a geodesic radius in METERS, full-ring/
    *     pole-touch fallbacks included, two-level;
    *   - distance: `st_distancesphere` (haversine meters);
    *   - the "no candidates" fallback radius: half the circumference
    *     (π·R — the antipodal maximum), the spherical analog of the
    *     planar full-extent diagonal.
    *
    * Round 1 gives each query the weighted kth smallest great-circle
    * upper bound over the per-cell histogram ([[graft.functions.CellBoundKd]]
    * in sphere mode: ub = haversine to the cell center + cell reach + the
    * cell's max object extent) as its radius; round 2 re-probes the
    * radius-expanded spherical cover and ranks by (distance, tieBreak,
    * object id) — exact top-k, no O(|q|·|o|) rank. Reference semantics:
    * rust/sedona-spatial-join/src/index/default_spatial_index.rs:359-430
    * with the spheroid option of option.rs:98. */
  def knnJoinGridSphere(
      query: DataFrame, objects: DataFrame,
      queryGeom: Column, objectGeom: Column,
      k: Int, tieBreak: Column,
      nx: Int = 90, ny: Int = 45): DataFrame = {

    val maxGeo = math.Pi * graft.functions.Spherical.R // antipodal meters

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
    val occBitmap: Array[Byte] = if (!occOn) null else {
      val bm = new Array[Byte]((nBitsL.toInt + 7) / 8)
      o.select(col("__ocell")).distinct().collect().foreach { r =>
        val id = r.getLong(0).toInt
        bm(id >> 3) = (bm(id >> 3) | (1 << (id & 7))).toByte
      }
      bm
    }
    // final-probe cover: the MIXED nested cover, whose candidate-pair set
    // is provably identical to all-fine (sd_gridcells_sphere4_knncover)
    def cellsMixed(g: Column, expandM: Column): Column =
      if (occOn) st.f("sd_gridcells_sphere4_knncover_occ",
        st.f("sd_envelopesphere4", g),
        expandM, lit(nx), lit(ny), lit(MaxFineCells), lit(occBitmap))
      else st.f("sd_gridcells_sphere4_knncover", st.f("sd_envelopesphere4", g),
        expandM, lit(nx), lit(ny), lit(MaxFineCells))

    // round 1: per-query kth-bound radius from the per-cell COUNT
    // histogram via CellBoundKd in sphere mode (see the planar twin); a
    // sparse query pays for its own bound, never for a full-globe probe
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
    // histogram stays FINE-ONLY (see the planar twin)
    val cellStats =
      knnCellStats(objects, objectGeom, canonCell, centerXY, reachOf, diagCol)
    def qe(i: Int) = element_at(st.f("sd_envelopesphere4", col("__qg")), i)
    val qAnchor = (qe(1), qe(2),
      when(qe(1) > qe(3) || qe(3) - qe(1) >= 180.0, lit(maxGeo))
        .otherwise(least(rectBound(qe(3) - qe(1), qe(4) - qe(2)), lit(maxGeo))))
    val withRadius = q.withColumn("__radius",
      cellBoundRadius(cellStats, k, maxGeo, sphereMode = true, qAnchor))

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
        // explode probe side: pin shuffle-hash (see the planar twin)
        .hint("shuffle_hash"),
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
