package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions.st
import graft.operators.SpatialJoins

/** Spatial join coverage (SURVEY.md §2.4): broadcast index join (inner +
  * left outer), distance join, KNN join, and the shuffle-partitioned grid
  * join. Oracles are interval-logic SQL joins in plain DuckDB.
  */
object JoinQueries {

  // orders → integer-coordinate points in the part-box grid plane
  private def orderPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("px", ((col("o_orderkey") % 100) * 20 + (col("o_orderkey") % 13)).cast("double"))
      .withColumn("py", ((col("o_custkey") % 50) * 20 + (col("o_custkey") % 11)).cast("double"))
      .withColumn("pt", st.point(col("px"), col("py")))

  private def partBoxes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
      .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
      .withColumn("bw", (col("p_partkey") % 7 + 1).cast("double"))
      .withColumn("bh", (col("p_size") % 5 + 1).cast("double"))
      .withColumn("box", st.makeEnvelope(col("bxmin"), col("bymin"),
        col("bxmin") + col("bw"), col("bymin") + col("bh")))

  private val pointsSql =
    """SELECT o_orderkey, o_custkey,
      |  CAST((o_orderkey % 100)*20 + (o_orderkey % 13) AS DOUBLE) AS px,
      |  CAST((o_custkey % 50)*20 + (o_custkey % 11) AS DOUBLE) AS py
      |FROM orders""".stripMargin

  private val boxesSql =
    """SELECT p_partkey, p_size,
      |  CAST(p_partkey % 100 AS DOUBLE)*20.0 AS bxmin,
      |  CAST(p_size % 50 AS DOUBLE)*20.0 AS bymin,
      |  CAST(p_partkey % 7 + 1 AS DOUBLE) AS bw,
      |  CAST(p_size % 5 + 1 AS DOUBLE) AS bh
      |FROM part""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // broadcast index join, boundary-inclusive predicate
    "sj01_intersects_join" -> ((s, dir) => {
      val pts = orderPoints(s, dir)
      val boxes = partBoxes(s, dir)
      pts.join(boxes, st.intersects(col("pt"), col("box")))
        .select(col("o_orderkey"), col("p_partkey"))
    }),

    // strict containment, geometry args in box-first order (build=left path)
    "sj02_contains_join" -> ((s, dir) => {
      val pts = orderPoints(s, dir)
      val boxes = partBoxes(s, dir)
      boxes.join(pts, st.contains(col("box"), col("pt")))
        .select(col("o_orderkey"), col("p_partkey"))
    }),

    // left-outer distance join
    "sj03_dwithin_join" -> ((s, dir) => {
      val cpts = t(s, dir, "customer")
        .withColumn("cx", (col("c_custkey") % 80).cast("double"))
        .withColumn("cy", (col("c_custkey") % 61).cast("double"))
        .withColumn("cpt", st.point(col("cx"), col("cy")))
      val spts = t(s, dir, "supplier")
        .withColumn("sx", (col("s_suppkey") % 80).cast("double") + 0.5)
        .withColumn("sy", (col("s_suppkey") % 61).cast("double") + 0.5)
        .withColumn("spt", st.point(col("sx"), col("sy")))
      cpts.join(spts, st.dwithin(col("cpt"), col("spt"), lit(7.3)), "left_outer")
        .select(col("c_custkey"), col("s_suppkey"))
    }),

    // KNN join with deterministic tie-break
    "sj04_knn_join" -> ((s, dir) => {
      val q = t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("qx", (col("c_custkey") % 97).cast("double") * 10.0 + 0.25)
        .withColumn("qy", (col("c_custkey") % 89).cast("double") * 10.0 + 0.25)
        .withColumn("qpt", st.point(col("qx"), col("qy")))
        .select(col("c_custkey"), col("qpt"))
      val o = partBoxes(s, dir)
        .withColumn("opt", st.centroid(col("box")))
        .select(col("p_partkey"), col("opt"))
      SpatialJoins.knnJoin(q, o, col("qpt"), col("opt"), 3, col("p_partkey"))
        .select(col("c_custkey"), col("p_partkey"), col("knn_rank"),
          round(col("knn_distance"), 6).as("knn_distance"))
    }),

    // SQL st_knn with an object-side filter ABOVE the join: the analyzer-
    // stage capture (KnnJoinCaptureRule) must stop Catalyst pushing the
    // filter below the kNN — neighbours are found over ALL objects, then
    // filtered. Unique object coordinates + irrational query offsets make
    // distances tie-free.
    "sj06_knn_filter_barrier" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("qpt", st.point(
          (col("c_custkey") % 97).cast("double") * 10.0 + 1.0 / 3,
          (col("c_custkey") % 89).cast("double") * 10.0 + 1.0 / 7))
        .select(col("c_custkey"), col("qpt"))
        .createOrReplaceTempView("knn_barrier_q")
      t(s, dir, "part")
        .withColumn("opt", st.point(
          (col("p_partkey") % 100).cast("double") * 20.0 + col("p_partkey").cast("double") * 1.0e-6,
          (col("p_partkey") % 89).cast("double") * 10.0 + col("p_partkey").cast("double") * 1.0e-6))
        .select(col("p_partkey"), col("opt"))
        .createOrReplaceTempView("knn_barrier_o")
      s.sql(
        """SELECT c_custkey, p_partkey FROM knn_barrier_q JOIN knn_barrier_o
          |ON st_knn(qpt, opt, 3)
          |WHERE p_partkey % 2 = 1""".stripMargin)
    }),

    // out-of-core KNN: the two-round grid algorithm (nothing broadcast,
    // nothing quadratic) on the same data as sj04 — identical result set
    "sj10_knn_grid_join" -> ((s, dir) => {
      val q = t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("qpt", st.point(
          (col("c_custkey") % 97).cast("double") * 10.0 + 0.25,
          (col("c_custkey") % 89).cast("double") * 10.0 + 0.25))
        .select(col("c_custkey"), col("qpt"))
      val o = partBoxes(s, dir)
        .withColumn("opt", st.centroid(col("box")))
        .select(col("p_partkey"), col("opt"))
      SpatialJoins.knnJoinGrid(q, o, col("qpt"), col("opt"), 3, col("p_partkey"))
        .select(col("c_custkey"), col("p_partkey"), col("knn_rank"),
          round(col("knn_distance"), 6).as("knn_distance"))
    }),

    // spheroid KNN via SQL st_knn(..., use_spheroid): the chord kd-tree
    // branch-and-bound path (all-point object side). Coordinates carry
    // per-key epsilons so great-circle distances are tie-free; the
    // projected distance pins the haversine metric itself.
    "sj11_knn_spheroid" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("qpt", st.point(
          (col("c_custkey") % 340).cast("double") / 2.0 - 85.0 + 1.0 / 3,
          (col("c_custkey") % 160).cast("double") / 2.0 - 40.0 + 1.0 / 7))
        .select(col("c_custkey"), col("qpt"))
        .createOrReplaceTempView("knn_sph_q")
      t(s, dir, "part")
        .withColumn("opt", st.point(
          (col("p_partkey") % 680).cast("double") / 4.0 - 85.0
            + col("p_partkey").cast("double") * 1.0e-6,
          (col("p_partkey") % 320).cast("double") / 4.0 - 40.0
            + col("p_partkey").cast("double") * 1.0e-6))
        .select(col("p_partkey"), col("opt"))
        .createOrReplaceTempView("knn_sph_o")
      s.sql(
        """SELECT c_custkey, p_partkey,
          |  round(st_distancesphere(qpt, opt), 2) AS dist_m
          |FROM knn_sph_q JOIN knn_sph_o ON st_knn(qpt, opt, 3, true)""".stripMargin)
    }),

    // spheroid out-of-core KNN: the geodesic two-round grid path (nothing
    // broadcast, wrap-safe st_gridcells_sphere cover) on the same data as
    // sj11 — identical result set to the broadcast chord-kd path. The
    // per-key epsilons make distances tie-free, so the tie rule is moot.
    "sj16_knn_spheroid_grid" -> ((s, dir) => {
      val q = t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("qpt", st.point(
          (col("c_custkey") % 340).cast("double") / 2.0 - 85.0 + 1.0 / 3,
          (col("c_custkey") % 160).cast("double") / 2.0 - 40.0 + 1.0 / 7))
        .select(col("c_custkey"), col("qpt"))
      val o = t(s, dir, "part")
        .withColumn("opt", st.point(
          (col("p_partkey") % 680).cast("double") / 4.0 - 85.0
            + col("p_partkey").cast("double") * 1.0e-6,
          (col("p_partkey") % 320).cast("double") / 4.0 - 40.0
            + col("p_partkey").cast("double") * 1.0e-6))
        .select(col("p_partkey"), col("opt"))
      SpatialJoins.knnJoinGridSphere(q, o, col("qpt"), col("opt"), 3,
          col("p_partkey"))
        .select(col("c_custkey"), col("p_partkey"),
          round(col("knn_distance"), 2).as("dist_m"))
    }),

    // planner-level grid rewrite: pure SQL, no hints, broadcast disabled —
    // GridSpatialJoinRule turns the spatial theta-join into the explode/
    // equi-join/dedup plan (the plan a 1000-executor cluster needs)
    // spatial semi / anti / mark (EXISTS-in-OR → ExistenceJoin) / right
    // outer, all through the broadcast index join (reference
    // test_sjoin.py test_spatial_join_semi_anti +
    // test_spatial_mark_join_via_correlated_exists). One tagged union so
    // each set's membership is oracle-checked exactly.
    "sj12_semi_anti_join" -> ((s, dir) => {
      val pts = orderPoints(s, dir).select(col("o_orderkey"), col("pt"))
      val boxes = partBoxes(s, dir).select(col("p_partkey"), col("box"))
      pts.createOrReplaceTempView("sj12_pts")
      boxes.createOrReplaceTempView("sj12_boxes")
      val semi = pts.join(boxes, st.intersects(col("pt"), col("box")), "left_semi")
        .select(col("o_orderkey").as("key"), lit("semi").as("tag"))
      val anti = pts.join(boxes, st.intersects(col("pt"), col("box")), "left_anti")
        .select(col("o_orderkey").as("key"), lit("anti").as("tag"))
      // unmatched build rows through the RIGHT OUTER path
      val ro = pts.join(boxes, st.intersects(col("pt"), col("box")), "right_outer")
        .filter(col("o_orderkey").isNull)
        .select(col("p_partkey").as("key"), lit("ro_unmatched").as("tag"))
      val mark = s.sql(
        """SELECT o_orderkey AS key, 'mark' AS tag FROM sj12_pts
          |WHERE o_orderkey % 1000 = 0 OR EXISTS (
          |  SELECT 1 FROM sj12_boxes WHERE st_intersects(pt, box))""".stripMargin)
      semi.union(anti).union(ro).union(mark)
    }),

    // FULL OUTER spatial join (reference exec.rs:88, test_sjoin.py:34-36):
    // GridSpatialJoinRule assembles inner + both-side anti-pads from
    // row-id-tagged sides; the inner join takes the broadcast index path
    // at gate scale (the large-large grid path is pinned in
    // SpatialJoinSpec with set+collect inside one conf window)
    "sj17_full_outer_join" -> ((s, dir) => {
      val pts = orderPoints(s, dir).select(col("o_orderkey"), col("pt"))
      val boxes = partBoxes(s, dir).select(col("p_partkey"), col("box"))
      pts.join(boxes, st.intersects(col("pt"), col("box")), "full_outer")
        .select(col("o_orderkey"), col("p_partkey"))
    }),

    // geography intersects join (st_intersectssphere refine over the
    // radius-0 grid cover). Point-in-quad membership rides the chart
    // containment branch of the spherical distance kernel, so the
    // oracle's interval logic states the identical predicate.
    "sj13_sphere_intersects_join" -> ((s, dir) => {
      val quads = t(s, dir, "part")
        .withColumn("qxmin", (col("p_partkey") % 60).cast("double") * 6.0 - 180.0)
        .withColumn("qymin", (col("p_size") % 28).cast("double") * 6.0 - 84.0)
        .withColumn("quad", st.makeEnvelope(col("qxmin"), col("qymin"),
          col("qxmin") + 2.0, col("qymin") + 2.0))
        .select(col("p_partkey").cast("long").as("p_partkey"), col("quad"))
      // antimeridian-crossing quads (lon [179, 181] wraps to [179,180] U
      // [-180,-179]) and polar-cap 12-gons at ±71° — the shapes the
      // winding-number containment kernel exists for. Synthetic keys keep
      // the output rows distinct from the chart quads'. The point lattice
      // (0.25° offsets, 3° steps) clears every geodesic bulge band, so
      // the oracle's interval logic is exact (cap edges at 71° bulge to
      // 71.60°; nearest point latitudes 69.25 / 72.25).
      val wrapQuads = t(s, dir, "part").filter(col("p_partkey") % 37 === 0)
        .withColumn("qymin", (col("p_size") % 28).cast("double") * 6.0 - 84.0)
        .withColumn("quad", st.makeEnvelope(lit(179.0), col("qymin"),
          lit(181.0), col("qymin") + 2.0))
        .select((col("p_partkey") + 9000000L).as("p_partkey"), col("quad"))
      val ncap = "POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, " +
        "-150 71, -120 71, -90 71, -60 71, -30 71, 0 71))"
      val scap = "POLYGON ((0 -71, 30 -71, 60 -71, 90 -71, 120 -71, 150 -71, 180 -71, " +
        "-150 -71, -120 -71, -90 -71, -60 -71, -30 -71, 0 -71))"
      val caps = t(s, dir, "part").filter(col("p_partkey") <= 2)
        .withColumn("quad", st.geomFromWkt(
          when(col("p_partkey") === 1, lit(ncap)).otherwise(lit(scap))))
        .select((col("p_partkey") + 9999990L).as("p_partkey"), col("quad"))
      val pts = t(s, dir, "orders")
        .withColumn("plon", (col("o_orderkey") % 120).cast("double") * 3.0 - 179.75)
        .withColumn("plat", (col("o_custkey") % 56).cast("double") * 3.0 - 83.75)
        .withColumn("pt", st.point(col("plon"), col("plat")))
        .select(col("o_orderkey"), col("pt"))
      SpatialJoins.sphereIntersectsJoin(
          quads.union(wrapQuads).union(caps), pts, col("quad"), col("pt"))
        .select(col("p_partkey"), col("o_orderkey"))
    }),

    // SQL planner surface for geography joins (SphereJoinRule): the SQL
    // forms of sj08's dwithin and sj13's intersects shapes. Without the
    // rule both joins have no equi-conjunct and plan a quadratic BNLJ;
    // with it they route through the two-level-grid spherical joins.
    // distributed DBSCAN: eps-neighbor graph from the grid join, core
    // points from one degree agg, clusters from connected components of
    // the core-core subgraph, borders to the min neighboring cluster —
    // the whole clusterer composed from scale primitives (no all-pairs)
    "gs01_dbscan" -> ((s, dir) => {
      // fixed key cap: the SAME point set at every SF >= 0.01, so the
      // oracle's recursive component closure stays tractable (ScaleBench
      // covers the operator's scaling separately)
      val pts = t(s, dir, "orders")
        .filter(col("o_orderkey") % 7 === 3 && col("o_orderkey") < 15000)
        .withColumn("x", ((col("o_orderkey") * 7) % 200).cast("double"))
        .withColumn("y", ((col("o_custkey") * 11) % 120).cast("double"))
        .select(col("o_orderkey").cast("long").as("oid"),
          st.point(col("x"), col("y")).as("pt"))
      graft.operators.Dbscan.dbscan(pts, col("oid"), col("pt"),
          eps = 2.5, minPts = 4,
          bounds = Some((0.0, 0.0, 200.0, 120.0)), nx = 80, ny = 48)
        .select(col("id"), col("role"), col("cluster"))
    }),

    "sj14_sphere_sql_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("clon", (col("c_custkey") % 720).cast("double") / 2.0 - 180.0)
        .withColumn("clat", (col("c_custkey") % 356).cast("double") / 2.0 - 89.0)
        .withColumn("cpt", st.point(col("clon"), col("clat")))
        .select(col("c_custkey").cast("long").as("c_custkey"), col("cpt"))
        .createOrReplaceTempView("sj14_c")
      t(s, dir, "supplier")
        .withColumn("slon", (col("s_suppkey") % 720).cast("double") / 2.0 - 179.75)
        .withColumn("slat", (col("s_suppkey") % 356).cast("double") / 2.0 - 88.75)
        .withColumn("spt", st.point(col("slon"), col("slat")))
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("spt"))
        .createOrReplaceTempView("sj14_s")
      t(s, dir, "part")
        .withColumn("qxmin", (col("p_partkey") % 60).cast("double") * 6.0 - 180.0)
        .withColumn("qymin", (col("p_size") % 28).cast("double") * 6.0 - 84.0)
        .withColumn("quad", st.makeEnvelope(col("qxmin"), col("qymin"),
          col("qxmin") + 2.0, col("qymin") + 2.0))
        .select(col("p_partkey").cast("long").as("p_partkey"), col("quad"))
        .createOrReplaceTempView("sj14_q")
      t(s, dir, "orders")
        .withColumn("plon", (col("o_orderkey") % 120).cast("double") * 3.0 - 179.75)
        .withColumn("plat", (col("o_custkey") % 56).cast("double") * 3.0 - 83.75)
        .withColumn("pt", st.point(col("plon"), col("plat")))
        .select(col("o_orderkey").cast("long").as("o_orderkey"), col("pt"))
        .createOrReplaceTempView("sj14_p")
      // NO conf window: the rule's pair-product test (worthGrid) engages
      // the grid at DEFAULT confs for driver-scale inputs, and at tiny
      // audit scale a broadcast BNLJ is the genuinely optimal plan — a
      // set/force/restore window here would diverge from what a later
      // .count() replans (the round-10 postmortem hazard)
      s.sql("""
        SELECT c_custkey AS ka, s_suppkey AS kb, 'dwithin' AS tag
        FROM sj14_c JOIN sj14_s ON st_dwithinsphere(cpt, spt, 250000.0D)
        UNION ALL
        SELECT p_partkey AS ka, o_orderkey AS kb, 'intersects' AS tag
        FROM sj14_q JOIN sj14_p ON st_intersectssphere(quad, pt)""")
    }),

    // SQL sphere joins beyond INNER/LEFT OUTER: LEFT SEMI + LEFT ANTI via
    // the matched-row-id set, plus a LEFT OUTER whose sides share column
    // NAMES (the rewrite assembles positionally, so name collisions are
    // legal exactly as they are for stock Spark joins)
    "sj15_sphere_sql_semi_anti" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("apt", st.point(
          (col("c_custkey") % 720).cast("double") / 2.0 - 180.0,
          (col("c_custkey") % 356).cast("double") / 2.0 - 89.0))
        .select(col("c_custkey").cast("long").as("c_custkey"), col("apt"))
        .createOrReplaceTempView("sj15_a")
      t(s, dir, "supplier")
        .withColumn("bpt", st.point(
          (col("s_suppkey") % 720).cast("double") / 2.0 - 179.75,
          (col("s_suppkey") % 356).cast("double") / 2.0 - 88.75))
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("bpt"))
        .createOrReplaceTempView("sj15_b")
      // same-named sides for the outer leg: both expose (id, pt)
      s.table("sj15_a").select(col("c_custkey").as("id"), col("apt").as("pt"))
        .createOrReplaceTempView("sj15_l")
      s.table("sj15_b").select(col("s_suppkey").as("id"), col("bpt").as("pt"))
        .createOrReplaceTempView("sj15_r")
      // NO conf window (see sj14): default-conf planning is the contract
      s.sql("""
        SELECT a.c_custkey AS ka, CAST(-1 AS BIGINT) AS kb, 'semi' AS tag
        FROM sj15_a a LEFT SEMI JOIN sj15_b b
          ON st_dwithinsphere(apt, bpt, 250000.0D)
        UNION ALL
        SELECT a.c_custkey AS ka, CAST(-2 AS BIGINT) AS kb, 'anti' AS tag
        FROM sj15_a a LEFT ANTI JOIN sj15_b b
          ON st_dwithinsphere(apt, bpt, 250000.0D)
        UNION ALL
        SELECT l.id AS ka, coalesce(r.id, CAST(-1 AS BIGINT)) AS kb,
          'outer' AS tag
        FROM sj15_l l LEFT JOIN sj15_r r
          ON st_dwithinsphere(l.pt, r.pt, 250000.0D)""")
    }),

    "sj07_planner_grid_join" -> ((s, dir) => {
      orderPoints(s, dir).select(col("o_orderkey"), col("pt"))
        .createOrReplaceTempView("pg_pts")
      partBoxes(s, dir).select(col("p_partkey"), col("box"))
        .createOrReplaceTempView("pg_boxes")
      // NO conf window: at gate scale both sides broadcast, so the plan
      // is the (equally scale-sound) broadcast index spatial join; the
      // large-large grid rewrite's plan AND execution are pinned in
      // SpatialJoinSpec/PlanAuditSpec where set+collect happen inside one
      // window — gates must execute what a default-conf replan would
      s.sql(
        "SELECT o_orderkey, p_partkey FROM pg_pts JOIN pg_boxes ON st_intersects(pt, box)")
    }),

    // geography join: great-circle dwithin via wrap-safe lat-lon grid —
    // full lon ring incl. antimeridian pairs and ±89 latitudes
    "sj08_sphere_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .withColumn("clon", (col("c_custkey") % 720).cast("double") / 2.0 - 180.0)
        .withColumn("clat", (col("c_custkey") % 356).cast("double") / 2.0 - 89.0)
        .withColumn("cpt", st.point(col("clon"), col("clat")))
        .select(col("c_custkey"), col("cpt"))
      val sup = t(s, dir, "supplier")
        .withColumn("slon", (col("s_suppkey") % 720).cast("double") / 2.0 - 179.75)
        .withColumn("slat", (col("s_suppkey") % 356).cast("double") / 2.0 - 88.75)
        .withColumn("spt", st.point(col("slon"), col("slat")))
        .select(col("s_suppkey"), col("spt"))
      SpatialJoins.sphereDWithinJoin(c, sup, col("cpt"), col("spt"), 250000.0,
          nx = 72, ny = 36)
        .select(col("c_custkey"), col("s_suppkey"))
    }),

    // raster-geometry join: RS_Intersects in the join condition is
    // rewritten by RasterJoinRule to ST_Intersects(RS_Envelope(r), pt)
    // and planned through the ordinary spatial-join machinery (reference:
    // rust/sedona-spatial-join-raster/src/physical_planner.rs)
    "sj09_raster_join" -> ((s, dir) => {
      val rasters = t(s, dir, "part").filter(col("p_partkey") < 500)
        .withColumn("ulx", (col("p_partkey") % 100).cast("double") * 10.0)
        .withColumn("uly", (col("p_size") % 50).cast("double") * 10.0)
        .withColumn("vals", transform(sequence(lit(0), lit(11)),
          i => ((col("p_partkey") + i) % 97).cast("double")))
        .withColumn("r", st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
          lit(2.0), lit(-2.0), col("vals")))
        .select(col("p_partkey"), col("r"))
      val pts = t(s, dir, "orders")
        .withColumn("pt", st.point((col("o_orderkey") % 250).cast("double") * 4.0,
          (col("o_orderkey") % 125).cast("double") * 2.0))
        .select(col("o_orderkey"), col("pt"))
      rasters.join(pts, st.f("rs_intersects", col("r"), col("pt")))
        .select(col("o_orderkey"), col("p_partkey"))
    }),

    // shuffle-partitioned grid join — same semantics as sj01
    "sj05_grid_join" -> ((s, dir) => {
      val pts = orderPoints(s, dir).select(col("o_orderkey"), col("pt"))
      val boxes = partBoxes(s, dir).select(col("p_partkey"), col("box"))
      SpatialJoins.gridJoin(pts, boxes, col("pt"), col("box"), "st_intersects",
          bounds = Some((0.0, 0.0, 2020.0, 1020.0)), nx = 32, ny = 32)
        .select(col("o_orderkey"), col("p_partkey"))
    })
  )

  val oracles: Map[String, String] = Map(
    // quadratic restatement at oracle scale: banded self-join (IEJoin),
    // recursive closure of the core-core subgraph, min-cluster borders
    "gs01_dbscan" ->
      """WITH RECURSIVE p AS (
        |  SELECT o_orderkey AS id,
        |    CAST((o_orderkey * 7) % 200 AS DOUBLE) AS x,
        |    CAST((o_custkey * 11) % 120 AS DOUBLE) AS y
        |  FROM orders WHERE o_orderkey % 7 = 3 AND o_orderkey < 15000),
        |e AS (SELECT a.id AS ia, b.id AS ib FROM p a JOIN p b
        |  ON a.id <> b.id
        |  AND b.x BETWEEN a.x - 2.5 AND a.x + 2.5
        |  AND b.y BETWEEN a.y - 2.5 AND a.y + 2.5
        |  AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 6.25),
        |deg AS (SELECT ia AS id, count(*) AS n FROM e GROUP BY 1),
        |core AS (SELECT id FROM deg WHERE n + 1 >= 4),
        |ce AS (SELECT e.ia AS a, e.ib AS b FROM e
        |  JOIN core c1 ON e.ia = c1.id JOIN core c2 ON e.ib = c2.id),
        |reach(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT reach.id, ce.b FROM reach JOIN ce ON ce.a = reach.r),
        |grp AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
        |bord AS (SELECT e.ia AS id, MIN(g.cluster) AS cluster
        |  FROM e JOIN grp g ON g.id = e.ib
        |  WHERE e.ia NOT IN (SELECT id FROM core)
        |  GROUP BY e.ia)
        |SELECT p.id,
        |  CASE WHEN g.id IS NOT NULL THEN 'core'
        |       WHEN b.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
        |  CAST(COALESCE(g.cluster, b.cluster) AS BIGINT) AS cluster
        |FROM p LEFT JOIN grp g ON g.id = p.id
        |LEFT JOIN bord b ON b.id = p.id""".stripMargin,
    "sj01_intersects_join" ->
      s"""WITH p AS ($pointsSql), b AS ($boxesSql)
        |SELECT p.o_orderkey, b.p_partkey FROM p JOIN b
        |ON p.px >= b.bxmin AND p.px <= b.bxmin + b.bw
        |AND p.py >= b.bymin AND p.py <= b.bymin + b.bh""".stripMargin,

    "sj02_contains_join" ->
      s"""WITH p AS ($pointsSql), b AS ($boxesSql)
        |SELECT p.o_orderkey, b.p_partkey FROM p JOIN b
        |ON p.px > b.bxmin AND p.px < b.bxmin + b.bw
        |AND p.py > b.bymin AND p.py < b.bymin + b.bh""".stripMargin,

    "sj03_dwithin_join" ->
      """WITH c AS (SELECT c_custkey,
        |    CAST(c_custkey % 80 AS DOUBLE) AS cx,
        |    CAST(c_custkey % 61 AS DOUBLE) AS cy FROM customer),
        |s AS (SELECT s_suppkey,
        |    CAST(s_suppkey % 80 AS DOUBLE) + 0.5 AS sx,
        |    CAST(s_suppkey % 61 AS DOUBLE) + 0.5 AS sy FROM supplier)
        |SELECT c.c_custkey, s.s_suppkey FROM c LEFT JOIN s
        |ON sqrt((cx-sx)*(cx-sx) + (cy-sy)*(cy-sy)) <= 7.3""".stripMargin,

    "sj04_knn_join" ->
      """WITH q AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 97 AS DOUBLE)*10.0 + 0.25 AS qx,
        |    CAST(c_custkey % 89 AS DOUBLE)*10.0 + 0.25 AS qy
        |  FROM customer WHERE c_custkey % 10 = 0),
        |o AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*20.0 + CAST(p_partkey % 7 + 1 AS DOUBLE)/2 AS ox,
        |    CAST(p_size % 50 AS DOUBLE)*20.0 + CAST(p_size % 5 + 1 AS DOUBLE)/2 AS oy
        |  FROM part),
        |ranked AS (
        |  SELECT q.c_custkey, o.p_partkey,
        |    sqrt((qx-ox)*(qx-ox) + (qy-oy)*(qy-oy)) AS dist,
        |    row_number() OVER (PARTITION BY q.c_custkey
        |      ORDER BY sqrt((qx-ox)*(qx-ox) + (qy-oy)*(qy-oy)), o.p_partkey) AS rk
        |  FROM q CROSS JOIN o)
        |SELECT c_custkey, p_partkey, CAST(rk AS INT) AS knn_rank,
        |  round(dist, 6) AS knn_distance
        |FROM ranked WHERE rk <= 3""".stripMargin,

    // identical result contract to sj04 — the grid algorithm must agree
    // with the broadcast-index path exactly
    "sj10_knn_grid_join" ->
      """WITH q AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 97 AS DOUBLE)*10.0 + 0.25 AS qx,
        |    CAST(c_custkey % 89 AS DOUBLE)*10.0 + 0.25 AS qy
        |  FROM customer WHERE c_custkey % 10 = 0),
        |o AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*20.0 + CAST(p_partkey % 7 + 1 AS DOUBLE)/2 AS ox,
        |    CAST(p_size % 50 AS DOUBLE)*20.0 + CAST(p_size % 5 + 1 AS DOUBLE)/2 AS oy
        |  FROM part),
        |ranked AS (
        |  SELECT q.c_custkey, o.p_partkey,
        |    sqrt((qx-ox)*(qx-ox) + (qy-oy)*(qy-oy)) AS dist,
        |    row_number() OVER (PARTITION BY q.c_custkey
        |      ORDER BY sqrt((qx-ox)*(qx-ox) + (qy-oy)*(qy-oy)), o.p_partkey) AS rk
        |  FROM q CROSS JOIN o)
        |SELECT c_custkey, p_partkey, CAST(rk AS INT) AS knn_rank,
        |  round(dist, 6) AS knn_distance
        |FROM ranked WHERE rk <= 3""".stripMargin,

    "sj11_knn_spheroid" ->
      """WITH q AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 340 AS DOUBLE)/2.0 - 85.0 + 1.0/3 AS qlon,
        |    CAST(c_custkey % 160 AS DOUBLE)/2.0 - 40.0 + 1.0/7 AS qlat
        |  FROM customer WHERE c_custkey % 10 = 0),
        |o AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 680 AS DOUBLE)/4.0 - 85.0
        |      + CAST(p_partkey AS DOUBLE)*1.0e-6 AS olon,
        |    CAST(p_partkey % 320 AS DOUBLE)/4.0 - 40.0
        |      + CAST(p_partkey AS DOUBLE)*1.0e-6 AS olat
        |  FROM part),
        |d AS (
        |  SELECT q.c_custkey, o.p_partkey,
        |    2*6371008.8*asin(sqrt(
        |      sin(radians(olat-qlat)/2)*sin(radians(olat-qlat)/2)
        |      + cos(radians(qlat))*cos(radians(olat))
        |        * sin(radians(olon-qlon)/2)*sin(radians(olon-qlon)/2))) AS dist
        |  FROM q CROSS JOIN o),
        |ranked AS (
        |  SELECT c_custkey, p_partkey, dist,
        |    row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY dist, p_partkey) AS rk
        |  FROM d)
        |SELECT c_custkey, p_partkey, round(dist, 2) AS dist_m
        |FROM ranked WHERE rk <= 3""".stripMargin,

    // identical result contract to sj11 — the geodesic grid must agree
    // with the broadcast chord-kd path exactly
    "sj16_knn_spheroid_grid" ->
      """WITH q AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 340 AS DOUBLE)/2.0 - 85.0 + 1.0/3 AS qlon,
        |    CAST(c_custkey % 160 AS DOUBLE)/2.0 - 40.0 + 1.0/7 AS qlat
        |  FROM customer WHERE c_custkey % 10 = 0),
        |o AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 680 AS DOUBLE)/4.0 - 85.0
        |      + CAST(p_partkey AS DOUBLE)*1.0e-6 AS olon,
        |    CAST(p_partkey % 320 AS DOUBLE)/4.0 - 40.0
        |      + CAST(p_partkey AS DOUBLE)*1.0e-6 AS olat
        |  FROM part),
        |d AS (
        |  SELECT q.c_custkey, o.p_partkey,
        |    2*6371008.8*asin(sqrt(
        |      sin(radians(olat-qlat)/2)*sin(radians(olat-qlat)/2)
        |      + cos(radians(qlat))*cos(radians(olat))
        |        * sin(radians(olon-qlon)/2)*sin(radians(olon-qlon)/2))) AS dist
        |  FROM q CROSS JOIN o),
        |ranked AS (
        |  SELECT c_custkey, p_partkey, dist,
        |    row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY dist, p_partkey) AS rk
        |  FROM d)
        |SELECT c_custkey, p_partkey, round(dist, 2) AS dist_m
        |FROM ranked WHERE rk <= 3""".stripMargin,

    "sj06_knn_filter_barrier" ->
      """WITH q AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 97 AS DOUBLE)*10.0 + 1.0/3 AS qx,
        |    CAST(c_custkey % 89 AS DOUBLE)*10.0 + 1.0/7 AS qy
        |  FROM customer WHERE c_custkey % 10 = 0),
        |o AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*20.0 + CAST(p_partkey AS DOUBLE)*1.0e-6 AS ox,
        |    CAST(p_partkey % 89 AS DOUBLE)*10.0 + CAST(p_partkey AS DOUBLE)*1.0e-6 AS oy
        |  FROM part),
        |ranked AS (
        |  SELECT q.c_custkey, o.p_partkey,
        |    row_number() OVER (PARTITION BY q.c_custkey
        |      ORDER BY sqrt((qx-ox)*(qx-ox) + (qy-oy)*(qy-oy)), o.p_partkey) AS rk
        |  FROM q CROSS JOIN o)
        |SELECT c_custkey, p_partkey FROM ranked
        |WHERE rk <= 3 AND p_partkey % 2 = 1""".stripMargin,

    "sj05_grid_join" ->
      s"""WITH p AS ($pointsSql), b AS ($boxesSql)
        |SELECT p.o_orderkey, b.p_partkey FROM p JOIN b
        |ON p.px >= b.bxmin AND p.px <= b.bxmin + b.bw
        |AND p.py >= b.bymin AND p.py <= b.bymin + b.bh""".stripMargin,

    // intersects on point-in-box is closed-interval logic in plain SQL;
    // each tag restates the join type's set semantics with EXISTS
    "sj12_semi_anti_join" ->
      s"""WITH p AS ($pointsSql), b AS ($boxesSql),
        |hit AS (SELECT p.o_orderkey FROM p WHERE EXISTS (
        |  SELECT 1 FROM b WHERE p.px >= b.bxmin AND p.px <= b.bxmin + b.bw
        |    AND p.py >= b.bymin AND p.py <= b.bymin + b.bh))
        |SELECT o_orderkey AS key, 'semi' AS tag FROM hit
        |UNION ALL
        |SELECT o_orderkey AS key, 'anti' AS tag FROM p
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM hit)
        |UNION ALL
        |SELECT b.p_partkey AS key, 'ro_unmatched' AS tag FROM b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p WHERE p.px >= b.bxmin AND p.px <= b.bxmin + b.bw
        |    AND p.py >= b.bymin AND p.py <= b.bymin + b.bh)
        |UNION ALL
        |SELECT o_orderkey AS key, 'mark' AS tag FROM p
        |WHERE o_orderkey % 1000 = 0
        |  OR o_orderkey IN (SELECT o_orderkey FROM hit)""".stripMargin,

    "sj17_full_outer_join" ->
      s"""WITH p AS ($pointsSql), b AS ($boxesSql)
        |SELECT p.o_orderkey, b.p_partkey FROM p FULL OUTER JOIN b
        |ON p.px >= b.bxmin AND p.px <= b.bxmin + b.bw
        |AND p.py >= b.bymin AND p.py <= b.bymin + b.bh""".stripMargin,

    "sj13_sphere_intersects_join" ->
      """WITH q AS (SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        |    CAST(p_partkey % 60 AS DOUBLE)*6.0 - 180.0 AS qxmin,
        |    CAST(p_size % 28 AS DOUBLE)*6.0 - 84.0 AS qymin
        |  FROM part),
        |wq AS (SELECT CAST(p_partkey + 9000000 AS BIGINT) AS p_partkey,
        |    CAST(p_size % 28 AS DOUBLE)*6.0 - 84.0 AS qymin
        |  FROM part WHERE p_partkey % 37 = 0),
        |caps AS (SELECT CAST(p_partkey + 9999990 AS BIGINT) AS p_partkey,
        |    CASE WHEN p_partkey = 1 THEN 1 ELSE -1 END AS sgn
        |  FROM part WHERE p_partkey <= 2),
        |p AS (SELECT o_orderkey,
        |    CAST(o_orderkey % 120 AS DOUBLE)*3.0 - 179.75 AS plon,
        |    CAST(o_custkey % 56 AS DOUBLE)*3.0 - 83.75 AS plat
        |  FROM orders)
        |SELECT q.p_partkey, p.o_orderkey FROM q JOIN p
        |ON p.plon >= q.qxmin AND p.plon <= q.qxmin + 2.0
        |AND p.plat >= q.qymin AND p.plat <= q.qymin + 2.0
        |UNION ALL
        |SELECT wq.p_partkey, p.o_orderkey FROM wq JOIN p
        |ON abs(p.plon) > 179.0
        |AND p.plat >= wq.qymin AND p.plat <= wq.qymin + 2.0
        |UNION ALL
        |SELECT caps.p_partkey, p.o_orderkey FROM caps JOIN p
        |ON (caps.sgn = 1 AND p.plat > 72.0)
        |OR (caps.sgn = -1 AND p.plat < -71.7)""".stripMargin,

    "sj07_planner_grid_join" ->
      s"""WITH p AS ($pointsSql), b AS ($boxesSql)
        |SELECT p.o_orderkey, b.p_partkey FROM p JOIN b
        |ON p.px >= b.bxmin AND p.px <= b.bxmin + b.bw
        |AND p.py >= b.bymin AND p.py <= b.bymin + b.bh""".stripMargin,

    "sj09_raster_join" ->
      """WITH r AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*10.0 AS ulx,
        |    CAST(p_size % 50 AS DOUBLE)*10.0 AS uly
        |  FROM part WHERE p_partkey < 500),
        |p AS (
        |  SELECT o_orderkey,
        |    CAST(o_orderkey % 250 AS DOUBLE)*4.0 AS px,
        |    CAST(o_orderkey % 125 AS DOUBLE)*2.0 AS py
        |  FROM orders)
        |SELECT p.o_orderkey, r.p_partkey FROM p JOIN r
        |ON p.px >= r.ulx AND p.px <= r.ulx + 8.0
        |AND p.py >= r.uly - 6.0 AND p.py <= r.uly""".stripMargin,

    "sj14_sphere_sql_join" -> {
      def hav(lo1: String, la1: String, lo2: String, la2: String) =
        s"""2*6371008.8*asin(sqrt(
           |    sin(radians(($la2)-($la1))/2)*sin(radians(($la2)-($la1))/2)
           |    + cos(radians($la1))*cos(radians($la2))
           |      * sin(radians(($lo2)-($lo1))/2)*sin(radians(($lo2)-($lo1))/2)))""".stripMargin
      s"""WITH c AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CAST(c_custkey % 720 AS DOUBLE)/2.0 - 180.0 AS clon,
        |    CAST(c_custkey % 356 AS DOUBLE)/2.0 - 89.0 AS clat
        |  FROM customer),
        |s AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
        |    CAST(s_suppkey % 720 AS DOUBLE)/2.0 - 179.75 AS slon,
        |    CAST(s_suppkey % 356 AS DOUBLE)/2.0 - 88.75 AS slat
        |  FROM supplier),
        |q AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        |    CAST(p_partkey % 60 AS DOUBLE)*6.0 - 180.0 AS qxmin,
        |    CAST(p_size % 28 AS DOUBLE)*6.0 - 84.0 AS qymin
        |  FROM part),
        |p AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |    CAST(o_orderkey % 120 AS DOUBLE)*3.0 - 179.75 AS plon,
        |    CAST(o_custkey % 56 AS DOUBLE)*3.0 - 83.75 AS plat
        |  FROM orders)
        |SELECT c.c_custkey AS ka, s.s_suppkey AS kb, 'dwithin' AS tag
        |FROM c JOIN s
        |ON ${hav("clon", "clat", "slon", "slat")} <= 250000.0
        |UNION ALL
        |SELECT q.p_partkey AS ka, p.o_orderkey AS kb, 'intersects' AS tag
        |FROM q JOIN p
        |ON p.plon >= q.qxmin AND p.plon <= q.qxmin + 2.0
        |AND p.plat >= q.qymin AND p.plat <= q.qymin + 2.0""".stripMargin
    },

    "sj15_sphere_sql_semi_anti" -> {
      def hav(lo1: String, la1: String, lo2: String, la2: String) =
        s"""2*6371008.8*asin(sqrt(
           |    sin(radians(($la2)-($la1))/2)*sin(radians(($la2)-($la1))/2)
           |    + cos(radians($la1))*cos(radians($la2))
           |      * sin(radians(($lo2)-($lo1))/2)*sin(radians(($lo2)-($lo1))/2)))""".stripMargin
      s"""WITH a AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id,
        |    CAST(c_custkey % 720 AS DOUBLE)/2.0 - 180.0 AS lon,
        |    CAST(c_custkey % 356 AS DOUBLE)/2.0 - 89.0 AS lat
        |  FROM customer),
        |b AS (
        |  SELECT CAST(s_suppkey AS BIGINT) AS id,
        |    CAST(s_suppkey % 720 AS DOUBLE)/2.0 - 179.75 AS lon,
        |    CAST(s_suppkey % 356 AS DOUBLE)/2.0 - 88.75 AS lat
        |  FROM supplier)
        |SELECT a.id AS ka, CAST(-1 AS BIGINT) AS kb, 'semi' AS tag FROM a
        |WHERE EXISTS (SELECT 1 FROM b
        |  WHERE ${hav("a.lon", "a.lat", "b.lon", "b.lat")} <= 250000.0)
        |UNION ALL
        |SELECT a.id AS ka, CAST(-2 AS BIGINT) AS kb, 'anti' AS tag FROM a
        |WHERE NOT EXISTS (SELECT 1 FROM b
        |  WHERE ${hav("a.lon", "a.lat", "b.lon", "b.lat")} <= 250000.0)
        |UNION ALL
        |SELECT a.id AS ka, coalesce(b.id, CAST(-1 AS BIGINT)) AS kb,
        |  'outer' AS tag
        |FROM a LEFT JOIN b
        |ON ${hav("a.lon", "a.lat", "b.lon", "b.lat")} <= 250000.0""".stripMargin
    },

    "sj08_sphere_join" -> {
      def hav(lo1: String, la1: String, lo2: String, la2: String) =
        s"""2*6371008.8*asin(sqrt(
           |    sin(radians(($la2)-($la1))/2)*sin(radians(($la2)-($la1))/2)
           |    + cos(radians($la1))*cos(radians($la2))
           |      * sin(radians(($lo2)-($lo1))/2)*sin(radians(($lo2)-($lo1))/2)))""".stripMargin
      s"""WITH c AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 720 AS DOUBLE)/2.0 - 180.0 AS clon,
        |    CAST(c_custkey % 356 AS DOUBLE)/2.0 - 89.0 AS clat
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST(s_suppkey % 720 AS DOUBLE)/2.0 - 179.75 AS slon,
        |    CAST(s_suppkey % 356 AS DOUBLE)/2.0 - 88.75 AS slat
        |  FROM supplier)
        |SELECT c.c_custkey, s.s_suppkey FROM c JOIN s
        |ON ${hav("clon", "clat", "slon", "slat")} <= 250000.0""".stripMargin
    }
  )
}
