package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions.st

/** Spatial operator coverage (SURVEY.md §2.5/§2.6) over the driver testdata.
  * The oracle DuckDB has no spatial extension, so every query synthesizes
  * geometry from numeric columns and projects results back to numerics /
  * WKT strings that plain SQL can recompute. Inputs are integer-valued
  * doubles so products and sums stay exact in IEEE arithmetic and results
  * hash-match bit-for-bit.
  */
object SpatialQueries {

  /** Densified 60-vertex small circle of angular radius 20 deg around
    * (10, 45), authored CCW (the cap) or CW (its complement) — the
    * oriented-polygon gate fixture. */
  private def orientedCapWkt(clockwise: Boolean): String = {
    val (cx, cy) = (10.0, 45.0)
    val rho = math.toRadians(20.0)
    val (ux, uy, uz) = (math.cos(math.toRadians(cy)) * math.cos(math.toRadians(cx)),
      math.cos(math.toRadians(cy)) * math.sin(math.toRadians(cx)),
      math.sin(math.toRadians(cy)))
    val (e1x, e1y, e1z) = (-math.sin(math.toRadians(cx)), math.cos(math.toRadians(cx)), 0.0)
    val (e2x, e2y, e2z) = (uy * e1z - uz * e1y, uz * e1x - ux * e1z, ux * e1y - uy * e1x)
    val pts = (0 to 60).map { i =>
      val t = 2 * math.Pi * i / 60.0 * (if (clockwise) -1 else 1)
      val px = math.cos(rho) * ux + math.sin(rho) * (math.cos(t) * e1x + math.sin(t) * e2x)
      val py = math.cos(rho) * uy + math.sin(rho) * (math.cos(t) * e1y + math.sin(t) * e2y)
      val pz = math.cos(rho) * uz + math.sin(rho) * (math.cos(t) * e1z + math.sin(t) * e2z)
      f"${math.toDegrees(math.atan2(py, px))}%.10f ${math.toDegrees(math.asin(pz))}%.10f"
    }
    s"POLYGON ((${pts.mkString(", ")}))"
  }

  // part-derived box: xmin = (p_partkey%100)*20, ymin = (p_size%50)*20,
  // w = 1+(p_partkey%7), h = 1+(p_size%5)  — all exact integer doubles.
  private def withBox(df: DataFrame): DataFrame = df
    .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
    .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
    .withColumn("bw", (col("p_partkey") % 7 + 1).cast("double"))
    .withColumn("bh", (col("p_size") % 5 + 1).cast("double"))
    .withColumn("box", st.makeEnvelope(col("bxmin"), col("bymin"),
      col("bxmin") + col("bw"), col("bymin") + col("bh")))

  private val boxSql =
    """SELECT p_partkey, p_brand, p_size,
      |  CAST(p_partkey % 100 AS DOUBLE)*20.0 AS bxmin,
      |  CAST(p_size % 50 AS DOUBLE)*20.0 AS bymin,
      |  CAST(p_partkey % 7 + 1 AS DOUBLE) AS bw,
      |  CAST(p_size % 5 + 1 AS DOUBLE) AS bh
      |FROM part""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // point constructors + accessors + distance + azimuth
    "sp01_point_ops" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .withColumn("p1", st.point((col("l_partkey") % 997).cast("double") * 0.1,
          (col("l_orderkey") % 983).cast("double") * 0.1))
        .withColumn("p2", st.point((col("l_suppkey") % 89).cast("double"),
          (col("l_linenumber") * 13 % 97).cast("double")))
        .select(col("l_orderkey"), col("l_linenumber"),
          st.x(col("p1")).as("x1"), st.y(col("p1")).as("y1"),
          round(st.distance(col("p1"), col("p2")), 6).as("dist"),
          round(st.f("st_azimuth", col("p1"), col("p2")), 6).as("azimuth"))
    }),

    // envelope constructor, area, centroid, bounds accessors, type, npoints
    "sp02_envelope_box" -> ((s, dir) => {
      withBox(t(s, dir, "part"))
        .select(col("p_partkey"),
          st.area(col("box")).as("area"),
          round(st.x(st.centroid(col("box"))), 6).as("cx"),
          round(st.y(st.centroid(col("box"))), 6).as("cy"),
          st.xmin(col("box")).as("xmin"), st.ymax(col("box")).as("ymax"),
          st.f("st_npoints", col("box")).as("npoints"),
          st.f("st_geometrytype", col("box")).as("gtype"))
    }),

    // binary predicates on parity-controlled box pairs + affine translate
    "sp03_predicates" -> ((s, dir) => {
      withBox(t(s, dir, "part"))
        .withColumn("off", when(col("p_partkey") % 3 === 0, col("bw") / 2)
          .when(col("p_partkey") % 3 === 1, col("bw"))
          .otherwise(col("bw") * 3))
        .withColumn("box2", st.f("st_translate", col("box"), col("off"), lit(0.0)))
        .withColumn("center", st.point(col("bxmin") + col("bw") / 2, col("bymin") + col("bh") / 2))
        .select(col("p_partkey"),
          st.intersects(col("box"), col("box2")).as("b_intersects"),
          st.f("st_touches", col("box"), col("box2")).as("b_touches"),
          st.f("st_overlaps", col("box"), col("box2")).as("b_overlaps"),
          st.f("st_disjoint", col("box"), col("box2")).as("b_disjoint"),
          st.contains(col("box"), col("center")).as("b_contains"),
          st.within(col("center"), col("box")).as("b_within"),
          st.dwithin(col("box"), col("box2"), col("bw")).as("b_dwithin"))
    }),

    // buffer: 32-gon area + vertex count
    "sp04_buffer" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("r", (col("p_size") % 4).cast("double") + 0.5)
        .withColumn("len", (col("p_partkey") % 50 + 1).cast("double"))
        .withColumn("line", st.geomFromWkt(
          concat(lit("LINESTRING (0 0, "), col("len"), lit(" 0)"))))
        .withColumn("buf", st.buffer(st.point(lit(10.0), lit(20.0)), col("r")))
        .select(col("p_partkey"), col("r"),
          round(st.area(col("buf")), 4).as("buf_area"),
          st.f("st_npoints", col("buf")).as("buf_npoints"),
          // style-string buffers with exact closed forms: flat cap =
          // 2wL rectangle, square cap adds 4w^2, single-sided left = wL,
          // mitre join on a square = (s+2w)^2, quad_segs=4 point buffer
          // = inscribed 16-gon
          round(st.area(st.f("st_buffer", col("line"), col("r"),
            lit("endcap=flat"))), 4).as("flat_area"),
          round(st.area(st.f("st_buffer", col("line"), col("r"),
            lit("endcap=square"))), 4).as("square_area"),
          round(st.area(st.f("st_buffer", col("line"), col("r"),
            lit("side=left"))), 4).as("left_area"),
          round(st.area(st.f("st_buffer",
            st.makeEnvelope(lit(0.0), lit(0.0), lit(10.0), lit(10.0)),
            col("r"), lit("join=mitre"))), 4).as("mitre_area"),
          round(st.area(st.f("st_buffer", st.point(lit(10.0), lit(20.0)),
            col("r"), lit("quad_segs=4"))), 4).as("q4_area"))
    }),

    // WKT parse/print round trip incl. EMPTY
    "sp05_wkt_roundtrip" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("xi", (col("p_partkey") % 1000).cast("int"))
        .withColumn("yi", (col("p_size") % 100).cast("int"))
        .withColumn("wkt", when(col("p_partkey") % 10 === 0, lit("POINT EMPTY"))
          .otherwise(concat(lit("POINT ("), col("xi"), lit(" "), col("yi"), lit(")"))))
        .withColumn("lwkt", concat(lit("LINESTRING (0 0, "), col("xi"), lit(" "),
          col("yi"), lit(", "), col("xi") * 2, lit(" 7)")))
        .select(col("p_partkey"),
          st.asText(st.geomFromWkt(col("wkt"))).as("rt_wkt"),
          st.asText(st.geomFromWkt(col("lwkt"))).as("rt_lwkt"),
          st.f("st_npoints", st.geomFromWkt(col("lwkt"))).as("l_npoints"),
          round(st.length(st.geomFromWkt(col("lwkt"))), 6).as("l_len"),
          st.f("st_isempty", st.geomFromWkt(col("wkt"))).as("is_empty"))
    }),

    // aggregates: envelope_agg + analyze_agg per brand
    "sp06_agg_envelope" -> ((s, dir) => {
      withBox(t(s, dir, "part"))
        .groupBy(col("p_brand"))
        .agg(
          st.xmin(st.envelopeAgg(col("box"))).as("env_xmin"),
          st.ymin(st.envelopeAgg(col("box"))).as("env_ymin"),
          st.xmax(st.envelopeAgg(col("box"))).as("env_xmax"),
          st.ymax(st.envelopeAgg(col("box"))).as("env_ymax"),
          st.analyzeAgg(col("box")).getField("count").as("n_geoms"),
          st.analyzeAgg(col("box")).getField("total_points").as("total_points"),
          st.analyzeAgg(col("box")).getField("total_area").as("total_area"))
    }),

    // union_agg of disjoint grid boxes: area + part count survive the union
    "sp07_union_agg" -> ((s, dir) => {
      // 200x200 grid keeps every partkey's box disjoint up to 40k parts
      // (sf0.1), so per-brand union area stays exactly additive
      withBox(t(s, dir, "part"))
        .withColumn("gx", (col("p_partkey") % 200).cast("double") * 20.0)
        .withColumn("gy", ((col("p_partkey") / 200) % 200).cast("double") * 20.0)
        .withColumn("gbox", st.makeEnvelope(col("gx"), col("gy"),
          col("gx") + col("bw"), col("gy") + col("bh")))
        .groupBy(col("p_brand"))
        .agg(
          st.area(st.unionAgg(col("gbox"))).as("union_area"),
          st.f("st_numgeometries", st.unionAgg(col("gbox"))).as("n_parts"),
          st.f("st_numgeometries", st.collectAgg(col("gbox"))).as("n_collected"))
    }),

    // CRS transforms: web mercator + exact inverse round trip
    "sp08_transform" -> ((s, dir) => {
      t(s, dir, "customer")
        .filter(col("c_custkey") % 10 === 0)
        .withColumn("lon", (col("c_custkey") % 360).cast("double") - 180.0 + 0.25)
        .withColumn("lat", (col("c_custkey") % 170).cast("double") / 2.0 - 42.5 + 0.25)
        .withColumn("pt", st.point(col("lon"), col("lat")))
        .withColumn("merc", st.transform(col("pt"), lit("EPSG:4326"), lit("EPSG:3857")))
        .withColumn("back", st.transform(col("merc"), lit("EPSG:3857"), lit("EPSG:4326")))
        .select(col("c_custkey"),
          round(st.x(col("merc")), 2).as("mx"),
          round(st.y(col("merc")), 2).as("my"),
          round(st.x(col("back")), 5).as("rt_lon"),
          round(st.y(col("back")), 5).as("rt_lat"),
          st.f("st_srid", col("merc")).as("srid"))
    }),

    // projection-math gate for the non-mercator CRS set (LCC 2SP /
    // LAEA / Albers / ellipsoidal-mercator / ETRS89-UTM): forward +
    // inverse must return the synthesized lon/lat to 5 decimals, each
    // exercised inside its projection's home domain
    "sp14_crs_roundtrip" -> ((s, dir) => {
      def rt(lon: Column, lat: Column, code: String, tag: String): Seq[Column] = {
        val back = st.transform(
          st.transform(st.point(lon, lat), lit("EPSG:4326"), lit(code)),
          lit(code), lit("EPSG:4326"))
        Seq(round(st.x(back), 5).as(s"lon_$tag"), round(st.y(back), 5).as(s"lat_$tag"))
      }
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") % 5 === 0)
        .withColumn("lon_eu", (col("c_custkey") % 240).cast("double") / 20.0 - 3.0)
        .withColumn("lat_eu", (col("c_custkey") % 200).cast("double") / 20.0 + 41.0)
        .withColumn("lon_us", (col("c_custkey") % 400).cast("double") / (-10.0) - 70.0)
        .withColumn("lat_us", (col("c_custkey") % 200).cast("double") / 10.0 + 25.0)
        .withColumn("lon_w", (col("c_custkey") % 360).cast("double") - 180.0 + 0.25)
        .withColumn("lat_w", (col("c_custkey") % 170).cast("double") / 2.0 - 42.5 + 0.25)
        // zone 32's own 6-degree band: the TM series is only metre-exact
        // near its central meridian
        .withColumn("lon_z32", (col("c_custkey") % 240).cast("double") / 40.0 + 6.0)
        // UK domain for the OSGB36 datum-shift chain; NY / central-TX
        // bands for the SPCS83 zones; zone-17 band for NAD83 UTM
        .withColumn("lon_uk", (col("c_custkey") % 70).cast("double") / 10.0 - 5.5)
        .withColumn("lat_uk", (col("c_custkey") % 100).cast("double") / 10.0 + 50.2)
        .withColumn("lon_ny", (col("c_custkey") % 30).cast("double") / 10.0 - 74.5)
        .withColumn("lat_ny", (col("c_custkey") % 10).cast("double") / 10.0 + 40.3)
        .withColumn("lon_tx", (col("c_custkey") % 30).cast("double") / 10.0 - 100.0)
        .withColumn("lat_tx", (col("c_custkey") % 20).cast("double") / 10.0 + 29.8)
        .withColumn("lon_z17", (col("c_custkey") % 240).cast("double") / 40.0 - 82.5)
        // Antarctic band for the polar-stereographic grid
        .withColumn("lat_ant", (col("c_custkey") % 200).cast("double") / 10.0 - 85.0)
        // LA-basin band for the PROJJSON-parameterized zone below
        .withColumn("lon_ca", (col("c_custkey") % 40).cast("double") / 10.0 - 120.0)
        .withColumn("lat_ca", (col("c_custkey") % 30).cast("double") / 10.0 + 33.0)
        // Swiss / Czech / Malaysian bands for the oblique-Mercator and
        // Krovak kernels (EPSG 2056 LV95, 5514 Krovak EN, 3375 RSO)
        .withColumn("lon_ch", (col("c_custkey") % 40).cast("double") / 10.0 + 6.0)
        .withColumn("lat_ch", (col("c_custkey") % 18).cast("double") / 10.0 + 46.0)
        .withColumn("lon_cz", (col("c_custkey") % 60).cast("double") / 10.0 + 12.5)
        .withColumn("lat_cz", (col("c_custkey") % 24).cast("double") / 10.0 + 48.6)
        .withColumn("lon_my", (col("c_custkey") % 40).cast("double") / 10.0 + 100.0)
        .withColumn("lat_my", (col("c_custkey") % 50).cast("double") / 10.0 + 1.5)
      // NAD83 / California zone 5: NOT in the enumerated EPSG table —
      // defined ONLY by its PROJJSON parameters (EPSG:26945 registry
      // values), exercising the parameter-driven kernel path the
      // reference gets from PROJ (c/sedona-proj/src/transform.rs)
      val ca5 =
        """{"type":"ProjectedCRS","name":"NAD83 / California zone 5",
          |"base_crs":{"type":"GeographicCRS","name":"NAD83","datum":{
          |"type":"GeodeticReferenceFrame","name":"North American Datum 1983",
          |"ellipsoid":{"name":"GRS 1980","semi_major_axis":6378137,
          |"inverse_flattening":298.257222101}}},
          |"conversion":{"name":"SPCS83 California zone 5","method":{
          |"name":"Lambert Conic Conformal (2SP)"},"parameters":[
          |{"name":"Latitude of false origin","value":33.5,"unit":"degree"},
          |{"name":"Longitude of false origin","value":-118,"unit":"degree"},
          |{"name":"Latitude of 1st standard parallel","value":35.46666666666667,"unit":"degree"},
          |{"name":"Latitude of 2nd standard parallel","value":34.03333333333333,"unit":"degree"},
          |{"name":"Easting at false origin","value":2000000,"unit":"metre"},
          |{"name":"Northing at false origin","value":500000,"unit":"metre"}]}}"""
          .stripMargin.replace("\n", "")
      base.select(Seq(col("c_custkey")) ++
        rt(col("lon_eu"), col("lat_eu"), "EPSG:2154", "lcc") ++
        rt(col("lon_eu"), col("lat_eu"), "EPSG:3035", "laea") ++
        rt(col("lon_z32"), col("lat_eu"), "EPSG:25832", "utm") ++
        rt(col("lon_us"), col("lat_us"), "EPSG:5070", "alb") ++
        rt(col("lon_w"), col("lat_w"), "EPSG:3395", "merc") ++
        rt(col("lon_uk"), col("lat_uk"), "EPSG:27700", "bng") ++
        rt(col("lon_ny"), col("lat_ny"), "EPSG:32118", "spny") ++
        rt(col("lon_tx"), col("lat_tx"), "EPSG:32139", "sptx") ++
        rt(col("lon_z17"), col("lat_ny"), "EPSG:26917", "n83") ++
        rt(col("lon_w"), col("lat_ant"), "EPSG:3031", "ps") ++
        rt(col("lon_ca"), col("lat_ca"), ca5, "ca5") ++
        rt(col("lon_ch"), col("lat_ch"), "EPSG:2056", "lv95") ++
        rt(col("lon_cz"), col("lat_cz"), "EPSG:5514", "kro") ++
        rt(col("lon_my"), col("lat_my"), "EPSG:3375", "rso"): _*)
    }),

    // spatial sort key: Z-order (Hilbert variant covered in unit spec)
    "sp09_zorder" -> ((s, dir) => {
      withBox(t(s, dir, "part"))
        .select(col("p_partkey"),
          st.f("sd_zorder", col("box"), lit(0.0), lit(0.0), lit(2048.0), lit(1024.0))
            .as("zorder"))
    }),

    // spherical geography subset: haversine distance, spherical box area,
    // segment-summed spherical length
    "sp11_sphere" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("lon1", (col("c_custkey") % 340).cast("double") / 2.0 - 85.0)
        .withColumn("lat1", (col("c_custkey") % 160).cast("double") / 2.0 - 40.0)
        .withColumn("lon2", col("lon1") + 1.5)
        .withColumn("lat2", col("lat1") + 0.75)
        .withColumn("p1", st.point(col("lon1"), col("lat1")))
        .withColumn("p2", st.point(col("lon2"), col("lat2")))
        .withColumn("box", st.makeEnvelope(col("lon1"), col("lat1"), col("lon2"), col("lat2")))
        .select(col("c_custkey"),
          round(st.f("st_distancesphere", col("p1"), col("p2")), 4).as("dist_m"),
          st.f("st_dwithinsphere", col("p1"), col("p2"), lit(150000.0)).as("within_150km"),
          // geodesic-edge quad area (the S2 edge model); km² at 3 decimals
          // keeps ~1e-7 relative resolution, far above cross-engine trig
          // noise but far below the chart-edge model's 1e-3 divergence
          round(st.f("st_areasphere", col("box")) / 1e6, 3).as("area_km2"),
          round(st.f("st_lengthsphere",
            st.f("st_exteriorring", col("box"))), 4).as("ring_len_m"))
    }),

    // s2-tessellator edge splitting: a 20-degree lat-45 parallel segment
    // shifted per row. Split counts and chart-midpoint vertices (geog
    // direction) are exact closed forms; the geodesic bulge (geom
    // direction) is a constant pinned by the reference's own test table.
    "sp15_tessellate" -> ((s, dir) => {
      t(s, dir, "customer").filter(col("c_custkey") % 7 === 0)
        .withColumn("off", (col("c_custkey") % 80).cast("double") + 1.0)
        .withColumn("tol", when(col("c_custkey") % 2 === 0, 10000.0)
          .otherwise(1000.0))
        .withColumn("line", st.geomFromWkt(concat(lit("LINESTRING ("),
          col("off") - 10.0, lit(" 45, "), col("off") + 10.0, lit(" 45)"))))
        .withColumn("tg", st.f("st_tessellategeog", col("line"), col("tol")))
        .withColumn("tm", st.f("st_tessellategeom", col("line"), col("tol")))
        .select(col("c_custkey"),
          st.f("st_npoints", col("tg")).as("np_geog"),
          st.f("st_npoints", col("tm")).as("np_geom"),
          round(st.x(st.f("st_pointn", col("tg"), lit(2))), 5).as("p2x"),
          round(st.y(st.f("st_pointn", col("tg"), lit(2))), 5).as("p2y"),
          round(st.x(st.f("st_pointn", col("tm"),
            when(col("tol") === 10000.0, 3).otherwise(5))), 5).as("midx"),
          round(st.y(st.f("st_pointn", col("tm"),
            when(col("tol") === 10000.0, 3).otherwise(5))), 6).as("midy"))
    }),

    // item-level CRS column: struct(item, crs) constructed per row with a
    // row-varying EPSG code, pushed through geometry kernels (translate →
    // centroid) — the crs string must ride along unchanged and seed the
    // SRID, while scalar kernels unwrap transparently
    // wrap-aware geography bounds: per-row geodesic line whose endpoints
    // straddle (or not) the antimeridian; st_x(min|max)sphere follow the
    // SHORT arc, so xmin > xmax encodes wrap — longitude endpoints are
    // chart-exact (no bulge on the x axis), giving a closed-form oracle:
    // span = a - b; wrapped iff span > 180 (then min/max swap sides)
    "sp17_sphere_bounds" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("a", (col("c_custkey") % 80).cast("double") + 100.0) // east lon
        .withColumn("b", -((col("c_custkey") % 75).cast("double") + 20.0)) // west lon
        .withColumn("lat1", (col("c_custkey") % 120).cast("double") * 0.5 - 30.0)
        .withColumn("lat2", (col("c_custkey") % 90).cast("double") * 0.5 - 20.0)
        .withColumn("line", st.f("st_makeline",
          st.point(col("a"), col("lat1")), st.point(col("b"), col("lat2"))))
        .select(col("c_custkey"),
          st.f("st_xminsphere", col("line")).as("sxmin"),
          st.f("st_xmaxsphere", col("line")).as("sxmax"),
          (st.f("st_xminsphere", col("line")) >
            st.f("st_xmaxsphere", col("line"))).as("wrapped"))
    }),

    // spherical winding-number containment on the shapes the chart proxy
    // could not represent: polar-cap 12-gons (no vertex at the pole) and
    // an antimeridian-crossing quad. Point lattice avoids the geodesic
    // bulge band of each edge (cap edges at lat 72 bulge to 72.59°; the
    // nearest point latitudes are 71.25 and 73.75), so chart interval
    // logic is an exact oracle. Bounds columns prove the cap's grid
    // cover reaches the pole (full lon ring, ymax 90).
    "sp18_sphere_containment" -> ((s, dir) => {
      val ncap = "POLYGON ((0 72, 30 72, 60 72, 90 72, 120 72, 150 72, 180 72, " +
        "-150 72, -120 72, -90 72, -60 72, -30 72, 0 72))"
      val scap = "POLYGON ((0 -72, 30 -72, 60 -72, 90 -72, 120 -72, 150 -72, 180 -72, " +
        "-150 -72, -120 -72, -90 -72, -60 -72, -30 -72, 0 -72))"
      val dlq = "POLYGON ((179 10, 181 10, 181 20, 179 20, 179 10))"
      t(s, dir, "customer")
        .withColumn("plon", (col("c_custkey") % 360).cast("double") - 179.5)
        .withColumn("plat", (col("c_custkey") % 70).cast("double") * 2.5 - 86.25)
        .withColumn("pt", st.point(col("plon"), col("plat")))
        .withColumn("ncap", st.geomFromWkt(lit(ncap)))
        .withColumn("scap", st.geomFromWkt(lit(scap)))
        .withColumn("dlq", st.geomFromWkt(lit(dlq)))
        .withColumn("ptq", st.makeEnvelope(col("plon") - 0.2, col("plat") - 0.2,
          col("plon") + 0.2, col("plat") + 0.2))
        .withColumn("in_ncap", st.f("st_intersectssphere", col("ncap"), col("pt")))
        .withColumn("in_dlq", st.f("st_intersectssphere", col("dlq"), col("pt")))
        .select(col("c_custkey"),
          col("in_ncap"),
          st.f("st_intersectssphere", col("scap"), col("pt")).as("in_scap"),
          col("in_dlq"),
          st.f("st_intersectssphere", col("dlq"), col("ptq")).as("quad_hits_dlq"),
          (((st.f("st_distancesphere", col("ncap"), col("pt")) === 0.0) === col("in_ncap")) &&
            ((st.f("st_distancesphere", col("dlq"), col("pt")) === 0.0) === col("in_dlq")))
            .as("dist_consistent"),
          st.f("st_ymaxsphere", col("ncap")).as("ncap_ymax"),
          st.f("st_xminsphere", col("ncap")).as("ncap_xmin"),
          // containment family: quad-in-quad across the dateline,
          // within against the polar cap, disjoint/equals consistency
          st.f("st_containssphere", col("dlq"), col("ptq")).as("quad_in_dlq"),
          st.f("st_withinsphere", col("ptq"), col("ncap")).as("quad_within_ncap"),
          st.f("st_disjointsphere", col("dlq"), col("pt")).as("pt_disj_dlq"),
          (st.f("st_equalssphere", col("dlq"), st.geomFromWkt(lit(dlq))) &&
            !st.f("st_equalssphere", col("dlq"), col("ncap")) &&
            !st.f("st_equalssphere", col("dlq"), col("ptq"))).as("eq_ok"))
    }),

    // geodesic linear referencing + segmentize + longest line. The line
    // lies ON the equator, where the geodesic IS the chart segment and
    // the closest point from (lon, lat) is exactly (lon, 0) — so
    // st_linelocatepointsphere has an exact rational oracle. Segmentize
    // piece counts are ceil(arc/step) with arcs far from integer
    // boundaries; longest line between two points returns the points
    // themselves.
    "sp19_sphere_linref" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("x0", (col("c_custkey") % 300).cast("double") - 150.0)
        .withColumn("o", (col("c_custkey") % 11).cast("double"))
        .withColumn("line", st.f("st_makeline",
          st.point(col("x0"), lit(0.0)), st.point(col("x0") + 10.0, lit(0.0))))
        .withColumn("pt", st.point(col("x0") + col("o"),
          (col("c_custkey") % 7).cast("double") - 3.0))
        .withColumn("step", ((col("c_custkey") % 5) + 1).cast("double") * 100000.0)
        .withColumn("pt2", st.point((col("c_custkey") % 360).cast("double") - 179.5,
          (col("c_custkey") % 100).cast("double") - 49.75))
        .select(col("c_custkey"),
          round(st.f("st_linelocatepointsphere", col("line"), col("pt")), 9).as("frac"),
          st.f("st_npoints", st.f("st_segmentizesphere", col("line"), col("step"))).as("segn"),
          round(abs(st.f("st_lengthsphere", st.f("st_segmentizesphere", col("line"), col("step"))) -
            st.f("st_lengthsphere", col("line"))), 3).as("dlen"),
          round(st.f("st_x", st.f("st_endpoint",
            st.f("st_longestlinesphere", col("pt"), col("pt2")))), 6).as("ll_x"),
          round(st.f("st_y", st.f("st_endpoint",
            st.f("st_longestlinesphere", col("pt"), col("pt2")))), 6).as("ll_y"))
    }),

    "sp16_itemcrs" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("x0", (col("c_custkey") % 500).cast("double") * 0.5)
        .withColumn("y0", (col("c_custkey") % 300).cast("double") * 0.25)
        .withColumn("code", concat(lit("EPSG:"), lit(32601) + col("c_custkey") % 60))
        .withColumn("ic", st.f("st_itemcrs",
          st.makeEnvelope(col("x0"), col("y0"), col("x0") + 2.0, col("y0") + 3.0),
          col("code")))
        .withColumn("g2", st.f("st_translate", col("ic"), lit(10.0), lit(5.0)))
        .select(col("c_custkey"),
          st.f("st_crs", col("g2")).as("crs"),
          st.f("st_srid", col("g2")).as("srid"),
          st.area(col("g2")).as("area"),
          round(st.x(st.centroid(col("g2"))), 6).as("cx"),
          round(st.y(st.centroid(col("g2"))), 6).as("cy"))
    }),

    // spherical overlay subset: nested boxes so the tangent-plane overlay
    // result has oracle-computable extents (intersection = inner, union =
    // outer, difference = outer-with-hole). Areas are taken on the
    // envelope-reconstructed quads (exact geodesic 4-corner form — the
    // densified overlay rings themselves have no closed-form geodesic
    // area); the hole is discriminated by center containment. Plus exact
    // great-circle line interpolation (slerp).
    "sp13_sphere_overlay" -> ((s, dir) => {
      def envQuadKm2(g: Column): Column =
        round(st.f("st_areasphere", st.makeEnvelope(
          st.xmin(g), st.ymin(g), st.xmax(g), st.ymax(g))) / 1e6, 3)
      t(s, dir, "customer")
        .withColumn("lon1", (col("c_custkey") % 340).cast("double") / 2.0 - 85.0)
        .withColumn("lat1", (col("c_custkey") % 160).cast("double") / 2.0 - 40.0)
        .withColumn("outer", st.makeEnvelope(col("lon1"), col("lat1"),
          col("lon1") + 2.0, col("lat1") + 1.0))
        .withColumn("inner", st.makeEnvelope(col("lon1") + 0.5, col("lat1") + 0.25,
          col("lon1") + 1.5, col("lat1") + 0.75))
        .withColumn("center", st.point(col("lon1") + 1.0, col("lat1") + 0.5))
        .withColumn("ig", st.f("st_intersectionsphere", col("outer"), col("inner")))
        .withColumn("ug", st.f("st_unionsphere", col("outer"), col("inner")))
        .withColumn("dg", st.f("st_differencesphere", col("outer"), col("inner")))
        .withColumn("sg", st.f("st_symdifferencesphere", col("outer"), col("inner")))
        .withColumn("seg", st.f("st_makeline",
          st.point(col("lon1"), col("lat1")),
          st.point(col("lon1") + 1.5, col("lat1") + 0.75)))
        .withColumn("ip", st.f("st_lineinterpolatepointsphere", col("seg"), lit(0.25)))
        .select(col("c_custkey"),
          envQuadKm2(col("ig")).as("ikm2"),
          envQuadKm2(col("ug")).as("ukm2"),
          st.f("st_contains", col("ig"), col("center")).as("i_has"),
          st.f("st_contains", col("ug"), col("center")).as("u_has"),
          st.f("st_contains", col("dg"), col("center")).as("d_has"),
          st.f("st_contains", col("sg"), col("center")).as("s_has"),
          round(st.f("st_x", col("ip")), 5).as("ix"),
          round(st.f("st_y", col("ip")), 5).as("iy"))
    }),

    // decomposition + proximity + GeoJSON round trip
    "sp12_misc" -> ((s, dir) => {
      withBox(t(s, dir, "part"))
        .withColumn("blade", st.geomFromWkt(concat(
          lit("LINESTRING ("), col("bxmin") + col("bw") / 2, lit(" "),
          col("bymin") - 1, lit(", "), col("bxmin") + col("bw") / 2, lit(" "),
          col("bymin") + col("bh") + 1, lit(")"))))
        .withColumn("far_pt", st.point(col("bxmin") + col("bw") + 3.0, col("bymin")))
        .withColumn("gj", concat(lit("""{"type":"Point","coordinates":["""),
          col("bxmin").cast("int"), lit(","), col("bymin").cast("int"), lit("]}")))
        .select(col("p_partkey"),
          st.f("st_numgeometries", st.f("st_split", col("box"), col("blade"))).as("n_split"),
          round(st.area(st.f("st_split", col("box"), col("blade"))), 6).as("split_area"),
          round(st.area(st.f("st_buildarea",
            st.f("st_boundary", col("box")))), 6).as("rebuilt_area"),
          st.asText(st.f("st_closestpoint", col("box"), col("far_pt"))).as("cp_wkt"),
          round(st.length(st.f("st_shortestline", col("box"), col("far_pt"))), 6).as("sl_len"),
          st.asText(st.f("st_geomfromgeojson", col("gj"))).as("gj_wkt"),
          round(st.area(st.f("st_tessellate", col("box"))), 6).as("tess_area"),
          st.f("st_numgeometries", st.f("st_tessellate", col("box"))).as("tess_n"))
    }),

    // in-db raster: constructor, geotransform math, pixel access, stats
    "rs01_raster_core" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("ulx", (col("p_partkey") % 100).cast("double") * 10.0)
        .withColumn("uly", (col("p_size") % 50).cast("double") * 10.0)
        .withColumn("vals", transform(sequence(lit(0), lit(11)),
          i => ((col("p_partkey") + i) % 97).cast("double")))
        .withColumn("r", st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
          lit(2.0), lit(-2.0), col("vals")))
        .select(col("p_partkey"),
          st.f("rs_width", col("r")).as("w"),
          st.f("rs_height", col("r")).as("h"),
          st.f("rs_numbands", col("r")).as("nb"),
          st.f("rs_scalex", col("r")).as("sx"),
          st.f("rs_upperleftx", col("r")).as("ulx_out"),
          st.f("rs_georeference", col("r")).as("georef"),
          st.f("rs_value", col("r"), lit(1), lit(1), lit(2)).as("v12"),
          st.f("rs_bandavg", col("r"), lit(1)).as("bavg"),
          st.f("rs_rastertoworldcoordx", col("r"), lit(2), lit(1)).as("wx"),
          st.f("rs_rastertoworldcoordy", col("r"), lit(2), lit(1)).as("wy"),
          st.f("rs_worldtorastercoordx", col("r"), col("ulx") + 5.0, col("uly") - 3.0).as("rcx"),
          st.f("rs_worldtorastercoordy", col("r"), col("ulx") + 5.0, col("uly") - 3.0).as("rcy"),
          st.area(st.f("rs_envelope", col("r"))).as("env_area"),
          st.f("rs_intersects", col("r"),
            st.point(col("ulx") + 1.0, col("uly") - 1.0)).as("hit"))
    }),

    // zonal statistics: pixel-center-in-zone aggregation over in-db
    // rasters, window-clipped to the zone envelope
    "rs02_zonal_stats" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("ulx", (col("p_partkey") % 100).cast("double") * 10.0)
        .withColumn("uly", (col("p_size") % 50).cast("double") * 10.0)
        .withColumn("vals", transform(sequence(lit(0), lit(11)),
          i => ((col("p_partkey") + i) % 97).cast("double")))
        .withColumn("r", st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
          lit(2.0), lit(-2.0), col("vals")))
        .withColumn("zone", st.makeEnvelope(col("ulx") + 0.9, col("uly") - 3.2,
          col("ulx") + 5.1, col("uly") - 0.9))
        .withColumn("zs", st.f("rs_zonalstatsall", col("r"), col("zone"), lit(1)))
        .select(col("p_partkey"),
          col("zs.count").as("zcnt"), col("zs.sum").as("zsum"),
          col("zs.mean").as("zmean"), col("zs.min").as("zmin"), col("zs.max").as("zmax"),
          st.f("rs_zonalstats", col("r"), col("zone"), lit(1), lit("median")).as("zmed"),
          st.f("rs_zonalstats", col("r"), col("zone"), lit(1), lit("stddev")).as("zsd"))
    }),

    // outdb raster pipeline over REAL files: deflate-compressed GeoTIFF
    // fixtures written per nation through sources/GeoTiff, then
    // rs_frompath (header-only metadata via the RasterLoaders registry)
    // + RasterLoadRule-injected rs_ensureloaded decoding the pixel bytes
    // from disk. w/h/crs/ulx come from the unloaded header ref; value/
    // avg/max from the materialized bands.
    "rs03_outdb_load" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_gate/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      t(s, dir, "nation").select(col("n_nationkey").cast("int"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val n = row.getInt(0)
            val vals = Array.tabulate(12)(i => ((n * 100 + i) % 97).toDouble)
            val r = graft.functions.RasterModel.Raster("EPSG:4326",
              Array((n % 10) * 8.0, 2.0, 0.0, 50.0 - (n % 5) * 6.0, 0.0, -2.0),
              4, 3, Vector(graft.functions.RasterModel.Band(Double.NaN,
                graft.functions.RasterModel.packDoubles(vals))))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$base/tile_$n.tif"),
              graft.sources.GeoTiff.write(r, deflate = true))
          }
        }
      t(s, dir, "nation")
        .withColumn("path", concat(lit(s"file:$base/tile_"),
          col("n_nationkey"), lit(".tif")))
        .withColumn("r", st.f("rs_frompath", col("path")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("r")).as("w"),
          st.f("rs_height", col("r")).as("h"),
          st.f("rs_crs", col("r")).as("crs"),
          st.f("rs_upperleftx", col("r")).as("ulx"),
          st.f("rs_value", col("r"), lit(1), lit(1), lit(1)).as("v11"),
          st.f("rs_bandavg", col("r"), lit(1)).as("bavg"),
          st.f("rs_bandmax", col("r"), lit(1)).as("bmax"))
    }),

    // WINDOWED out-db reads — the 100 TB raster scale path: ONE shared
    // tiled deflate GeoTIFF scene (512x384, 64px tiles, 2 bands) far
    // larger than any single strip; every row samples rs_value at its
    // own pixel and runs zonal stats over its own 8x6-pixel roi. The
    // windowedAccess kernels fetch only the cached blocks each roi
    // touches (RasterLoaders.window) — never the whole scene (proved by
    // the fetch counters in RasterWindowSpec; this gate proves the
    // VALUES match a DuckDB recomputation of the generating formula).
    "rs09_outdb_window" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_window/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      val scenePath = s"$base/scene.tif"
      val W = 512; val H = 384
      val b1 = Array.tabulate(W * H)(i => (((i / W) * 7 + (i % W) * 3) % 101).toDouble)
      val b2 = Array.tabulate(W * H)(i => (((i / W) * 5 + (i % W) * 11) % 89).toDouble)
      val scene = graft.functions.RasterModel.Raster("EPSG:32611",
        Array(300000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0), W, H,
        Vector(
          graft.functions.RasterModel.Band(Double.NaN,
            graft.functions.RasterModel.packDoubles(b1)),
          graft.functions.RasterModel.Band(Double.NaN,
            graft.functions.RasterModel.packDoubles(b2))))
      java.nio.file.Files.write(java.nio.file.Paths.get(scenePath),
        graft.sources.GeoTiff.writeTiled(scene, 64, 64, 8))
      t(s, dir, "nation")
        .withColumn("c", (col("n_nationkey") * 17) % 512)
        .withColumn("r", (col("n_nationkey") * 13) % 384)
        .withColumn("c0", (col("n_nationkey") * 11) % 500)
        .withColumn("r0", (col("n_nationkey") * 29) % 370)
        .withColumn("rast", st.f("rs_frompath", lit(s"file:$scenePath")))
        .withColumn("pt", st.f("st_setsrid",
          st.point(lit(300000.0) + col("c") * 10.0 + 5.0,
            lit(5000000.0) - col("r") * 10.0 - 5.0), lit(32611)))
        // half-pixel-safe roi covering pixel centers [c0..c0+7]x[r0..r0+5]
        .withColumn("zone", st.f("st_setsrid", st.makeEnvelope(
          lit(300000.0) + col("c0") * 10.0 + 1.0,
          lit(5000000.0) - (col("r0") + 6) * 10.0 + 1.0,
          lit(300000.0) + (col("c0") + 8) * 10.0 - 1.0,
          lit(5000000.0) - col("r0") * 10.0 - 1.0), lit(32611)))
        .withColumn("zs", st.f("rs_zonalstatsall", col("rast"), col("zone"), lit(1)))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rast")).as("w"),
          st.f("rs_height", col("rast")).as("h"),
          st.f("rs_value", col("rast"), col("pt"), lit(1)).as("v1"),
          st.f("rs_value", col("rast"), col("pt"), lit(2)).as("v2"),
          col("zs.count").as("zcnt"), col("zs.sum").as("zsum"),
          col("zs.mean").as("zmean"), col("zs.min").as("zmin"),
          col("zs.max").as("zmax"))
    }),

    // Zarr out-db: rs_frompath over a .zarr DIRECTORY store through the
    // format-keyed DirLoader (reference rust/sedona-raster-zarr behind
    // rust/sedona/src/context.rs:383-392). Chunked natively, so the
    // windowed kernels read only the chunk objects each row's geometry
    // touches. Header metadata from .zarray/.zattrs alone.
    // Zarr V3 out-db: root zarr.json, c/<y>/<x> chunk keys, bytes+gzip
    // codecs — the current zarr spec vintage, auto-detected by the same
    // loader that serves v2 stores (rs05/rs10); windowed point samples
    // fetch only the chunks under each probe.
    "rs14_zarr_v3" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_zarrv3/${math.abs(dir.hashCode)}"
      val store = new java.io.File(s"$base/cube.zarr/c")
      store.mkdirs()
      val W = 512; val H = 384; val CW = 64; val CH = 64
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/cube.zarr/zarr.json"),
        s"""{"zarr_format": 3, "node_type": "array", "shape": [$H, $W],
           | "data_type": "float64",
           | "chunk_grid": {"name": "regular",
           |   "configuration": {"chunk_shape": [$CH, $CW]}},
           | "chunk_key_encoding": {"name": "default",
           |   "configuration": {"separator": "/"}},
           | "fill_value": "NaN",
           | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
           |   {"name": "gzip", "configuration": {"level": 6}}],
           | "attributes": {
           |   "transform": [500000.0, 10.0, 0.0, 4700000.0, 0.0, -10.0],
           |   "crs": "EPSG:32611"}}""".stripMargin.getBytes("UTF-8"))
      for (cy <- 0 until H / CH; cx <- 0 until W / CW) {
        val bb = java.nio.ByteBuffer.allocate(CW * CH * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        for (r <- 0 until CH; c <- 0 until CW)
          bb.putDouble((((cy * CH + r) * 7 + (cx * CW + c) * 11) % 89).toDouble)
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(bb.array()); gz.close()
        new java.io.File(s"$base/cube.zarr/c/$cy").mkdirs()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/cube.zarr/c/$cy/$cx"), bos.toByteArray)
      }
      t(s, dir, "nation")
        .withColumn("c", (col("n_nationkey") * 19) % 512)
        .withColumn("r", (col("n_nationkey") * 23) % 384)
        .withColumn("rast", st.f("rs_frompath", lit(s"file:$base/cube.zarr")))
        .withColumn("pt", st.f("st_setsrid",
          st.point(lit(500000.0) + col("c") * 10.0 + 5.0,
            lit(4700000.0) - col("r") * 10.0 - 5.0), lit(32611)))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rast")).as("w"),
          st.f("rs_height", col("rast")).as("h"),
          st.f("rs_crs", col("rast")).as("crs"),
          st.f("rs_upperleftx", col("rast")).as("ulx"),
          st.f("rs_value", col("rast"), col("pt"), lit(1)).as("v1"))
    }),

    // Zarr V3 SHARDED out-db (sharding_indexed: many gzip inner chunks
    // per c/<y>/<x> object with a trailing crc32c'd offset index — the
    // object-store-optimized layout): windowed point samples fetch the
    // shard index + only the inner chunks under each probe.
    "rs16_zarr_sharded" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_zarrshard/${math.abs(dir.hashCode)}"
      new java.io.File(s"$base/cube.zarr/c").mkdirs()
      val W = 512; val H = 384
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/cube.zarr/zarr.json"),
        s"""{"zarr_format": 3, "node_type": "array", "shape": [$H, $W],
           | "data_type": "float64",
           | "chunk_grid": {"name": "regular",
           |   "configuration": {"chunk_shape": [128, 128]}},
           | "chunk_key_encoding": {"name": "default",
           |   "configuration": {"separator": "/"}},
           | "fill_value": "NaN",
           | "codecs": [{"name": "sharding_indexed", "configuration": {
           |   "chunk_shape": [64, 64],
           |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
           |     {"name": "gzip", "configuration": {"level": 6}}],
           |   "index_codecs": [{"name": "bytes"}, {"name": "crc32c"}],
           |   "index_location": "end"}}],
           | "attributes": {
           |   "transform": [600000.0, 10.0, 0.0, 4600000.0, 0.0, -10.0],
           |   "crs": "EPSG:32613"}}""".stripMargin.getBytes("UTF-8"))
      for (sy <- 0 until H / 128; sx <- 0 until W / 128) {
        val payload = new java.io.ByteArrayOutputStream()
        val entries = Array.fill(4)((0L, 0L))
        for (iy <- 0 until 2; ix <- 0 until 2) {
          val bb = java.nio.ByteBuffer.allocate(64 * 64 * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          for (r <- 0 until 64; c <- 0 until 64)
            bb.putDouble((((sy * 128 + iy * 64 + r) * 13 +
              (sx * 128 + ix * 64 + c) * 3) % 79).toDouble)
          val bos = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(bos)
          gz.write(bb.array()); gz.close()
          entries(iy * 2 + ix) = (payload.size().toLong, bos.size().toLong)
          payload.write(bos.toByteArray)
        }
        val idx = java.nio.ByteBuffer.allocate(4 * 16)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        entries.foreach { case (o, l) => idx.putLong(o).putLong(l) }
        val crc = new java.util.zip.CRC32C()
        crc.update(idx.array())
        val crcBytes = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(crc.getValue.toInt).array()
        new java.io.File(s"$base/cube.zarr/c/$sy").mkdirs()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/cube.zarr/c/$sy/$sx"),
          payload.toByteArray ++ idx.array() ++ crcBytes)
      }
      t(s, dir, "nation")
        .withColumn("c", (col("n_nationkey") * 29) % 512)
        .withColumn("r", (col("n_nationkey") * 37) % 384)
        .withColumn("rast", st.f("rs_frompath", lit(s"file:$base/cube.zarr")))
        .withColumn("pt", st.f("st_setsrid",
          st.point(lit(600000.0) + col("c") * 10.0 + 5.0,
            lit(4600000.0) - col("r") * 10.0 - 5.0), lit(32613)))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rast")).as("w"),
          st.f("rs_height", col("rast")).as("h"),
          st.f("rs_crs", col("rast")).as("crs"),
          st.f("rs_upperleftx", col("rast")).as("ulx"),
          st.f("rs_value", col("rast"), col("pt"), lit(1)).as("v1"))
    }),

    "rs10_outdb_zarr" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_zarr/${math.abs(dir.hashCode)}"
      val store = new java.io.File(s"$base/cube.zarr")
      store.mkdirs()
      val W = 512; val H = 384; val CW = 64; val CH = 64
      def wr(name: String, bytes: Array[Byte]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$base/cube.zarr/$name"), bytes)
      wr(".zarray",
        s"""{"zarr_format": 2, "shape": [$H, $W], "chunks": [$CH, $CW],
           | "dtype": "<f8", "compressor": {"id": "zlib", "level": 6},
           | "fill_value": "NaN", "order": "C", "filters": null}"""
          .stripMargin.getBytes("UTF-8"))
      wr(".zattrs",
        """{"transform": [400000.0, 10.0, 0.0, 4800000.0, 0.0, -10.0],
          | "crs": "EPSG:32612"}""".stripMargin.getBytes("UTF-8"))
      for (cy <- 0 until H / CH; cx <- 0 until W / CW) {
        val bb = java.nio.ByteBuffer.allocate(CW * CH * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        for (r <- 0 until CH; c <- 0 until CW)
          bb.putDouble((((cy * CH + r) * 3 + (cx * CW + c) * 5) % 97).toDouble)
        val d = new java.util.zip.Deflater(6)
        d.setInput(bb.array()); d.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        d.end()
        wr(s"$cy.$cx", out.toByteArray)
      }
      t(s, dir, "nation")
        .withColumn("c", (col("n_nationkey") * 19) % 512)
        .withColumn("r", (col("n_nationkey") * 23) % 384)
        .withColumn("c0", (col("n_nationkey") * 13) % 500)
        .withColumn("r0", (col("n_nationkey") * 31) % 370)
        .withColumn("rast", st.f("rs_frompath", lit(s"file:$base/cube.zarr")))
        .withColumn("pt", st.f("st_setsrid",
          st.point(lit(400000.0) + col("c") * 10.0 + 5.0,
            lit(4800000.0) - col("r") * 10.0 - 5.0), lit(32612)))
        .withColumn("zone", st.f("st_setsrid", st.makeEnvelope(
          lit(400000.0) + col("c0") * 10.0 + 1.0,
          lit(4800000.0) - (col("r0") + 6) * 10.0 + 1.0,
          lit(400000.0) + (col("c0") + 8) * 10.0 - 1.0,
          lit(4800000.0) - col("r0") * 10.0 - 1.0), lit(32612)))
        .withColumn("zs", st.f("rs_zonalstatsall", col("rast"), col("zone"), lit(1)))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rast")).as("w"),
          st.f("rs_height", col("rast")).as("h"),
          st.f("rs_crs", col("rast")).as("crs"),
          st.f("rs_upperleftx", col("rast")).as("ulx"),
          st.f("rs_value", col("rast"), col("pt"), lit(1)).as("v1"),
          col("zs.count").as("zcnt"), col("zs.sum").as("zsum"),
          col("zs.min").as("zmin"), col("zs.max").as("zmax"))
    }),

    // COG overview reads — out-db RS_Resample picks the coarsest
    // reduced-resolution IFD satisfying the target grid instead of
    // decoding full resolution (the GDAL overview selection behind the
    // reference's RS_Resample, rust/sedona-raster-gdal/src/register.rs).
    // A 40 m nearest downsample of the 10 m scene reads the factor-4
    // overview: overview pixel (r, c) IS full pixel (4r, 4c), so every
    // sampled value recomputes in plain SQL from the generating formula.
    // RasterWindowSpec counter-asserts the byte economics; this gate
    // proves the VALUES.
    "rs11_cog_overview" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_cog/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      val scenePath = s"$base/scene_cog.tif"
      val W = 512; val H = 384
      val b1 = Array.tabulate(W * H)(i => (((i / W) * 7 + (i % W) * 3) % 101).toDouble)
      val b2 = Array.tabulate(W * H)(i => (((i / W) * 5 + (i % W) * 11) % 89).toDouble)
      val scene = graft.functions.RasterModel.Raster("EPSG:32610",
        Array(500000.0, 10.0, 0.0, 4650000.0, 0.0, -10.0), W, H,
        Vector(
          graft.functions.RasterModel.Band(Double.NaN,
            graft.functions.RasterModel.packDoubles(b1)),
          graft.functions.RasterModel.Band(Double.NaN,
            graft.functions.RasterModel.packDoubles(b2))))
      java.nio.file.Files.write(java.nio.file.Paths.get(scenePath),
        graft.sources.GeoTiff.writeCog(scene, 64, 64, Seq(2, 4, 8), 8))
      t(s, dir, "nation")
        .withColumn("c", (col("n_nationkey") * 17) % 128)
        .withColumn("r", (col("n_nationkey") * 13) % 96)
        .withColumn("down", st.f("rs_resample",
          st.f("rs_frompath", lit(s"file:$scenePath")),
          lit(40.0), lit(-40.0), lit(true), lit("nearestneighbor")))
        .withColumn("pt", st.f("st_setsrid",
          st.point(lit(500000.0) + col("c") * 40.0 + 20.0,
            lit(4650000.0) - col("r") * 40.0 - 20.0), lit(32610)))
        .select(col("n_nationkey"),
          st.f("rs_width", col("down")).as("w"),
          st.f("rs_height", col("down")).as("h"),
          st.f("rs_scalex", col("down")).as("sx"),
          st.f("rs_upperleftx", col("down")).as("ulx"),
          st.f("rs_value", col("down"), col("pt"), lit(1)).as("v1"),
          st.f("rs_value", col("down"), col("pt"), lit(2)).as("v2"))
    }),

    // NTv2 grid-shift datum leg: a synthetic .gsb (dyadic linear shift
    // fields over a fictional coverage box, so other OSGB36 gates keep
    // their Helmert leg via the outside-coverage fallback) registered for
    // EPSG:4277; sample points sit ON grid nodes so the applied shift is
    // the node value exactly and the oracle recomputes it in plain SQL.
    // This is the machinery of PROJ's NADCON/NTv2/OSTN15 leg (reference:
    // c/sedona-proj/src/transform.rs) — real national grids drop in via
    // CrsTransform.registerGridShift(crs, path).
    // Winding-aware (oriented) spherical polygons: a clockwise-authored
    // cap ring denotes its COMPLEMENT — an interior larger than a
    // hemisphere, which the smaller-side contract cannot express. The
    // oracle restates containment as the haversine central angle vs the
    // cap radius (every lattice point sits >= 0.098 deg away from the
    // boundary, far beyond the inscribed-60-gon sag of ~0.027 deg and
    // cross-engine trig noise).
    "sp21_oriented_cap" -> ((s, dir) => {
      val cw = orientedCapWkt(clockwise = true)
      val ccw = orientedCapWkt(clockwise = false)
      s.range(2000).select(col("id"),
        ((col("id") * 19 % 720).cast("double") / 2 - 180).as("lon"),
        ((col("id") * 23 % 340).cast("double") / 2 - 85).as("lat"))
        .select(col("id"),
          expr(s"st_containssphereoriented(st_geomfromtext('$cw'), " +
            "st_point(lon, lat))").as("in_complement"),
          expr(s"st_containssphereoriented(st_geomfromtext('$ccw'), " +
            "st_point(lon, lat))").as("in_cap"))
    }),

    // oriented polygon-POLYGON relate: a geodesic quad (CCW) and its CW
    // complement against 2°x2° lattice boxes classified fully-inside /
    // fully-outside by INTEGER chart intervals with a 3° margin that
    // swallows the geodesic edge bulge (top edge of the quad bulges to
    // ~55.9°; boxes in the margin band are excluded on both engines by
    // the same integer filter), so the oracle needs no spherical math.
    "sp22_oriented_relate" -> ((s, dir) => {
      val quad = "POLYGON ((10 30, 40 30, 40 55, 10 55, 10 30))"
      val comp = "POLYGON ((10 30, 10 55, 40 55, 40 30, 10 30))"
      t(s, dir, "part").filter(col("p_partkey") % 13 === 0)
        .select(col("p_partkey").cast("long").as("box_id"),
          (col("p_partkey") * 7 % 69 - 12).cast("long").as("lon0"),
          (col("p_partkey") * 11 % 67 - 5).cast("long").as("lat0"))
        .withColumn("cls",
          when(col("lon0") >= 13 && col("lon0") + 2 <= 37 &&
            col("lat0") >= 33 && col("lat0") + 2 <= 52, lit("in"))
          .when(col("lon0") + 2 <= 7 || col("lon0") >= 43 ||
            col("lat0") + 2 <= 27 || col("lat0") >= 58, lit("out"))
          .otherwise(lit("skip")))
        .filter(col("cls") =!= "skip")
        .withColumn("box", expr(
          "st_geomfromtext(concat('POLYGON ((', lon0, ' ', lat0, ', ', " +
            "lon0+2, ' ', lat0, ', ', lon0+2, ' ', lat0+2, ', ', " +
            "lon0, ' ', lat0+2, ', ', lon0, ' ', lat0, '))'))"))
        .select(col("box_id"), col("cls"),
          expr(s"st_containssphereoriented(st_geomfromtext('$quad'), box)")
            .as("c_quad"),
          expr(s"st_intersectssphereoriented(st_geomfromtext('$quad'), box)")
            .as("i_quad"),
          expr(s"st_containssphereoriented(st_geomfromtext('$comp'), box)")
            .as("c_comp"),
          expr(s"st_intersectssphereoriented(st_geomfromtext('$comp'), box)")
            .as("i_comp"))
    }),

    // oriented boolean OVERLAY: a CCW quad intersected/unioned with a CW
    // (complement) quad — real arc-split + stitch construction, then
    // membership of margin-filtered lattice points in the CONSTRUCTED
    // geometry; the result's boundary is a subset of the inputs' edges
    // (plus their crossings), so the same 3° integer-chart margins that
    // swallow geodesic bulge make the oracle pure interval logic
    "sp23_oriented_overlay" -> ((s, dir) => {
      val q1 = "POLYGON ((10 30, 40 30, 40 55, 10 55, 10 30))"
      val q2c = "POLYGON ((20 20, 20 45, 50 45, 50 20, 20 20))" // CW = complement
      val interE = s"st_intersectionsphereoriented(" +
        s"st_geomfromtext('$q1'), st_geomfromtext('$q2c'))"
      val uniE = s"st_unionsphereoriented(" +
        s"st_geomfromtext('$q1'), st_geomfromtext('$q2c'))"
      t(s, dir, "part").filter(col("p_partkey") % 11 === 0)
        .select(col("p_partkey").cast("long").as("pt_id"),
          (col("p_partkey") * 7 % 69 - 10).cast("long").as("lon"),
          (col("p_partkey") * 11 % 67 - 4).cast("long").as("lat"))
        .withColumn("c1",
          when(col("lon") >= 13 && col("lon") <= 37 &&
            col("lat") >= 33 && col("lat") <= 52, lit("in"))
          .when(col("lon") <= 7 || col("lon") >= 43 ||
            col("lat") <= 27 || col("lat") >= 58, lit("out"))
          .otherwise(lit("skip")))
        .withColumn("c2",
          when(col("lon") >= 23 && col("lon") <= 47 &&
            col("lat") >= 23 && col("lat") <= 42, lit("in"))
          .when(col("lon") <= 17 || col("lon") >= 53 ||
            col("lat") <= 17 || col("lat") >= 48, lit("out"))
          .otherwise(lit("skip")))
        .filter(col("c1") =!= "skip" && col("c2") =!= "skip")
        .select(col("pt_id"), col("c1"), col("c2"),
          expr(s"st_containssphereoriented($interE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("i_in"),
          expr(s"st_containssphereoriented($uniE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("u_in"))
    }),

    // MULTI-COMPONENT oriented overlay: a holed frame crossed by a strip
    // intersects into TWO disjoint pieces (the stitched rings must group
    // into a MultiPolygon — the de Morgan/assembly machinery) and unions
    // into a single bridged region. Same margin-filtered integer-chart
    // oracle discipline as sp22/sp23.
    "sp24_oriented_multicomponent" -> ((s, dir) => {
      val frame = "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), " +
        "(10 10, 10 30, 30 30, 30 10, 10 10))"
      val strip = "POLYGON ((15 -10, 25 -10, 25 50, 15 50, 15 -10))"
      val interE = s"st_intersectionsphereoriented(" +
        s"st_geomfromtext('$frame'), st_geomfromtext('$strip'))"
      val uniE = s"st_unionsphereoriented(" +
        s"st_geomfromtext('$frame'), st_geomfromtext('$strip'))"
      t(s, dir, "part").filter(col("p_partkey") % 7 === 3)
        .select(col("p_partkey").cast("long").as("pt_id"),
          (col("p_partkey") * 13 % 61 - 8).cast("long").as("lon"),
          (col("p_partkey") * 17 % 67 - 12).cast("long").as("lat"))
        .withColumn("cf",
          when(col("lon") >= 3 && col("lon") <= 37 &&
            col("lat") >= 3 && col("lat") <= 37 &&
            (col("lon") <= 7 || col("lon") >= 33 ||
              col("lat") <= 7 || col("lat") >= 33), lit("in"))
          .when(col("lon") <= -3 || col("lon") >= 43 ||
            col("lat") <= -3 || col("lat") >= 43, lit("out"))
          .when(col("lon") >= 13 && col("lon") <= 27 &&
            col("lat") >= 13 && col("lat") <= 27, lit("out"))
          .otherwise(lit("skip")))
        .withColumn("cs",
          when(col("lon") >= 18 && col("lon") <= 22 &&
            col("lat") >= -7 && col("lat") <= 47, lit("in"))
          .when(col("lon") <= 12 || col("lon") >= 28 ||
            col("lat") <= -13 || col("lat") >= 53, lit("out"))
          .otherwise(lit("skip")))
        .filter(col("cf") =!= "skip" && col("cs") =!= "skip")
        .select(col("pt_id"), col("cf"), col("cs"),
          expr(s"st_containssphereoriented($interE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("i_in"),
          expr(s"st_containssphereoriented($uniE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("u_in"))
    }),

    // Oriented boolean DIFFERENCE, both directions over the sp24
    // frame×strip fixture: frame∖strip (simple B — complement is one
    // reversed ring) and strip∖frame (holed B — complement is the
    // de Morgan MultiPolygon of reversed rings). Same margin-filtered
    // integer-chart oracle discipline as sp22-sp24; the dense lattice
    // (full part table, multipliers chosen so every class combo has
    // rows at sf0.001) keeps all four membership combinations gated.
    "sp25_oriented_difference" -> ((s, dir) => {
      val frame = "POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), " +
        "(10 10, 10 30, 30 30, 30 10, 10 10))"
      val strip = "POLYGON ((15 -10, 25 -10, 25 50, 15 50, 15 -10))"
      val d1E = s"st_differencesphereoriented(" +
        s"st_geomfromtext('$frame'), st_geomfromtext('$strip'))"
      val d2E = s"st_differencesphereoriented(" +
        s"st_geomfromtext('$strip'), st_geomfromtext('$frame'))"
      t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("pt_id"),
          (col("p_partkey") * 7 % 61 - 8).cast("long").as("lon"),
          (col("p_partkey") * 11 % 67 - 12).cast("long").as("lat"))
        .withColumn("cf",
          when(col("lon") >= 3 && col("lon") <= 37 &&
            col("lat") >= 3 && col("lat") <= 37 &&
            (col("lon") <= 7 || col("lon") >= 33 ||
              col("lat") <= 7 || col("lat") >= 33), lit("in"))
          .when(col("lon") <= -3 || col("lon") >= 43 ||
            col("lat") <= -3 || col("lat") >= 43, lit("out"))
          .when(col("lon") >= 13 && col("lon") <= 27 &&
            col("lat") >= 13 && col("lat") <= 27, lit("out"))
          .otherwise(lit("skip")))
        .withColumn("cs",
          when(col("lon") >= 18 && col("lon") <= 22 &&
            col("lat") >= -7 && col("lat") <= 47, lit("in"))
          .when(col("lon") <= 12 || col("lon") >= 28 ||
            col("lat") <= -13 || col("lat") >= 53, lit("out"))
          .otherwise(lit("skip")))
        .filter(col("cf") =!= "skip" && col("cs") =!= "skip")
        .select(col("pt_id"), col("cf"), col("cs"),
          expr(s"st_containssphereoriented($d1E, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("d1_in"),
          expr(s"st_containssphereoriented($d2E, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("d2_in"))
    }),

    // TANGENT-CONTACT oriented overlay: B shares part of A's equator
    // edge (coincident arc, same direction, T-contact vertices on A's
    // edge) and sticks out past A's right meridian (one regular
    // crossing) — the degenerate-contact contract real coastline/admin
    // data hits. Intersection/union/difference memberships of a
    // margin-filtered lattice against pure boolean interval logic.
    // All contact is coordinate-exact (equator + meridian edges).
    "sp26_oriented_tangent" -> ((s, dir) => {
      val qa = "POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0))"
      val qb = "POLYGON ((10 0, 50 0, 50 15, 10 15, 10 0))"
      val iE = s"st_intersectionsphereoriented(" +
        s"st_geomfromtext('$qa'), st_geomfromtext('$qb'))"
      val uE = s"st_unionsphereoriented(" +
        s"st_geomfromtext('$qa'), st_geomfromtext('$qb'))"
      val dE = s"st_differencesphereoriented(" +
        s"st_geomfromtext('$qa'), st_geomfromtext('$qb'))"
      t(s, dir, "part")
        .select(col("p_partkey").cast("long").as("pt_id"),
          (col("p_partkey") * 7 % 71 - 8).cast("long").as("lon"),
          (col("p_partkey") * 11 % 67 - 12).cast("long").as("lat"))
        .withColumn("ca",
          when(col("lon") >= 3 && col("lon") <= 37 &&
            col("lat") >= 3 && col("lat") <= 27, lit("in"))
          .when(col("lon") <= -3 || col("lon") >= 43 ||
            col("lat") <= -3 || col("lat") >= 35, lit("out"))
          .otherwise(lit("skip")))
        .withColumn("cb",
          when(col("lon") >= 13 && col("lon") <= 47 &&
            col("lat") >= 3 && col("lat") <= 12, lit("in"))
          .when(col("lon") <= 7 || col("lon") >= 53 ||
            col("lat") <= -3 || col("lat") >= 19, lit("out"))
          .otherwise(lit("skip")))
        .filter(col("ca") =!= "skip" && col("cb") =!= "skip")
        .select(col("pt_id"), col("ca"), col("cb"),
          expr(s"st_containssphereoriented($iE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("i_in"),
          expr(s"st_containssphereoriented($uE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("u_in"),
          expr(s"st_containssphereoriented($dE, " +
            "st_point(cast(lon as double), cast(lat as double)))").as("d_in"))
    }),

    "sp20_ntv2_gridshift" -> ((s, dir) => {
      val base = s"/tmp/graft_ntv2_gate/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      val gsb = s"$base/test.gsb"
      val nR = 21; val nC = 21
      val latS = Array.tabulate(nR * nC)(i => ((i / nC) * 2 + i % nC) * 0.125f + 1.0f)
      val lonS = Array.tabulate(nR * nC)(i => ((i / nC) + (i % nC) * 3) * 0.0625f - 2.0f)
      java.nio.file.Files.write(java.nio.file.Paths.get(gsb),
        graft.sources.Ntv2.write(graft.sources.Ntv2.Grid(Vector(
          graft.sources.Ntv2.SubGrid("GATE", "NONE", 36000.0, 72000.0,
            -72000.0, -36000.0, 1800.0, 1800.0, nR, nC, latS, lonS)))))
      graft.functions.CrsTransform.registerGridShift("EPSG:4277", gsb)
      t(s, dir, "nation")
        .withColumn("r", col("n_nationkey") % 21)
        .withColumn("c", (col("n_nationkey") * 5) % 21)
        .withColumn("lat", lit(10.0) + col("r") * 0.5)
        .withColumn("lon", lit(20.0) - col("c") * 0.5)
        .withColumn("w", st.transform(st.point(col("lon"), col("lat")),
          lit("EPSG:4277"), lit("EPSG:4326")))
        .select(col("n_nationkey"),
          round(st.x(col("w")), 7).as("wlon"),
          round(st.y(col("w")), 7).as("wlat"))
    }),

    // CDF-5 out-db: per-nation netCDF 64-bit-data files (version byte 5,
    // every NON_NEG header field widened to 64 bits — the classic-family
    // format for >4 GB variables), read through the same rs_frompath
    // loader as CDF-1/2.
    "rs15_netcdf5" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_netcdf5/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      t(s, dir, "nation").select(col("n_nationkey").cast("int"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val n = row.getInt(0)
            val vals = Array.tabulate(12)(i => ((n * 50 + i * 3) % 83).toDouble)
            val r = graft.functions.RasterModel.Raster("EPSG:4326",
              Array((n % 8) * 8.0, 2.0, 0.0, 40.0 - (n % 4) * 6.0, 0.0, -2.0),
              4, 3, Vector(graft.functions.RasterModel.Band(Double.NaN,
                graft.functions.RasterModel.packDoubles(vals))))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$base/tile_$n.nc"),
              graft.sources.NetCdf.write(r, version = 5))
          }
        }
      t(s, dir, "nation")
        .withColumn("path", concat(lit(s"file:$base/tile_"),
          col("n_nationkey"), lit(".nc")))
        .withColumn("r", st.f("rs_frompath", col("path")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("r")).as("w"),
          st.f("rs_height", col("r")).as("h"),
          st.f("rs_crs", col("r")).as("crs"),
          st.f("rs_upperleftx", col("r")).as("ulx"),
          st.f("rs_value", col("r"), lit(1), lit(2), lit(1)).as("v21"),
          st.f("rs_bandavg", col("r"), lit(1)).as("bavg"),
          st.f("rs_bandmax", col("r"), lit(1)).as("bmax"))
    }),

    // BigTIFF out-db: per-nation TILED BigTIFF files (magic 43, LONG8
    // chunk tables — the format GDAL switches to near 4 GB, so >4 GB
    // COG mosaics stay writable AND readable here), read back through
    // the same rs_frompath fetch parser as any classic GeoTIFF; the
    // 16x16 tiling over a 40x24 image exercises ragged-edge tiles and
    // a pixel probe across a tile boundary.
    "rs13_bigtiff_outdb" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_bigtiff/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      t(s, dir, "nation").select(col("n_nationkey").cast("int"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val n = row.getInt(0)
            val w = 40; val h = 24
            val vals = Array.tabulate(w * h)(i => ((n * 100 + i) % 97).toDouble)
            val r = graft.functions.RasterModel.Raster("EPSG:32610",
              Array((n % 10) * 400.0, 10.0, 0.0, 50000.0 - (n % 5) * 240.0,
                0.0, -10.0),
              w, h, Vector(graft.functions.RasterModel.Band(Double.NaN,
                graft.functions.RasterModel.packDoubles(vals))))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$base/tile_$n.tif"),
              graft.sources.GeoTiff.writeTiled(r, 16, 16, 8, bigTiff = true))
          }
        }
      t(s, dir, "nation")
        .withColumn("path", concat(lit(s"file:$base/tile_"),
          col("n_nationkey"), lit(".tif")))
        .withColumn("r", st.f("rs_frompath", col("path")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("r")).as("w"),
          st.f("rs_height", col("r")).as("h"),
          st.f("rs_crs", col("r")).as("crs"),
          st.f("rs_upperleftx", col("r")).as("ulx"),
          st.f("rs_value", col("r"), lit(1), lit(17), lit(9)).as("v179"),
          st.f("rs_bandavg", col("r"), lit(1)).as("bavg"),
          st.f("rs_bandmax", col("r"), lit(1)).as("bmax"))
    }),

    // JPEG 2000 out-db: per-nation GeoJP2 tiles written through
    // sources/Jp2Raster on the executors, then rs_frompath header-only
    // metadata + windowed pixel access — rs_value routes through the
    // loader's loadWindow, which entropy-decodes ONLY the code-blocks
    // in the sample's wavelet pyramid (Jpeg2000.decodeWindow); bandavg
    // forces the full decode. Same contract shape as rs13's BigTIFF
    // out-db gate, over the lossless wavelet codec instead
    "rs19_jp2_outdb" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_jp2/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      t(s, dir, "nation").select(col("n_nationkey").cast("int"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val n = row.getInt(0)
            val w = 40; val h = 24
            val vals = Array.tabulate(w * h)(i => ((n * 100 + i) % 89).toDouble)
            val r = graft.functions.RasterModel.Raster("EPSG:32610",
              Array((n % 10) * 400.0, 10.0, 0.0, 50000.0 - (n % 5) * 240.0,
                0.0, -10.0),
              w, h, Vector(graft.functions.RasterModel.Band(Double.NaN,
                graft.functions.RasterModel.packDoubles(vals),
                ptype = "UNSIGNED_8BITS")))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$base/tile_$n.jp2"),
              graft.sources.Jp2Raster.write(r, levels = 2))
          }
        }
      t(s, dir, "nation")
        .withColumn("path", concat(lit(s"file:$base/tile_"),
          col("n_nationkey"), lit(".jp2")))
        .withColumn("r", st.f("rs_frompath", col("path")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("r")).as("w"),
          st.f("rs_height", col("r")).as("h"),
          st.f("rs_crs", col("r")).as("crs"),
          st.f("rs_upperleftx", col("r")).as("ulx"),
          st.f("rs_value", col("r"), lit(1), lit(17), lit(9)).as("v179"),
          st.f("rs_bandavg", col("r"), lit(1)).as("bavg"),
          st.f("rs_bandmax", col("r"), lit(1)).as("bmax"))
    }),

    // JPEG-compressed GeoTIFF (TIFF compression 7, the layout aerial
    // imagery and most lossy COGs ship in; the reference reaches it
    // through GDAL's libjpeg path, here the JDK ImageIO codec): 8-bit
    // constant bands survive a q=1.0 whole-band JPEG stream exactly, so
    // bandmin == bandmax == the source value proves every pixel decoded
    // right, while octet_length shows the stream really is entropy-coded
    "rs17_jpeg_geotiff" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("val", (col("n_nationkey") * 9 % 200 + 10).cast("double"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(64), lit(48), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), array_repeat(col("val"), 64 * 48)),
            lit("EPSG:3857")),
          lit("UNSIGNED_8BITS")))
        .withColumn("g", st.f("rs_asgeotiff", col("r"), lit("jpeg"), lit(1.0)))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_upperleftx", col("rt")).as("ulx_out"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandmin", col("rt"), lit(1)).as("vmin"),
          st.f("rs_bandmax", col("rt"), lit(1)).as("vmax"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          (octet_length(col("g")) < lit(64 * 48)).as("compressed"))
    }),

    // JPEG 2000 lossless (reversible 5/3, sources/Jpeg2000 — the format
    // the reference reads via GDAL's openjpeg driver, register.rs:23-34):
    // per-nation 40x28 UNSIGNED_16BITS rasters with VARIED formula
    // pixels encode to a GeoJP2-tagged JP2 and decode back bit-exact —
    // min/max/avg over every decoded pixel equal the formula's, CRS and
    // geotransform survive the GeoJP2 uuid box, and octet_length proves
    // the stream is genuinely wavelet-entropy-coded, not stored
    "rs18_jpeg2000_roundtrip" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 40*28 - 1), i -> " +
            "CAST((n_nationkey*7919 + (i % 40)*31 + CAST(i / 40 AS INT)*53) " +
            "% 60000 AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(40), lit(28), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals")),
            lit("EPSG:32610")),
          lit("UNSIGNED_16BITS")))
        .withColumn("g", st.f("rs_asjpeg2000", col("r"), lit(3)))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_upperleftx", col("rt")).as("ulx_out"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          st.f("rs_bandmin", col("rt"), lit(1)).as("vmin"),
          st.f("rs_bandmax", col("rt"), lit(1)).as("vmax"),
          st.f("rs_bandavg", col("rt"), lit(1)).as("vavg"),
          (octet_length(col("g")) < lit(40 * 28 * 2)).as("compressed"))
    }),

    // MULTI-TILE JPEG 2000 (the real Sentinel-2 granule layout: a tile
    // grid of independently-coded codestreams + a TLM byte directory in
    // the main header): per-nation 96x64 UNSIGNED_16BITS rasters with
    // varied formula pixels encode through the 4-arg rs_asjpeg2000 into
    // a 3x2 grid of 32x32 tiles and decode back bit-exact — min/max/avg
    // over every pixel replay the formula, a probed pixel sits ON a tile
    // seam (col 33, row 33 crosses both seams), and octet_length proves
    // genuine entropy coding
    "rs20_jp2_multitile" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 96*64 - 1), i -> " +
            "CAST((n_nationkey*7919 + (i % 96)*31 + CAST(i / 96 AS INT)*53) " +
            "% 60000 AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(96), lit(64), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals")),
            lit("EPSG:32610")),
          lit("UNSIGNED_16BITS")))
        .withColumn("g", st.f("rs_asjpeg2000", col("r"), lit(3), lit(32), lit(32)))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_upperleftx", col("rt")).as("ulx_out"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          st.f("rs_bandmin", col("rt"), lit(1)).as("vmin"),
          st.f("rs_bandmax", col("rt"), lit(1)).as("vmax"),
          st.f("rs_bandavg", col("rt"), lit(1)).as("vavg"),
          st.f("rs_value", col("rt"), lit(1), lit(33), lit(33)).as("seam"),
          (octet_length(col("g")) < lit(96 * 64 * 2)).as("compressed"))
    }),

    // multi TILE-PART JP2 (one part per resolution, TLM ST=2, RPCL — the
    // packaging real Sentinel-2-style encoders emit so overview readers
    // fetch only each tile's leading parts): same formula-replay
    // contract as rs20; the per-resolution split must not change one
    // output sample, and the stream still roundtrips via the JP2 sniff
    "rs22_jp2_tileparts" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 96*64 - 1), i -> " +
            "CAST((n_nationkey*6131 + (i % 96)*37 + CAST(i / 96 AS INT)*59) " +
            "% 60000 AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(96), lit(64), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals")),
            lit("EPSG:32610")),
          lit("UNSIGNED_16BITS")))
        .withColumn("g", st.f("rs_asjpeg2000", col("r"), lit(3), lit(32),
          lit(32), lit(2), lit(1)))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_upperleftx", col("rt")).as("ulx_out"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          st.f("rs_bandmin", col("rt"), lit(1)).as("vmin"),
          st.f("rs_bandmax", col("rt"), lit(1)).as("vmax"),
          st.f("rs_bandavg", col("rt"), lit(1)).as("vavg"),
          st.f("rs_value", col("rt"), lit(1), lit(33), lit(33)).as("seam"),
          (octet_length(col("g")) < lit(96 * 64 * 2)).as("compressed"))
    }),

    // LOSSY JPEG 2000 (irreversible 9/7 + Annex-E scalar quantization —
    // the quicklook/lossy-archive path): per-nation 16-bit rasters
    // encode at qstep=8 and decode back WITHIN TOLERANCE. The tolerance
    // claims are computed IN SPARK against the original raster on the
    // same row (band avg within 4, min/max/probed pixels within 8x the
    // step — the spec-measured reconstruction bound), so a broken
    // transform or quantizer flips a boolean and hash-mismatches; the
    // lossy stream must also undercut the LOSSLESS encoding of the same
    // raster, proving the step actually bought rate
    // COC per-component overrides + scalar-DERIVED quantization (QCD
    // style 1) through the SQL profile writer: one stream carries a
    // COC (code-block + precinct override for component 0) AND the
    // one-word derived QCD — the openjpeg-style signalling surface the
    // plain lossy writer doesn't emit. Tolerances follow rs21's; the
    // derived top band quantizes ~2^(levels-1) coarser than qstep.
    "rs23_jp2_coc_derived" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 64*48 - 1), i -> " +
            "CAST((n_nationkey*6553 + (i % 64)*29 + CAST(i / 64 AS INT)*47 " +
            "+ (i * 131071) % 83) % 60000 AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(64), lit(48), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals")),
            lit("EPSG:32610")),
          lit("UNSIGNED_16BITS")))
        .withColumn("g", st.f("rs_asjpeg2000_profile", col("r"), lit(3),
          lit(6.0), lit(1), lit("0:cb=4;0:pp=5x4")))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          (abs(st.f("rs_bandavg", col("rt"), lit(1)) -
            st.f("rs_bandavg", col("r"), lit(1))) <= lit(12.0)).as("avg_ok"),
          (abs(st.f("rs_value", col("rt"), lit(1), lit(10), lit(7)) -
            st.f("rs_value", col("r"), lit(1), lit(10), lit(7))) <= lit(200.0))
            .as("px_ok"),
          (octet_length(col("g")) <
            octet_length(st.f("rs_asjpeg2000_profile", col("r"), lit(3),
              lit(0.0), lit(0), lit("0:cb=4;0:pp=5x4"))))
            .as("smaller_than_lossless_coc"))
    }),

    // MIXED per-component transforms + levels (COC SPcoc bytes 0/4): one
    // stream carries a lossy 9/7 band AND a reversible 5/3 "mask" band
    // (the Sentinel-2 shape: imagery lossy, classification exact). The
    // reversible band must decode BIT-EXACT (avg/min/max/probed-pixel
    // equality), the 9/7 band within the quantizer bound, and the mask
    // band rides a 2-level pyramid under the COD's 3. Reference reaches
    // this surface via GDAL openjpeg (sedona-raster-gdal/register.rs).
    "rs24_jp2_mixed" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 64*48*2 - 1), i -> CAST(CASE " +
            "WHEN i < 64*48 THEN (n_nationkey*6151 + (i % 64)*37 + " +
            "CAST(i / 64 AS INT)*59 + (i * 131071) % 97) % 60000 " +
            "ELSE (n_nationkey + i * 2654435761) % 7 END AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(64), lit(48), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals"), lit(2)),
            lit("EPSG:32610")),
          lit("UNSIGNED_16BITS")))
        .withColumn("g", st.f("rs_asjpeg2000_profile", col("r"), lit(3),
          lit(4.0), lit(0), lit("1:tr=1;1:nl=2")))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_numbands", col("rt")).as("nb"),
          st.f("rs_crs", col("rt")).as("crs"),
          (abs(st.f("rs_bandavg", col("rt"), lit(1)) -
            st.f("rs_bandavg", col("r"), lit(1))) <= lit(8.0)).as("lossy_avg_ok"),
          (abs(st.f("rs_value", col("rt"), lit(1), lit(10), lit(7)) -
            st.f("rs_value", col("r"), lit(1), lit(10), lit(7))) <= lit(128.0))
            .as("lossy_px_ok"),
          (st.f("rs_bandavg", col("rt"), lit(2)) ===
            st.f("rs_bandavg", col("r"), lit(2))).as("mask_avg_exact"),
          (st.f("rs_bandmin", col("rt"), lit(2)) ===
            st.f("rs_bandmin", col("r"), lit(2)) &&
           st.f("rs_bandmax", col("rt"), lit(2)) ===
            st.f("rs_bandmax", col("r"), lit(2))).as("mask_range_exact"),
          (st.f("rs_value", col("rt"), lit(2), lit(33), lit(21)) ===
            st.f("rs_value", col("r"), lit(2), lit(33), lit(21))).as("mask_px_exact"))
    }),

    // POC + PPM/PPT + RGN in one stream (the r17 refusal-surface
    // retirement): a lossless 16-bit raster encodes with a two-segment
    // POC (LRCP thumbnail resolutions first, RPCL tail), PPM packed
    // packet headers, and a maxshift ROI on band 1 — and must decode
    // BIT-EXACT (formula-replay min/max/avg/probed pixel in the oracle).
    // The same raster through the PPT variant must decode identically
    // (packaging independence, checked in Spark on the same row).
    // Reference reaches POC/PPM/RGN via GDAL openjpeg
    // (rust/sedona-raster-gdal/src/register.rs:23-34).
    "rs25_jp2_poc_ppm_roi" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 64*48 - 1), i -> " +
            "CAST((n_nationkey*6599 + (i % 64)*41 + CAST(i / 64 AS INT)*61 " +
            "+ (i * 131071) % 101) % 251 AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(64), lit(48), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals")),
            lit("EPSG:32610")),
          // 8-bit: maxshift doubles the magnitude budget (Mb+SPrgn), so
          // the ROI envelope is <= 12-bit components (16-bit refuses)
          lit("UNSIGNED_8BITS")))
        .withColumn("g", st.f("rs_asjpeg2000_profile", col("r"), lit(3),
          lit(0.0), lit(0), lit("*:ph=1;*:poc=2/0/2;0:roi=8,6,24,18")))
        .withColumn("g2", st.f("rs_asjpeg2000_profile", col("r"), lit(3),
          lit(0.0), lit(0), lit("*:ph=2;0:roi=8,6,24,18")))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .withColumn("rt2", st.f("rs_fromgdalraster", col("g2")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_upperleftx", col("rt")).as("ulx_out"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          st.f("rs_bandmin", col("rt"), lit(1)).as("vmin"),
          st.f("rs_bandmax", col("rt"), lit(1)).as("vmax"),
          st.f("rs_bandavg", col("rt"), lit(1)).as("vavg"),
          st.f("rs_value", col("rt"), lit(1), lit(33), lit(21)).as("roi_px"),
          (st.f("rs_bandavg", col("rt2"), lit(1)) ===
            st.f("rs_bandavg", col("rt"), lit(1)) &&
           st.f("rs_value", col("rt2"), lit(1), lit(33), lit(21)) ===
            st.f("rs_value", col("rt"), lit(1), lit(33), lit(21)))
            .as("ppt_identical"))
    }),

    // SIZ component SUBSAMPLING as a first-class raster (the 4:2:0 /
    // Sentinel-2 chroma shape): band 2 is encoded on a ceil(65/2) x
    // ceil(47/2) plane (top-left decimation) and presented back on the
    // canvas grid by sample replication — the decoded value at ANY
    // (x, y) is the original at (x//2*2, y//2*2), which the oracle
    // replays directly (odd-coordinate probes witness that decimation
    // actually happened). Band 1 stays full-res and must be bit-exact.
    // Reference reaches subsampled JP2 via GDAL openjpeg
    // (rust/sedona-raster-gdal/src/register.rs:23-34).
    "rs26_jp2_subsampled" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("vals", expr(
          "transform(sequence(0, 65*47*2 - 1), i -> CAST(CASE " +
            "WHEN i < 65*47 THEN (n_nationkey*6151 + (i % 65)*37 + " +
            "CAST(i / 65 AS INT)*59 + (i * 131071) % 97) % 251 " +
            "ELSE (n_nationkey*7919 + ((i - 65*47) % 65)*43 + " +
            "CAST((i - 65*47) / 65 AS INT)*67 + " +
            "(((i - 65*47) % 65) * CAST((i - 65*47) / 65 AS INT)) % 29) % 251 " +
            "END AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(65), lit(47), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals"), lit(2)),
            lit("EPSG:32610")),
          lit("UNSIGNED_8BITS")))
        .withColumn("g", st.f("rs_asjpeg2000_profile", col("r"), lit(3),
          lit(0.0), lit(0), lit("1:ss=2x2")))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_numbands", col("rt")).as("nb"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(2)).as("ptype"),
          st.f("rs_bandmin", col("rt"), lit(1)).as("vmin1"),
          st.f("rs_bandmax", col("rt"), lit(1)).as("vmax1"),
          st.f("rs_bandavg", col("rt"), lit(1)).as("vavg1"),
          st.f("rs_bandavg", col("rt"), lit(2)).as("vavg2"),
          st.f("rs_value", col("rt"), lit(2), lit(33), lit(21)).as("chroma_px"),
          st.f("rs_value", col("rt"), lit(2), lit(64), lit(46))
            .as("chroma_edge_px"))
    }),

    "rs21_jp2_lossy" -> ((s, dir) => {
      t(s, dir, "nation")
        // ramp + deterministic pseudo-noise: pure ramps compress to
        // nothing losslessly (the 5/3 annihilates them), which would
        // falsify the rate claim below on content no archive resembles
        .withColumn("vals", expr(
          "transform(sequence(0, 64*48 - 1), i -> " +
            "CAST((n_nationkey*7919 + (i % 64)*31 + CAST(i / 64 AS INT)*53 " +
            "+ (i * 131071) % 89) % 60000 AS DOUBLE))"))
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("r", st.f("rs_setbandpixeltype",
          st.f("rs_setcrs",
            st.f("rs_makeraster", lit(64), lit(48), col("ulx"), lit(100.0),
              lit(2.0), lit(-2.0), col("vals")),
            lit("EPSG:32610")),
          lit("UNSIGNED_16BITS")))
        .withColumn("g", st.f("rs_asjpeg2000_lossy", col("r"), lit(3), lit(8.0)))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandpixeltype", col("rt"), lit(1)).as("ptype"),
          (abs(st.f("rs_bandavg", col("rt"), lit(1)) -
            st.f("rs_bandavg", col("r"), lit(1))) <= lit(4.0)).as("avg_ok"),
          (abs(st.f("rs_bandmin", col("rt"), lit(1)) -
            st.f("rs_bandmin", col("r"), lit(1))) <= lit(64.0)).as("min_ok"),
          (abs(st.f("rs_bandmax", col("rt"), lit(1)) -
            st.f("rs_bandmax", col("r"), lit(1))) <= lit(64.0)).as("max_ok"),
          (abs(st.f("rs_value", col("rt"), lit(1), lit(10), lit(7)) -
            st.f("rs_value", col("r"), lit(1), lit(10), lit(7))) <= lit(64.0))
            .as("px_ok"),
          (octet_length(col("g")) <
            octet_length(st.f("rs_asjpeg2000", col("r"), lit(3))))
            .as("smaller_than_lossless"))
    }),

    // netCDF classic out-db: per-nation CDF-2 tiles written through
    // sources/NetCdf (the reference reads netCDF via its GDAL raster
    // side, rust/sedona-raster-gdal/src/register.rs; here the classic
    // format is decoded natively), then rs_frompath header metadata +
    // windowed/ensureloaded pixel access like any other registry format.
    "rs12_netcdf_roundtrip" -> ((s, dir) => {
      val base = s"/tmp/graft_outdb_netcdf/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      t(s, dir, "nation").select(col("n_nationkey").cast("int"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { row =>
            val n = row.getInt(0)
            val vals = Array.tabulate(12)(i => ((n * 100 + i) % 89).toDouble)
            val r = graft.functions.RasterModel.Raster("EPSG:4326",
              Array((n % 10) * 8.0, 2.0, 0.0, 50.0 - (n % 5) * 6.0, 0.0, -2.0),
              4, 3, Vector(graft.functions.RasterModel.Band(Double.NaN,
                graft.functions.RasterModel.packDoubles(vals))))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$base/tile_$n.nc"),
              graft.sources.NetCdf.write(r))
          }
        }
      t(s, dir, "nation")
        .withColumn("path", concat(lit(s"file:$base/tile_"),
          col("n_nationkey"), lit(".nc")))
        .withColumn("r", st.f("rs_frompath", col("path")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("r")).as("w"),
          st.f("rs_height", col("r")).as("h"),
          st.f("rs_crs", col("r")).as("crs"),
          st.f("rs_upperleftx", col("r")).as("ulx"),
          st.f("rs_value", col("r"), lit(1), lit(1), lit(1)).as("v11"),
          st.f("rs_bandavg", col("r"), lit(1)).as("bavg"),
          st.f("rs_bandmax", col("r"), lit(1)).as("bmax"))
    }),

    // raster metadata batch: N-D dimension surface, rotation, CRS
    // plumbing, setters (nodata/georeference incl. ESRI pixel-center
    // shift), point sampling, combined coord mapping, skewed convex hull
    "rs04_raster_meta" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("ulx", (col("p_partkey") % 100).cast("double") * 10.0)
        .withColumn("uly", (col("p_size") % 50).cast("double") * 10.0)
        .withColumn("vals", transform(sequence(lit(0), lit(11)),
          i => ((col("p_partkey") + i) % 97).cast("double")))
        .withColumn("r", st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
          lit(2.0), lit(-2.0), col("vals")))
        // skewed variant via the world-file setter: scalex 2, skewy 0.5,
        // skewx 1, scaley -2 -> rotation atan2(-1, 2), |det| = 4.5
        .withColumn("rskew", st.f("rs_setgeoreference", col("r"),
          concat(lit("2.0 0.5 1.0 -2.0 "), col("ulx"), lit(" "), col("uly"))))
        .withColumn("mp", st.geomFromWkt(concat(
          lit("MULTIPOINT (("), col("ulx") + 1.0, lit(" "), col("uly") - 1.0,
          lit("), ("), col("ulx") + 5.0, lit(" "), col("uly") - 3.0, lit("))"))))
        .withColumn("rvals", st.f("rs_values", col("r"), col("mp")))
        .select(col("p_partkey"),
          st.f("rs_numdimensions", col("r")).as("ndims"),
          array_join(st.f("rs_dimnames", col("r")), ",").as("dims"),
          element_at(st.f("rs_shape", col("r")), 1).as("shp_y"),
          element_at(st.f("rs_shape", col("r")), 2).as("shp_x"),
          round(st.f("rs_rotation", col("rskew")), 9).as("rot"),
          st.f("rs_srid", st.f("rs_setsrid", col("r"), lit(4326))).as("srid"),
          st.f("rs_crs", st.f("rs_setcrs", col("r"), lit("EPSG:3857"))).as("crs2"),
          st.f("rs_bandpixeltype", col("r")).as("ptype"),
          st.f("rs_isempty", col("r")).as("empt"),
          st.f("rs_bandnodatavalue",
            st.f("rs_setbandnodatavalue", col("r"), lit(-1.0)), lit(1)).as("nd"),
          st.f("rs_upperleftx", st.f("rs_setgeoreference", col("r"),
            concat(lit("2.0 0.0 0.0 -2.0 "), col("ulx"), lit(" "), col("uly")),
            lit("ESRI"))).as("esri_ulx"),
          st.f("rs_upperlefty", st.f("rs_setgeoreference", col("r"),
            concat(lit("2.0 0.0 0.0 -2.0 "), col("ulx"), lit(" "), col("uly")),
            lit("ESRI"))).as("esri_uly"),
          element_at(col("rvals"), 1).as("v00"),
          element_at(col("rvals"), 2).as("v21"),
          round(st.area(st.f("rs_convexhull", col("rskew"))), 6).as("hull_area"),
          st.x(st.f("rs_rastertoworldcoord", col("r"), lit(2), lit(1))).as("wcx"),
          st.y(st.f("rs_rastertoworldcoord", col("r"), lit(2), lit(1))).as("wcy"),
          st.asText(st.f("rs_worldtorastercoord", col("r"),
            col("ulx") + 5.0, col("uly") - 3.0)).as("rc_wkt"))
    }),

    // Zarr v2 chunk-grid roundtrip: nation rows -> 5x5 chunk grid of 4x3
    // rasters on one global grid (reference: rust/sedona-raster-zarr).
    // Write a zlib-chunked Zarr array, read back one row per chunk,
    // verify pixel values and per-chunk geotransform origins.
    "rs05_zarr_roundtrip" -> ((s, dir) => {
      val grid = t(s, dir, "nation")
        .withColumn("cy", (col("n_nationkey") / 5).cast("long"))
        .withColumn("cx", (col("n_nationkey") % 5).cast("long"))
        .withColumn("vals", transform(sequence(lit(0), lit(11)),
          i => (col("n_nationkey") * 100 + i).cast("double")))
        .withColumn("raster", st.f("rs_makeraster", lit(4), lit(3),
          lit(100.0) + col("cx").cast("double") * 8.0,
          lit(200.0) - col("cy").cast("double") * 6.0,
          lit(2.0), lit(-2.0), col("vals")))
        .select("cy", "cx", "raster")
      val path = s"/tmp/graft_zarr_gate/${math.abs(dir.hashCode)}"
      graft.sources.ZarrIO.write(grid, path, "raster")
      graft.sources.ZarrIO.read(s, path)
        .select(col("cy"), col("cx"),
          st.f("rs_value", col("raster"), lit(1), lit(1), lit(2)).as("v"),
          st.f("rs_upperleftx", col("raster")).as("ulx"),
          st.f("rs_upperlefty", col("raster")).as("uly"))
    }),

    // N-D raster surface: band<->dim reshaping, C-order slicing, dim
    // accessors, flat metadata struct (reference rs_slice.rs /
    // rs_dim_band.rs / rs_metadata.rs)
    "rs06_nd_slice" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("ulx", (col("p_partkey") % 100).cast("double") * 10.0)
        .withColumn("uly", (col("p_size") % 50).cast("double") * 10.0)
        .withColumn("vals", transform(sequence(lit(0), lit(23)),
          i => ((col("p_partkey") * 3 + i) % 101).cast("double")))
        .withColumn("r", st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
          lit(2.0), lit(-2.0), col("vals"), lit(2)))
        .withColumn("m", st.f("rs_bandtodim", col("r"), lit("b")))
        .withColumn("md", st.f("rs_metadata", col("r")))
        .select(col("p_partkey"),
          st.f("rs_numbands", col("m")).as("nb_merged"),
          st.f("rs_numdimensions", col("m")).as("ndims"),
          array_join(st.f("rs_dimnames", col("m")), ",").as("dims"),
          st.f("rs_dimsize", col("m"), lit("b")).as("bsize"),
          element_at(st.f("rs_shape", col("m")), 1).as("shp0"),
          // slice out band 2 (index 1 along 'b') -> plain 2D band;
          // pixel (col 2, row 1) = vals[12 + 1*4 + 2] = vals[18]
          st.f("rs_value", st.f("rs_slice", col("m"), lit("b"), lit(1)),
            lit(1), lit(2), lit(1)).as("v_slice"),
          st.f("rs_dimsize", st.f("rs_slicerange", col("m"), lit("b"), lit(1), lit(2)),
            lit("b")).as("range_bsize"),
          // dim->band roundtrip: band 2 pixel (col 1, row 2) = vals[12 + 2*4 + 1]
          st.f("rs_numbands", st.f("rs_dimtoband", col("m"), lit("b"))).as("nb_back"),
          st.f("rs_value", st.f("rs_dimtoband", col("m"), lit("b")),
            lit(2), lit(1), lit(2)).as("v_back"),
          st.f("rs_bandavg", st.f("rs_dimtoband", col("m"), lit("b")), lit(1)).as("bavg1"),
          col("md.gridWidth").as("gw"), col("md.scaleY").as("msy"),
          col("md.numSampleDimensions").as("nsd"), col("md.srid").as("msrid"))
    }),

    // GDAL-surface raster ops, pure math: clip window, tiling, nearest +
    // bilinear resampling, reproject-match, rasterize, polygonize,
    // full zonal statistics (reference rust/sedona-raster-gdal)
    "rs07_raster_ops" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("ulx", (col("p_partkey") % 100).cast("double") * 10.0)
        .withColumn("uly", (col("p_size") % 50).cast("double") * 10.0)
        .withColumn("vals", transform(sequence(lit(0), lit(15)),
          i => ((col("p_partkey") + i) % 7).cast("double")))
        .withColumn("r", st.f("rs_makeraster", lit(4), lit(4), col("ulx"), col("uly"),
          lit(1.0), lit(-1.0), col("vals")))
        .withColumn("clip", st.f("rs_clip", col("r"), lit(1),
          st.makeEnvelope(col("ulx") + 2.0, col("uly") - 4.0,
            col("ulx") + 4.0, col("uly") - 2.0)))
        .withColumn("tiles", st.f("rs_tile", col("r"), lit(3), lit(3)))
        .withColumn("near", st.f("rs_resample", col("r"), lit(2.0), lit(2.0),
          lit(false), lit("nearestneighbor")))
        .withColumn("bili", st.f("rs_resample", col("r"), lit(2.0), lit(2.0),
          lit(false), lit("bilinear")))
        .withColumn("refg", st.f("rs_makeraster", lit(2), lit(2), col("ulx"), col("uly"),
          lit(2.0), lit(-2.0), array(lit(0.0), lit(0.0), lit(0.0), lit(0.0))))
        .withColumn("rpm", st.f("rs_reprojectmatch",
          st.f("rs_setcrs", col("r"), lit("EPSG:4326")),
          st.f("rs_setcrs", col("refg"), lit("EPSG:4326"))))
        .withColumn("burn", st.f("rs_asraster",
          st.makeEnvelope(col("ulx") + 1.0, col("uly") - 3.0,
            col("ulx") + 3.0, col("uly") - 1.0),
          col("r"), lit("d"), lit(false), lit(7.0), lit(0.0)))
        .withColumn("stripes", st.f("rs_makeraster", lit(2), lit(2),
          col("ulx"), col("uly"), lit(1.0), lit(-1.0),
          array((col("p_partkey") % 7).cast("double"),
            ((col("p_partkey") + 1) % 7).cast("double"),
            (col("p_partkey") % 7).cast("double"),
            ((col("p_partkey") + 1) % 7).cast("double"))))
        .withColumn("polys", st.f("rs_polygonize", col("stripes"), lit(1)))
        .withColumn("zs", st.f("rs_zonalstatsall", col("r"),
          st.makeEnvelope(col("ulx"), col("uly") - 4.0,
            col("ulx") + 4.0, col("uly")), lit(1)))
        .select(col("p_partkey"),
          st.f("rs_width", col("clip")).as("clip_w"),
          st.f("rs_upperleftx", col("clip")).as("clip_ulx"),
          st.f("rs_value", col("clip"), lit(1), lit(0), lit(0)).as("clip_v00"),
          size(col("tiles")).as("tile_n"),
          st.f("rs_width", element_at(col("tiles"), 2).getField("tile")).as("tile1_w"),
          st.f("rs_value", element_at(col("tiles"), 4).getField("tile"),
            lit(1), lit(0), lit(0)).as("tile3_v00"),
          st.f("rs_value", col("near"), lit(1), lit(0), lit(0)).as("near_v00"),
          st.f("rs_value", col("bili"), lit(1), lit(0), lit(0)).as("bili_v00"),
          st.f("rs_value", col("rpm"), lit(1), lit(0), lit(0)).as("rpm_v00"),
          st.f("rs_width", col("burn")).as("burn_w"),
          st.f("rs_upperleftx", col("burn")).as("burn_ulx"),
          st.f("rs_value", col("burn"), lit(1), lit(0), lit(0)).as("burn_v00"),
          size(col("polys")).as("poly_n"),
          element_at(col("polys"), 1).getField("value").as("poly_v0"),
          st.area(element_at(col("polys"), 1).getField("geom")).as("poly_area0"),
          col("zs.count").as("z_count"), col("zs.sum").as("z_sum"),
          col("zs.mean").as("z_mean"), col("zs.median").as("z_median"),
          col("zs.mode").as("z_mode"), round(col("zs.stddev"), 9).as("z_std"),
          round(col("zs.variance"), 9).as("z_var"),
          col("zs.min").as("z_min"), col("zs.max").as("z_max"))
    }),

    // GeoTIFF codec roundtrip: in-db raster -> TIFF 6.0 + GeoTIFF keys
    // bytes -> raster (reference rs_as_geotiff.rs / rs_from_gdal_raster.rs;
    // codec hand-implemented, sources.GeoTiff). Byte length pins the wire
    // layout; metadata and pixels must survive the trip.
    "rs08_geotiff_roundtrip" -> ((s, dir) => {
      t(s, dir, "nation")
        .withColumn("ulx", (col("n_nationkey") % 10).cast("double") * 8.0)
        .withColumn("uly", (col("n_nationkey") % 5).cast("double") * 6.0)
        .withColumn("vals", transform(sequence(lit(0), lit(11)),
          i => ((col("n_nationkey") * 10 + i) % 89).cast("double")))
        .withColumn("r", st.f("rs_setcrs", st.f("rs_setbandnodatavalue",
          st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
            lit(2.0), lit(-2.0), col("vals")), lit(-1.0)), lit("EPSG:3857")))
        .withColumn("g", st.f("rs_asgeotiff", col("r")))
        .withColumn("rt", st.f("rs_fromgdalraster", col("g")))
        .select(col("n_nationkey"),
          st.f("rs_width", col("rt")).as("w"),
          st.f("rs_height", col("rt")).as("h"),
          st.f("rs_upperleftx", col("rt")).as("ulx_out"),
          st.f("rs_upperlefty", col("rt")).as("uly_out"),
          st.f("rs_scalex", col("rt")).as("sx"),
          st.f("rs_scaley", col("rt")).as("sy"),
          st.f("rs_crs", col("rt")).as("crs"),
          st.f("rs_bandnodatavalue", col("rt"), lit(1)).as("nd"),
          st.f("rs_value", col("rt"), lit(1), lit(2), lit(1)).as("v21"),
          octet_length(col("g")).as("blen"))
    }),

    // geometry element access: dump/geometryn/makeline/boundary
    "sp10_elements" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("xi", (col("p_partkey") % 500).cast("int"))
        .withColumn("yi", (col("p_size") % 60).cast("int"))
        .withColumn("mp", st.geomFromWkt(concat(lit("MULTIPOINT (("),
          col("xi"), lit(" "), col("yi"), lit("), ("), col("xi") + 5, lit(" "),
          col("yi") + 3, lit("))"))))
        .withColumn("parts", st.f("st_dump", col("mp")))
        .select(col("p_partkey"),
          size(col("parts")).as("n_parts"),
          st.asText(element_at(col("parts"), 1).getField("geom")).as("first_wkt"),
          st.asText(st.f("st_geometryn", col("mp"), lit(2))).as("second_wkt"),
          st.f("st_numgeometries", col("mp")).as("n_geoms"),
          st.asText(st.f("st_makeline", st.f("st_geometryn", col("mp"), lit(1)),
            st.f("st_geometryn", col("mp"), lit(2)))).as("line_wkt"))
    })
  )

  val oracles: Map[String, String] = Map(
    "sp01_point_ops" ->
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_partkey % 997 AS DOUBLE)*0.1 AS x1,
        |    CAST(l_orderkey % 983 AS DOUBLE)*0.1 AS y1,
        |    CAST(l_suppkey % 89 AS DOUBLE) AS x2,
        |    CAST(l_linenumber*13 % 97 AS DOUBLE) AS y2
        |  FROM lineitem WHERE l_orderkey % 7 = 0)
        |SELECT l_orderkey, l_linenumber, x1, y1,
        |  round(sqrt((x1-x2)*(x1-x2) + (y1-y2)*(y1-y2)), 6) AS dist,
        |  CASE WHEN x2-x1 = 0 AND y2-y1 = 0 THEN NULL
        |       WHEN atan2(x2-x1, y2-y1) < 0 THEN round(atan2(x2-x1, y2-y1) + 2*pi(), 6)
        |       ELSE round(atan2(x2-x1, y2-y1), 6) END AS azimuth
        |FROM pts""".stripMargin,

    "sp02_envelope_box" ->
      s"""WITH b AS ($boxSql)
        |SELECT p_partkey, bw*bh AS area,
        |  round(bxmin + bw/2, 6) AS cx, round(bymin + bh/2, 6) AS cy,
        |  bxmin AS xmin, bymin + bh AS ymax,
        |  5 AS npoints, 'ST_Polygon' AS gtype
        |FROM b""".stripMargin,

    "sp03_predicates" ->
      s"""WITH b AS ($boxSql)
        |SELECT p_partkey,
        |  p_partkey % 3 <> 2 AS b_intersects,
        |  p_partkey % 3 = 1 AS b_touches,
        |  p_partkey % 3 = 0 AS b_overlaps,
        |  p_partkey % 3 = 2 AS b_disjoint,
        |  TRUE AS b_contains,
        |  TRUE AS b_within,
        |  p_partkey % 3 <> 2 AS b_dwithin
        |FROM b""".stripMargin,

    "sp04_buffer" ->
      """WITH p AS (SELECT p_partkey,
        |    CAST(p_size % 4 AS DOUBLE) + 0.5 AS r,
        |    CAST(p_partkey % 50 + 1 AS DOUBLE) AS len FROM part)
        |SELECT p_partkey, r,
        |  round(0.5 * 32 * r * r * sin(2*pi()/32), 4) AS buf_area,
        |  33 AS buf_npoints,
        |  round(2*r*len, 4) AS flat_area,
        |  round(2*r*len + 4*r*r, 4) AS square_area,
        |  round(r*len, 4) AS left_area,
        |  round((10+2*r)*(10+2*r), 4) AS mitre_area,
        |  round(0.5 * 16 * r * r * sin(2*pi()/16), 4) AS q4_area
        |FROM p""".stripMargin,

    "sp05_wkt_roundtrip" ->
      """SELECT p_partkey,
        |  CASE WHEN p_partkey % 10 = 0 THEN 'POINT EMPTY'
        |       ELSE 'POINT (' || (p_partkey % 1000) || ' ' || (p_size % 100) || ')'
        |  END AS rt_wkt,
        |  'LINESTRING (0 0, ' || (p_partkey % 1000) || ' ' || (p_size % 100) || ', '
        |    || (p_partkey % 1000)*2 || ' 7)' AS rt_lwkt,
        |  3 AS l_npoints,
        |  round(sqrt(CAST((p_partkey % 1000)*(p_partkey % 1000)
        |             + (p_size % 100)*(p_size % 100) AS DOUBLE))
        |      + sqrt(CAST((p_partkey % 1000)*(p_partkey % 1000)
        |             + ((p_size % 100)-7)*((p_size % 100)-7) AS DOUBLE)), 6) AS l_len,
        |  p_partkey % 10 = 0 AS is_empty
        |FROM part""".stripMargin,

    "sp06_agg_envelope" ->
      s"""WITH b AS ($boxSql)
        |SELECT p_brand,
        |  MIN(bxmin) AS env_xmin, MIN(bymin) AS env_ymin,
        |  MAX(bxmin + bw) AS env_xmax, MAX(bymin + bh) AS env_ymax,
        |  COUNT(*) AS n_geoms, COUNT(*)*5 AS total_points,
        |  CAST(SUM(bw*bh) AS DOUBLE) AS total_area
        |FROM b GROUP BY p_brand""".stripMargin,

    "sp07_union_agg" ->
      s"""WITH b AS ($boxSql)
        |SELECT p_brand,
        |  CAST(SUM(bw*bh) AS DOUBLE) AS union_area,
        |  CAST(COUNT(*) AS INT) AS n_parts,
        |  CAST(COUNT(*) AS INT) AS n_collected
        |FROM b GROUP BY p_brand""".stripMargin,

    "sp08_transform" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 + 0.25 AS lon,
        |    CAST(c_custkey % 170 AS DOUBLE)/2.0 - 42.5 + 0.25 AS lat
        |  FROM customer WHERE c_custkey % 10 = 0)
        |SELECT c_custkey,
        |  round(lon * 20037508.342789244 / 180.0, 2) AS mx,
        |  round(ln(tan((90.0 + lat) * pi() / 360.0)) / pi() * 20037508.342789244, 2) AS my,
        |  round(lon, 5) AS rt_lon, round(lat, 5) AS rt_lat,
        |  3857 AS srid
        |FROM p""".stripMargin,

    // the oracle restates the synthesized coordinates: a correct
    // projection roundtrip returns them to well under 5 decimals
    "sp14_crs_roundtrip" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 240 AS DOUBLE)/20.0 - 3.0 AS lon_eu,
        |    CAST(c_custkey % 200 AS DOUBLE)/20.0 + 41.0 AS lat_eu,
        |    CAST(c_custkey % 400 AS DOUBLE)/(-10.0) - 70.0 AS lon_us,
        |    CAST(c_custkey % 200 AS DOUBLE)/10.0 + 25.0 AS lat_us,
        |    CAST(c_custkey % 360 AS DOUBLE) - 180.0 + 0.25 AS lon_w,
        |    CAST(c_custkey % 170 AS DOUBLE)/2.0 - 42.5 + 0.25 AS lat_w,
        |    CAST(c_custkey % 240 AS DOUBLE)/40.0 + 6.0 AS lon_z32,
        |    CAST(c_custkey % 70 AS DOUBLE)/10.0 - 5.5 AS lon_uk,
        |    CAST(c_custkey % 100 AS DOUBLE)/10.0 + 50.2 AS lat_uk,
        |    CAST(c_custkey % 30 AS DOUBLE)/10.0 - 74.5 AS lon_ny,
        |    CAST(c_custkey % 10 AS DOUBLE)/10.0 + 40.3 AS lat_ny,
        |    CAST(c_custkey % 30 AS DOUBLE)/10.0 - 100.0 AS lon_tx,
        |    CAST(c_custkey % 20 AS DOUBLE)/10.0 + 29.8 AS lat_tx,
        |    CAST(c_custkey % 240 AS DOUBLE)/40.0 - 82.5 AS lon_z17,
        |    CAST(c_custkey % 200 AS DOUBLE)/10.0 - 85.0 AS lat_ant,
        |    CAST(c_custkey % 40 AS DOUBLE)/10.0 - 120.0 AS lon_ca,
        |    CAST(c_custkey % 30 AS DOUBLE)/10.0 + 33.0 AS lat_ca,
        |    CAST(c_custkey % 40 AS DOUBLE)/10.0 + 6.0 AS lon_ch,
        |    CAST(c_custkey % 18 AS DOUBLE)/10.0 + 46.0 AS lat_ch,
        |    CAST(c_custkey % 60 AS DOUBLE)/10.0 + 12.5 AS lon_cz,
        |    CAST(c_custkey % 24 AS DOUBLE)/10.0 + 48.6 AS lat_cz,
        |    CAST(c_custkey % 40 AS DOUBLE)/10.0 + 100.0 AS lon_my,
        |    CAST(c_custkey % 50 AS DOUBLE)/10.0 + 1.5 AS lat_my
        |  FROM customer WHERE c_custkey % 5 = 0)
        |SELECT c_custkey,
        |  round(lon_eu, 5) AS lon_lcc,  round(lat_eu, 5) AS lat_lcc,
        |  round(lon_eu, 5) AS lon_laea, round(lat_eu, 5) AS lat_laea,
        |  round(lon_z32, 5) AS lon_utm, round(lat_eu, 5) AS lat_utm,
        |  round(lon_us, 5) AS lon_alb,  round(lat_us, 5) AS lat_alb,
        |  round(lon_w, 5) AS lon_merc,  round(lat_w, 5) AS lat_merc,
        |  round(lon_uk, 5) AS lon_bng,  round(lat_uk, 5) AS lat_bng,
        |  round(lon_ny, 5) AS lon_spny, round(lat_ny, 5) AS lat_spny,
        |  round(lon_tx, 5) AS lon_sptx, round(lat_tx, 5) AS lat_sptx,
        |  round(lon_z17, 5) AS lon_n83, round(lat_ny, 5) AS lat_n83,
        |  round(lon_w, 5) AS lon_ps,   round(lat_ant, 5) AS lat_ps,
        |  round(lon_ca, 5) AS lon_ca5, round(lat_ca, 5) AS lat_ca5,
        |  round(lon_ch, 5) AS lon_lv95, round(lat_ch, 5) AS lat_lv95,
        |  round(lon_cz, 5) AS lon_kro,  round(lat_cz, 5) AS lat_kro,
        |  round(lon_my, 5) AS lon_rso,  round(lat_my, 5) AS lat_rso
        |FROM p""".stripMargin,

    "sp09_zorder" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*20.0 + CAST(p_partkey % 7 + 1 AS DOUBLE)/2 AS cx,
        |    CAST(p_size % 50 AS DOUBLE)*20.0 + CAST(p_size % 5 + 1 AS DOUBLE)/2 AS cy
        |  FROM part),
        |s AS (
        |  SELECT p_partkey,
        |    LEAST(65535, GREATEST(0, CAST(floor(((cx - 0.0)/2048.0)*65536) AS BIGINT))) AS ix,
        |    LEAST(65535, GREATEST(0, CAST(floor(((cy - 0.0)/1024.0)*65536) AS BIGINT))) AS iy
        |  FROM b)
        |SELECT p_partkey,
        |  CAST(list_sum([(((ix >> i) & 1) << (2*i)) + (((iy >> i) & 1) << (2*i+1))
        |                 for i in range(0, 16)]) AS BIGINT) AS zorder
        |FROM s""".stripMargin,

    "sp11_sphere" -> {
      def hav(lo1: String, la1: String, lo2: String, la2: String) =
        s"""2*6371008.8*asin(sqrt(
           |    sin(radians(($la2)-($la1))/2)*sin(radians(($la2)-($la1))/2)
           |    + cos(radians($la1))*cos(radians($la2))
           |      * sin(radians(($lo2)-($lo1))/2)*sin(radians(($lo2)-($lo1))/2)))""".stripMargin
      // geodesic-edge quad area: split the box on diagonal A-C and sum
      // both triangles' l'Huilier spherical excess (same edge model the
      // engine's kernel uses)
      def cang(lo1: String, la1: String, lo2: String, la2: String) =
        s"""2*asin(sqrt(
           |      sin(radians(($la2)-($la1))/2)*sin(radians(($la2)-($la1))/2)
           |      + cos(radians($la1))*cos(radians($la2))
           |        * sin(radians(($lo2)-($lo1))/2)*sin(radians(($lo2)-($lo1))/2)))""".stripMargin
      def lh(a: String, b: String, c: String) =
        s"""4*atan(sqrt(greatest(0.0,
           |      tan((($a)+($b)+($c))/4) * tan(((($b)+($c))-($a))/4)
           |      * tan(((($a)+($c))-($b))/4) * tan(((($a)+($b))-($c))/4))))""".stripMargin
      s"""WITH p AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 340 AS DOUBLE)/2.0 - 85.0 AS lon1,
        |    CAST(c_custkey % 160 AS DOUBLE)/2.0 - 40.0 AS lat1,
        |    CAST(c_custkey % 340 AS DOUBLE)/2.0 - 85.0 + 1.5 AS lon2,
        |    CAST(c_custkey % 160 AS DOUBLE)/2.0 - 40.0 + 0.75 AS lat2
        |  FROM customer),
        |e AS (
        |  SELECT c_custkey, lon1, lat1, lon2, lat2,
        |    ${cang("lon1", "lat1", "lon2", "lat1")} AS cab,
        |    ${cang("lon2", "lat1", "lon2", "lat2")} AS cbc,
        |    ${cang("lon1", "lat1", "lon2", "lat2")} AS cac,
        |    ${cang("lon2", "lat2", "lon1", "lat2")} AS ccd,
        |    ${cang("lon1", "lat1", "lon1", "lat2")} AS cad
        |  FROM p)
        |SELECT c_custkey,
        |  round(${hav("lon1", "lat1", "lon2", "lat2")}, 4) AS dist_m,
        |  ${hav("lon1", "lat1", "lon2", "lat2")} <= 150000.0 AS within_150km,
        |  round((${lh("cbc", "cac", "cab")} + ${lh("ccd", "cad", "cac")})
        |        * 6371008.8*6371008.8 / 1e6, 3) AS area_km2,
        |  round(${hav("lon1", "lat1", "lon1", "lat2")}
        |      + ${hav("lon1", "lat2", "lon2", "lat2")}
        |      + ${hav("lon2", "lat2", "lon2", "lat1")}
        |      + ${hav("lon2", "lat1", "lon1", "lat1")}, 4) AS ring_len_m
        |FROM e""".stripMargin
    },

    "sp15_tessellate" ->
      """WITH p AS (SELECT c_custkey,
        |    CAST(c_custkey % 80 AS DOUBLE) + 1.0 AS voff,
        |    CASE WHEN c_custkey % 2 = 0 THEN 10000.0 ELSE 1000.0 END AS tol
        |  FROM customer WHERE c_custkey % 7 = 0)
        |SELECT c_custkey,
        |  CASE WHEN tol = 10000.0 THEN 5 ELSE 9 END AS np_geog,
        |  CASE WHEN tol = 10000.0 THEN 5 ELSE 9 END AS np_geom,
        |  round(voff - CASE WHEN tol = 10000.0 THEN 5.0 ELSE 7.5 END, 5) AS p2x,
        |  45.0 AS p2y,
        |  round(voff, 5) AS midx,
        |  45.438549 AS midy
        |FROM p""".stripMargin,

    // the crs string and srid restate the synthesized code; centroid and
    // area of the translated envelope are exact dyadic arithmetic
    "sp17_sphere_bounds" ->
      """WITH p AS (SELECT c_custkey,
        |    CAST(c_custkey % 80 AS DOUBLE) + 100.0 AS a,
        |    -(CAST(c_custkey % 75 AS DOUBLE) + 20.0) AS b
        |  FROM customer)
        |SELECT c_custkey,
        |  CASE WHEN a - b <= 180.0 THEN b ELSE a END AS sxmin,
        |  CASE WHEN a - b <= 180.0 THEN a ELSE b END AS sxmax,
        |  a - b > 180.0 AS wrapped
        |FROM p""".stripMargin,

    // chart interval logic is exact because the point lattice avoids
    // every geodesic bulge band (see the query comment)
    "sp18_sphere_containment" ->
      """WITH p AS (SELECT c_custkey,
        |    CAST(c_custkey % 360 AS DOUBLE) - 179.5 AS plon,
        |    CAST(c_custkey % 70 AS DOUBLE) * 2.5 - 86.25 AS plat
        |  FROM customer)
        |SELECT c_custkey,
        |  plat > 73.0 AS in_ncap,
        |  plat < -73.0 AS in_scap,
        |  (abs(plon) > 179.0 AND plat > 10.0 AND plat < 20.0) AS in_dlq,
        |  (abs(plon) > 179.0 AND plat > 9.8 AND plat < 20.2) AS quad_hits_dlq,
        |  TRUE AS dist_consistent,
        |  90.0 AS ncap_ymax,
        |  -180.0 AS ncap_xmin,
        |  (abs(plon) > 179.0 AND plat > 10.2 AND plat < 19.8) AS quad_in_dlq,
        |  plat > 73.0 AS quad_within_ncap,
        |  NOT (abs(plon) > 179.0 AND plat > 10.0 AND plat < 20.0) AS pt_disj_dlq,
        |  TRUE AS eq_ok
        |FROM p""".stripMargin,

    // equator-exact linear referencing; segmentize counts are
    // ceil(10-deg-arc / step) with arcs far from integer boundaries
    "sp19_sphere_linref" ->
      """WITH p AS (SELECT c_custkey,
        |    CAST(c_custkey % 11 AS DOUBLE) AS o,
        |    c_custkey % 5 AS stepk,
        |    CAST(c_custkey % 360 AS DOUBLE) - 179.5 AS p2x,
        |    CAST(c_custkey % 100 AS DOUBLE) - 49.75 AS p2y
        |  FROM customer)
        |SELECT c_custkey,
        |  round(o / 10.0, 9) AS frac,
        |  CASE stepk WHEN 0 THEN 13 WHEN 1 THEN 7 WHEN 2 THEN 5
        |    WHEN 3 THEN 4 ELSE 4 END AS segn,
        |  0.0 AS dlen,
        |  round(p2x, 6) AS ll_x,
        |  round(p2y, 6) AS ll_y
        |FROM p""".stripMargin,

    "sp16_itemcrs" ->
      """WITH p AS (SELECT c_custkey,
        |    CAST(c_custkey % 500 AS DOUBLE)*0.5 AS x0,
        |    CAST(c_custkey % 300 AS DOUBLE)*0.25 AS y0,
        |    32601 + c_custkey % 60 AS code
        |  FROM customer)
        |SELECT c_custkey,
        |  'EPSG:' || CAST(code AS VARCHAR) AS crs,
        |  CAST(code AS INT) AS srid,
        |  6.0 AS area,
        |  round(x0 + 11.0, 6) AS cx,
        |  round(y0 + 6.5, 6) AS cy
        |FROM p""".stripMargin,

    "sp13_sphere_overlay" -> {
      // geodesic quad areas via two l'Huilier triangles on the diagonal
      // (the envelope-reconstructed quads the Spark side measures)
      def cang(lo1: String, la1: String, lo2: String, la2: String) =
        s"""2*asin(sqrt(
           |      sin(radians(($la2)-($la1))/2)*sin(radians(($la2)-($la1))/2)
           |      + cos(radians($la1))*cos(radians($la2))
           |        * sin(radians(($lo2)-($lo1))/2)*sin(radians(($lo2)-($lo1))/2)))""".stripMargin
      def lh(a: String, b: String, c: String) =
        s"""4*atan(sqrt(greatest(0.0,
           |      tan((($a)+($b)+($c))/4) * tan(((($b)+($c))-($a))/4)
           |      * tan(((($a)+($c))-($b))/4) * tan(((($a)+($b))-($c))/4))))""".stripMargin
      s"""WITH p AS (
        |  SELECT c_custkey,
        |    CAST(c_custkey % 340 AS DOUBLE)/2.0 - 85.0 AS lon1,
        |    CAST(c_custkey % 160 AS DOUBLE)/2.0 - 40.0 AS lat1
        |  FROM customer),
        |e AS (
        |  SELECT c_custkey, lon1, lat1,
        |    ${cang("lon1+0.5", "lat1+0.25", "lon1+1.5", "lat1+0.25")} AS iab,
        |    ${cang("lon1+1.5", "lat1+0.25", "lon1+1.5", "lat1+0.75")} AS ibc,
        |    ${cang("lon1+0.5", "lat1+0.25", "lon1+1.5", "lat1+0.75")} AS iac,
        |    ${cang("lon1+1.5", "lat1+0.75", "lon1+0.5", "lat1+0.75")} AS icd,
        |    ${cang("lon1+0.5", "lat1+0.25", "lon1+0.5", "lat1+0.75")} AS iad,
        |    ${cang("lon1", "lat1", "lon1+2.0", "lat1")} AS oab,
        |    ${cang("lon1+2.0", "lat1", "lon1+2.0", "lat1+1.0")} AS obc,
        |    ${cang("lon1", "lat1", "lon1+2.0", "lat1+1.0")} AS oac,
        |    ${cang("lon1+2.0", "lat1+1.0", "lon1", "lat1+1.0")} AS ocd,
        |    ${cang("lon1", "lat1", "lon1", "lat1+1.0")} AS oad,
        |    2*asin(sqrt(
        |      sin(radians(0.75)/2)*sin(radians(0.75)/2)
        |      + cos(radians(lat1))*cos(radians(lat1+0.75))
        |        * sin(radians(1.5)/2)*sin(radians(1.5)/2))) AS d
        |  FROM p),
        |s AS (
        |  SELECT c_custkey,
        |    round((${lh("ibc", "iac", "iab")} + ${lh("icd", "iad", "iac")})
        |          * 6371008.8*6371008.8 / 1e6, 3) AS ikm2,
        |    round((${lh("obc", "oac", "oab")} + ${lh("ocd", "oad", "oac")})
        |          * 6371008.8*6371008.8 / 1e6, 3) AS ukm2,
        |    sin(0.75*d)/sin(d) AS ca, sin(0.25*d)/sin(d) AS cb,
        |    radians(lon1) AS l1, radians(lat1) AS f1,
        |    radians(lon1+1.5) AS l2, radians(lat1+0.75) AS f2
        |  FROM e),
        |v AS (
        |  SELECT c_custkey, ikm2, ukm2,
        |    ca*cos(f1)*cos(l1) + cb*cos(f2)*cos(l2) AS x,
        |    ca*cos(f1)*sin(l1) + cb*cos(f2)*sin(l2) AS y,
        |    ca*sin(f1) + cb*sin(f2) AS z
        |  FROM s)
        |SELECT c_custkey, ikm2, ukm2,
        |  true AS i_has, true AS u_has, false AS d_has, false AS s_has,
        |  round(degrees(atan2(y, x)), 5) AS ix,
        |  round(degrees(atan2(z, sqrt(x*x + y*y))), 5) AS iy
        |FROM v""".stripMargin
    },

    "sp12_misc" ->
      s"""WITH b AS ($boxSql)
        |SELECT p_partkey,
        |  2 AS n_split,
        |  round(bw*bh, 6) AS split_area,
        |  round(bw*bh, 6) AS rebuilt_area,
        |  'POINT (' || CAST(bxmin + bw AS BIGINT) || ' ' || CAST(bymin AS BIGINT) || ')' AS cp_wkt,
        |  3.0 AS sl_len,
        |  'POINT (' || CAST(bxmin AS BIGINT) || ' ' || CAST(bymin AS BIGINT) || ')' AS gj_wkt,
        |  round(bw*bh, 6) AS tess_area,
        |  2 AS tess_n
        |FROM b""".stripMargin,

    "rs01_raster_core" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*10.0 AS ulx,
        |    CAST(p_size % 50 AS DOUBLE)*10.0 AS uly
        |  FROM part)
        |SELECT p_partkey,
        |  4 AS w, 3 AS h, 1 AS nb, 2.0 AS sx, ulx AS ulx_out,
        |  '2.0 0.0 0.0 -2.0 ' || ulx::VARCHAR || ' ' || uly::VARCHAR AS georef,
        |  CAST((p_partkey + 9) % 97 AS DOUBLE) AS v12,
        |  list_sum([CAST((p_partkey + i) % 97 AS DOUBLE) for i in range(0, 12)])/12.0 AS bavg,
        |  ulx + 4.0 AS wx, uly - 2.0 AS wy,
        |  CAST(2 AS BIGINT) AS rcx, CAST(1 AS BIGINT) AS rcy,
        |  48.0 AS env_area,
        |  TRUE AS hit
        |FROM p""".stripMargin,

    // pixel i of tile n is (n*100 + i) % 97 — written into the GeoTIFF
    // fixture by the Spark side, decoded back through the real loader
    "rs03_outdb_load" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*100 + i) % 97 AS DOUBLE) for i in range(0, 12)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(4 AS INT) AS w, CAST(3 AS INT) AS h,
        |  'EPSG:4326' AS crs,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx,
        |  vs[6] AS v11,
        |  list_sum(vs)/12.0 AS bavg,
        |  list_max(vs) AS bmax
        |FROM v""".stripMargin,

    // zarr store pixel (r, c) = (r*3 + c*5) % 97; roi covers pixel
    // centers [c0..c0+7] x [r0..r0+5] (48 pixels)
    // sharded cube pixel (r, c) = (r*13 + c*3) % 79
    "rs16_zarr_sharded" ->
      """SELECT n_nationkey,
        |  CAST(512 AS INT) AS w, CAST(384 AS INT) AS h,
        |  'EPSG:32613' AS crs, 600000.0 AS ulx,
        |  CAST(((n_nationkey*37 % 384)*13 + (n_nationkey*29 % 512)*3) % 79
        |    AS DOUBLE) AS v1
        |FROM nation""".stripMargin,

    // v3 cube pixel (r, c) = (r*7 + c*11) % 89
    "rs14_zarr_v3" ->
      """SELECT n_nationkey,
        |  CAST(512 AS INT) AS w, CAST(384 AS INT) AS h,
        |  'EPSG:32611' AS crs, 500000.0 AS ulx,
        |  CAST(((n_nationkey*23 % 384)*7 + (n_nationkey*19 % 512)*11) % 89
        |    AS DOUBLE) AS v1
        |FROM nation""".stripMargin,

    "rs10_outdb_zarr" ->
      """WITH n AS (
        |  SELECT n_nationkey,
        |    (n_nationkey * 19) % 512 AS c,
        |    (n_nationkey * 23) % 384 AS r,
        |    (n_nationkey * 13) % 500 AS c0,
        |    (n_nationkey * 31) % 370 AS r0
        |  FROM nation),
        |z AS (
        |  SELECT n_nationkey, c, r,
        |    flatten([[CAST(((r0 + dr) * 3 + (c0 + dc) * 5) % 97 AS DOUBLE)
        |      for dc in range(0, 8)] for dr in range(0, 6)]) AS vs
        |  FROM n)
        |SELECT n_nationkey,
        |  CAST(512 AS INT) AS w, CAST(384 AS INT) AS h,
        |  'EPSG:32612' AS crs,
        |  400000.0 AS ulx,
        |  CAST((r * 3 + c * 5) % 97 AS DOUBLE) AS v1,
        |  CAST(48 AS BIGINT) AS zcnt,
        |  list_sum(vs) AS zsum,
        |  list_min(vs) AS zmin,
        |  list_max(vs) AS zmax
        |FROM z""".stripMargin,

    // node (r, c): dLat = (2r+c)/8 + 1 arcsec, dLonWest = (r+3c)/16 - 2;
    // forward: lat + dLat/3600, lon - dLonWest/3600
    "sp20_ntv2_gridshift" ->
      """WITH n AS (SELECT n_nationkey,
        |    n_nationkey % 21 AS r, (n_nationkey*5) % 21 AS c FROM nation)
        |SELECT n_nationkey,
        |  round((20.0 - c*0.5) - ((r + c*3)*0.0625 - 2.0)/3600.0, 7) AS wlon,
        |  round(10.0 + r*0.5 + ((2*r + c)*0.125 + 1.0)/3600.0, 7) AS wlat
        |FROM n""".stripMargin,

    "sp21_oriented_cap" ->
      """WITH p AS (SELECT CAST(range AS BIGINT) AS id,
        |    CAST((range*19) % 720 AS DOUBLE)/2 - 180 AS lon,
        |    CAST((range*23) % 340 AS DOUBLE)/2 - 85 AS lat
        |  FROM range(0, 2000)),
        |a AS (SELECT id,
        |    DEGREES(2*ASIN(SQRT(
        |      POW(SIN(RADIANS(lat - 45)/2), 2) +
        |      COS(RADIANS(lat))*COS(RADIANS(45))*POW(SIN(RADIANS(lon - 10)/2), 2)
        |    ))) AS ang
        |  FROM p)
        |SELECT id, ang > 20 AS in_complement, ang < 20 AS in_cap
        |FROM a""".stripMargin,

    // the in/out classes are decided by the same integer chart filter on
    // both engines; within a class the oriented predicates are constant
    "sp22_oriented_relate" ->
      """WITH b AS (SELECT CAST(p_partkey AS BIGINT) AS box_id,
        |    CAST(p_partkey*7 % 69 - 12 AS BIGINT) AS lon0,
        |    CAST(p_partkey*11 % 67 - 5 AS BIGINT) AS lat0
        |  FROM part WHERE p_partkey % 13 = 0),
        |c AS (SELECT box_id,
        |    CASE WHEN lon0 >= 13 AND lon0+2 <= 37
        |           AND lat0 >= 33 AND lat0+2 <= 52 THEN 'in'
        |         WHEN lon0+2 <= 7 OR lon0 >= 43
        |           OR lat0+2 <= 27 OR lat0 >= 58 THEN 'out'
        |         ELSE 'skip' END AS cls
        |  FROM b)
        |SELECT box_id, cls,
        |  cls = 'in' AS c_quad, cls = 'in' AS i_quad,
        |  cls = 'out' AS c_comp, cls = 'out' AS i_comp
        |FROM c WHERE cls <> 'skip'""".stripMargin,

    // Q1 region = chart rect [10,40]x[30,55], Q2c = complement of
    // [20,50]x[20,45]; classes decided by identical integer filters,
    // membership in the constructed overlay follows by boolean algebra
    "sp23_oriented_overlay" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pt_id,
        |    CAST(p_partkey*7 % 69 - 10 AS BIGINT) AS lon,
        |    CAST(p_partkey*11 % 67 - 4 AS BIGINT) AS lat
        |  FROM part WHERE p_partkey % 11 = 0),
        |c AS (SELECT pt_id,
        |  CASE WHEN lon >= 13 AND lon <= 37 AND lat >= 33 AND lat <= 52
        |         THEN 'in'
        |       WHEN lon <= 7 OR lon >= 43 OR lat <= 27 OR lat >= 58
        |         THEN 'out'
        |       ELSE 'skip' END AS c1,
        |  CASE WHEN lon >= 23 AND lon <= 47 AND lat >= 23 AND lat <= 42
        |         THEN 'in'
        |       WHEN lon <= 17 OR lon >= 53 OR lat <= 17 OR lat >= 48
        |         THEN 'out'
        |       ELSE 'skip' END AS c2
        |  FROM p)
        |SELECT pt_id, c1, c2,
        |  c1 = 'in' AND c2 = 'out' AS i_in,
        |  c1 = 'in' OR c2 = 'out' AS u_in
        |FROM c WHERE c1 <> 'skip' AND c2 <> 'skip'""".stripMargin,

    // frame = [0,40]^2 minus hole [10,30]^2; strip = [15,25]x[-10,50];
    // classes by the same integer filters, overlay membership by boolean
    // algebra (i = frame AND strip, u = frame OR strip)
    "sp24_oriented_multicomponent" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pt_id,
        |    CAST(p_partkey*13 % 61 - 8 AS BIGINT) AS lon,
        |    CAST(p_partkey*17 % 67 - 12 AS BIGINT) AS lat
        |  FROM part WHERE p_partkey % 7 = 3),
        |c AS (SELECT pt_id,
        |  CASE WHEN lon >= 3 AND lon <= 37 AND lat >= 3 AND lat <= 37
        |         AND (lon <= 7 OR lon >= 33 OR lat <= 7 OR lat >= 33)
        |         THEN 'in'
        |       WHEN lon <= -3 OR lon >= 43 OR lat <= -3 OR lat >= 43
        |         THEN 'out'
        |       WHEN lon >= 13 AND lon <= 27 AND lat >= 13 AND lat <= 27
        |         THEN 'out'
        |       ELSE 'skip' END AS cf,
        |  CASE WHEN lon >= 18 AND lon <= 22 AND lat >= -7 AND lat <= 47
        |         THEN 'in'
        |       WHEN lon <= 12 OR lon >= 28 OR lat <= -13 OR lat >= 53
        |         THEN 'out'
        |       ELSE 'skip' END AS cs
        |  FROM p)
        |SELECT pt_id, cf, cs,
        |  cf = 'in' AND cs = 'in' AS i_in,
        |  cf = 'in' OR cs = 'in' AS u_in
        |FROM c WHERE cf <> 'skip' AND cs <> 'skip'""".stripMargin,

    // tangent-contact overlay membership by boolean algebra over the
    // interval classes: i = A AND B, u = A OR B, d = A AND NOT B
    "sp26_oriented_tangent" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pt_id,
        |    CAST(p_partkey*7 % 71 - 8 AS BIGINT) AS lon,
        |    CAST(p_partkey*11 % 67 - 12 AS BIGINT) AS lat
        |  FROM part),
        |c AS (SELECT pt_id,
        |  CASE WHEN lon >= 3 AND lon <= 37 AND lat >= 3 AND lat <= 27
        |         THEN 'in'
        |       WHEN lon <= -3 OR lon >= 43 OR lat <= -3 OR lat >= 35
        |         THEN 'out'
        |       ELSE 'skip' END AS ca,
        |  CASE WHEN lon >= 13 AND lon <= 47 AND lat >= 3 AND lat <= 12
        |         THEN 'in'
        |       WHEN lon <= 7 OR lon >= 53 OR lat <= -3 OR lat >= 19
        |         THEN 'out'
        |       ELSE 'skip' END AS cb
        |  FROM p)
        |SELECT pt_id, ca, cb,
        |  ca = 'in' AND cb = 'in' AS i_in,
        |  ca = 'in' OR cb = 'in' AS u_in,
        |  ca = 'in' AND cb = 'out' AS d_in
        |FROM c WHERE ca <> 'skip' AND cb <> 'skip'""".stripMargin,

    // difference membership by boolean algebra: d1 (frame∖strip) =
    // in-frame AND NOT in-strip; d2 (strip∖frame) = in-strip AND NOT
    // in-frame — classes by the same integer interval filters
    "sp25_oriented_difference" ->
      """WITH p AS (SELECT CAST(p_partkey AS BIGINT) AS pt_id,
        |    CAST(p_partkey*7 % 61 - 8 AS BIGINT) AS lon,
        |    CAST(p_partkey*11 % 67 - 12 AS BIGINT) AS lat
        |  FROM part),
        |c AS (SELECT pt_id,
        |  CASE WHEN lon >= 3 AND lon <= 37 AND lat >= 3 AND lat <= 37
        |         AND (lon <= 7 OR lon >= 33 OR lat <= 7 OR lat >= 33)
        |         THEN 'in'
        |       WHEN lon <= -3 OR lon >= 43 OR lat <= -3 OR lat >= 43
        |         THEN 'out'
        |       WHEN lon >= 13 AND lon <= 27 AND lat >= 13 AND lat <= 27
        |         THEN 'out'
        |       ELSE 'skip' END AS cf,
        |  CASE WHEN lon >= 18 AND lon <= 22 AND lat >= -7 AND lat <= 47
        |         THEN 'in'
        |       WHEN lon <= 12 OR lon >= 28 OR lat <= -13 OR lat >= 53
        |         THEN 'out'
        |       ELSE 'skip' END AS cs
        |  FROM p)
        |SELECT pt_id, cf, cs,
        |  cf = 'in' AND cs = 'out' AS d1_in,
        |  cs = 'in' AND cf = 'out' AS d2_in
        |FROM c WHERE cf <> 'skip' AND cs <> 'skip'""".stripMargin,

    // CDF-5 tile pixel i = (n*50 + i*3) % 83 on a 4x3 grid; v21 is the
    // flat index 1*4+2 = 6 -> 1-based [7]
    "rs15_netcdf5" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*50 + i*3) % 83 AS DOUBLE) for i in range(0, 12)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(4 AS INT) AS w, CAST(3 AS INT) AS h,
        |  'EPSG:4326' AS crs,
        |  CAST(n_nationkey % 8 AS DOUBLE)*8.0 AS ulx,
        |  vs[7] AS v21,
        |  list_sum(vs)/12.0 AS bavg,
        |  list_max(vs) AS bmax
        |FROM v""".stripMargin,

    // JP2 out-db tile pixel i = (n*100 + i) % 89 on a 40x24 grid —
    // identical contract shape to the BigTIFF out-db oracle
    "rs19_jp2_outdb" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*100 + i) % 89 AS DOUBLE) for i in range(0, 960)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(40 AS INT) AS w, CAST(24 AS INT) AS h,
        |  'EPSG:32610' AS crs,
        |  CAST(n_nationkey % 10 AS DOUBLE)*400.0 AS ulx,
        |  vs[378] AS v179,
        |  list_sum(vs)/960.0 AS bavg,
        |  list_max(vs) AS bmax
        |FROM v""".stripMargin,

    // lossless JP2 roundtrip: min/max/avg over EVERY decoded pixel must
    // replay the generating formula exactly (sums of <2^53 integer
    // doubles are order-free); CRS/geotransform prove the GeoJP2 box
    "rs18_jpeg2000_roundtrip" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*7919 + (i % 40)*31 + (i // 40)*53) % 60000
        |      AS DOUBLE) for i in range(0, 1120)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(40 AS INT) AS w, CAST(28 AS INT) AS h,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx_out,
        |  'EPSG:32610' AS crs, 'UNSIGNED_16BITS' AS ptype,
        |  list_min(vs) AS vmin, list_max(vs) AS vmax,
        |  list_sum(vs)/1120.0 AS vavg,
        |  TRUE AS compressed
        |FROM v""".stripMargin,

    // lossy JP2: the tolerance booleans are computed in Spark against
    // the same-row original; the oracle pins the metadata and that every
    // claim holds
    "rs23_jp2_coc_derived" ->
      """SELECT n_nationkey,
        |  CAST(64 AS INT) AS w, CAST(48 AS INT) AS h,
        |  'EPSG:32610' AS crs, 'UNSIGNED_16BITS' AS ptype,
        |  TRUE AS avg_ok, TRUE AS px_ok,
        |  TRUE AS smaller_than_lossless_coc
        |FROM nation""".stripMargin,

    "rs24_jp2_mixed" ->
      """SELECT n_nationkey,
        |  CAST(64 AS INT) AS w, CAST(48 AS INT) AS h, CAST(2 AS INT) AS nb,
        |  'EPSG:32610' AS crs,
        |  TRUE AS lossy_avg_ok, TRUE AS lossy_px_ok,
        |  TRUE AS mask_avg_exact, TRUE AS mask_range_exact,
        |  TRUE AS mask_px_exact
        |FROM nation""".stripMargin,

    // POC+PPM+RGN lossless stream: pure formula replay (pixel i =
    // (n*6599 + (i%64)*41 + (i//64)*61 + (i*131071)%101) % 60000);
    // the ROI probe (33,21) is 1-based list index 21*64 + 33 + 1
    "rs25_jp2_poc_ppm_roi" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*6599 + (i % 64)*41 + (i // 64)*61
        |      + (i * 131071) % 101) % 251 AS DOUBLE) for i in range(0, 3072)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(64 AS INT) AS w, CAST(48 AS INT) AS h,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx_out,
        |  'EPSG:32610' AS crs, 'UNSIGNED_8BITS' AS ptype,
        |  list_min(vs) AS vmin, list_max(vs) AS vmax,
        |  list_sum(vs)/3072.0 AS vavg,
        |  vs[1378] AS roi_px,
        |  TRUE AS ppt_identical
        |FROM v""".stripMargin,

    // subsampled JP2: band 1 full-res formula replay; band 2's decoded
    // canvas value at (x, y) is the ORIGINAL at (x//2*2, y//2*2) —
    // top-left decimation onto the ceil-division plane, then sample
    // replication back onto the canvas grid (the probes at odd
    // coordinates witness the decimation)
    "rs26_jp2_subsampled" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*6151 + (i % 65)*37 + (i // 65)*59
        |      + (i * 131071) % 97) % 251 AS DOUBLE)
        |     for i in range(0, 3055)] AS v1,
        |    [CAST((n_nationkey*7919 + ((i % 65)//2*2)*43 + ((i // 65)//2*2)*67
        |      + (((i % 65)//2*2) * ((i // 65)//2*2)) % 29) % 251 AS DOUBLE)
        |     for i in range(0, 3055)] AS v2
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(65 AS INT) AS w, CAST(47 AS INT) AS h, CAST(2 AS INT) AS nb,
        |  'EPSG:32610' AS crs, 'UNSIGNED_8BITS' AS ptype,
        |  list_min(v1) AS vmin1, list_max(v1) AS vmax1,
        |  list_sum(v1)/3055.0 AS vavg1,
        |  list_sum(v2)/3055.0 AS vavg2,
        |  v2[21*65 + 33 + 1] AS chroma_px,
        |  v2[46*65 + 64 + 1] AS chroma_edge_px
        |FROM v""".stripMargin,

    "rs21_jp2_lossy" ->
      """SELECT n_nationkey,
        |  CAST(64 AS INT) AS w, CAST(48 AS INT) AS h,
        |  'EPSG:32610' AS crs, 'UNSIGNED_16BITS' AS ptype,
        |  TRUE AS avg_ok, TRUE AS min_ok, TRUE AS max_ok, TRUE AS px_ok,
        |  TRUE AS smaller_than_lossless
        |FROM nation""".stripMargin,

    // multi-tile JP2: same formula-replay contract as rs18 on a 96x64
    // canvas cut into 32x32 tiles; the seam probe is 0-indexed (33,33)
    // -> 1-based list index 33*96 + 33 + 1
    "rs20_jp2_multitile" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*7919 + (i % 96)*31 + (i // 96)*53) % 60000
        |      AS DOUBLE) for i in range(0, 6144)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(96 AS INT) AS w, CAST(64 AS INT) AS h,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx_out,
        |  'EPSG:32610' AS crs, 'UNSIGNED_16BITS' AS ptype,
        |  list_min(vs) AS vmin, list_max(vs) AS vmax,
        |  list_sum(vs)/6144.0 AS vavg,
        |  vs[3202] AS seam,
        |  TRUE AS compressed
        |FROM v""".stripMargin,

    // per-resolution tile-parts: rs20's formula-replay contract with the
    // rs22 constants (packaging never changes pixels)
    "rs22_jp2_tileparts" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*6131 + (i % 96)*37 + (i // 96)*59) % 60000
        |      AS DOUBLE) for i in range(0, 6144)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(96 AS INT) AS w, CAST(64 AS INT) AS h,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx_out,
        |  'EPSG:32610' AS crs, 'UNSIGNED_16BITS' AS ptype,
        |  list_min(vs) AS vmin, list_max(vs) AS vmax,
        |  list_sum(vs)/6144.0 AS vavg,
        |  vs[3202] AS seam,
        |  TRUE AS compressed
        |FROM v""".stripMargin,

    // constant 8-bit bands survive a q=1.0 JPEG stream exactly (DC-only
    // blocks), so min == max == source value proves the decode
    "rs17_jpeg_geotiff" ->
      """SELECT n_nationkey, 64 AS w, 48 AS h,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx_out,
        |  'EPSG:3857' AS crs,
        |  CAST(n_nationkey*9 % 200 + 10 AS DOUBLE) AS vmin,
        |  CAST(n_nationkey*9 % 200 + 10 AS DOUBLE) AS vmax,
        |  'UNSIGNED_8BITS' AS ptype, TRUE AS compressed
        |FROM nation""".stripMargin,

    // BigTIFF tile pixel i = (n*100 + i) % 97 on a 40x24 grid; sums of
    // small integer doubles are exact, so bavg is order-free
    "rs13_bigtiff_outdb" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*100 + i) % 97 AS DOUBLE) for i in range(0, 960)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(40 AS INT) AS w, CAST(24 AS INT) AS h,
        |  'EPSG:32610' AS crs,
        |  CAST(n_nationkey % 10 AS DOUBLE)*400.0 AS ulx,
        |  vs[378] AS v179,
        |  list_sum(vs)/960.0 AS bavg,
        |  list_max(vs) AS bmax
        |FROM v""".stripMargin,

    // netCDF tile pixel i = (n*100 + i) % 89 on a 4x3 grid
    "rs12_netcdf_roundtrip" ->
      """WITH v AS (SELECT n_nationkey,
        |    [CAST((n_nationkey*100 + i) % 89 AS DOUBLE) for i in range(0, 12)] AS vs
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(4 AS INT) AS w, CAST(3 AS INT) AS h,
        |  'EPSG:4326' AS crs,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx,
        |  vs[6] AS v11,
        |  list_sum(vs)/12.0 AS bavg,
        |  list_max(vs) AS bmax
        |FROM v""".stripMargin,

    // factor-4 overview pixel (r, c) = full pixel (4r, 4c):
    // band1 = (4r*7 + 4c*3) % 101, band2 = (4r*5 + 4c*11) % 89
    "rs11_cog_overview" ->
      """SELECT n_nationkey,
        |  CAST(128 AS INT) AS w, CAST(96 AS INT) AS h,
        |  40.0 AS sx, 500000.0 AS ulx,
        |  CAST((((n_nationkey * 13) % 96) * 4 * 7
        |      + ((n_nationkey * 17) % 128) * 4 * 3) % 101 AS DOUBLE) AS v1,
        |  CAST((((n_nationkey * 13) % 96) * 4 * 5
        |      + ((n_nationkey * 17) % 128) * 4 * 11) % 89 AS DOUBLE) AS v2
        |FROM nation""".stripMargin,

    // scene pixel (r, c): band1 = (r*7 + c*3) % 101, band2 = (r*5 + c*11) % 89;
    // roi covers pixel centers [c0..c0+7] x [r0..r0+5] (48 pixels)
    "rs09_outdb_window" ->
      """WITH n AS (
        |  SELECT n_nationkey,
        |    (n_nationkey * 17) % 512 AS c,
        |    (n_nationkey * 13) % 384 AS r,
        |    (n_nationkey * 11) % 500 AS c0,
        |    (n_nationkey * 29) % 370 AS r0
        |  FROM nation),
        |z AS (
        |  SELECT n_nationkey, c, r,
        |    flatten([[CAST(((r0 + dr) * 7 + (c0 + dc) * 3) % 101 AS DOUBLE)
        |      for dc in range(0, 8)] for dr in range(0, 6)]) AS vs
        |  FROM n)
        |SELECT n_nationkey,
        |  CAST(512 AS INT) AS w, CAST(384 AS INT) AS h,
        |  CAST((r * 7 + c * 3) % 101 AS DOUBLE) AS v1,
        |  CAST((r * 5 + c * 11) % 89 AS DOUBLE) AS v2,
        |  CAST(48 AS BIGINT) AS zcnt,
        |  list_sum(vs) AS zsum,
        |  list_sum(vs) / 48.0 AS zmean,
        |  list_min(vs) AS zmin,
        |  list_max(vs) AS zmax
        |FROM z""".stripMargin,

    // zone covers pixel centers (c,r) with c in 0..2, r in 0..1 ->
    // band indices i = r*4+c in [0,1,2,4,5,6]
    "rs02_zonal_stats" ->
      """WITH v AS (
        |  SELECT p_partkey,
        |    [CAST((p_partkey + i) % 97 AS DOUBLE) for i in [0,1,2,4,5,6]] AS vs
        |  FROM part),
        |m AS (SELECT p_partkey, vs, list_sum(vs)/6 AS mean, list_sort(vs) AS sv
        |  FROM v)
        |SELECT p_partkey,
        |  CAST(6 AS BIGINT) AS zcnt,
        |  list_sum(vs) AS zsum,
        |  mean AS zmean,
        |  list_min(vs) AS zmin,
        |  list_max(vs) AS zmax,
        |  (sv[3] + sv[4]) / 2.0 AS zmed,
        |  sqrt(list_sum([(x - mean) * (x - mean) for x in vs]) / 5) AS zsd
        |FROM m""".stripMargin,

    "rs04_raster_meta" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*10.0 AS ulx,
        |    CAST(p_size % 50 AS DOUBLE)*10.0 AS uly
        |  FROM part)
        |SELECT p_partkey,
        |  2 AS ndims, 'y,x' AS dims,
        |  CAST(3 AS BIGINT) AS shp_y, CAST(4 AS BIGINT) AS shp_x,
        |  round(atan2(-1.0, 2.0), 9) AS rot,
        |  4326 AS srid, 'EPSG:3857' AS crs2, 'REAL_64BITS' AS ptype,
        |  FALSE AS empt, -1.0 AS nd,
        |  ulx - 1.0 AS esri_ulx, uly + 1.0 AS esri_uly,
        |  CAST(p_partkey % 97 AS DOUBLE) AS v00,
        |  CAST((p_partkey + 6) % 97 AS DOUBLE) AS v21,
        |  54.0 AS hull_area,
        |  ulx + 4.0 AS wcx, uly - 2.0 AS wcy,
        |  'POINT (2 1)' AS rc_wkt
        |FROM p""".stripMargin,

    "rs06_nd_slice" ->
      """SELECT p_partkey,
        |  1 AS nb_merged, 3 AS ndims, 'b,y,x' AS dims,
        |  CAST(2 AS BIGINT) AS bsize, CAST(2 AS BIGINT) AS shp0,
        |  CAST((p_partkey*3 + 18) % 101 AS DOUBLE) AS v_slice,
        |  CAST(1 AS BIGINT) AS range_bsize,
        |  2 AS nb_back,
        |  CAST((p_partkey*3 + 21) % 101 AS DOUBLE) AS v_back,
        |  list_sum([CAST((p_partkey*3 + i) % 101 AS DOUBLE) for i in range(0, 12)])
        |    / 12.0 AS bavg1,
        |  CAST(4 AS BIGINT) AS gw, -2.0 AS msy, 2 AS nsd, 0 AS msrid
        |FROM part""".stripMargin,

    // 16 consecutive residues mod 7 cover 0..6, so z_min/z_max are
    // constant; residues (p)%7 and (p+1)%7 appear 3x (the rest 2x), so
    // the smallest-of-most-frequent mode is computable per row
    "rs07_raster_ops" ->
      """WITH p AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*10.0 AS ulx,
        |    [CAST((p_partkey + i) % 7 AS DOUBLE) for i in range(0, 16)] AS vs
        |  FROM part),
        |u AS (SELECT p_partkey, unnest(vs) AS v FROM p),
        |z AS (
        |  SELECT p_partkey, median(v) AS z_median,
        |    stddev_samp(v) AS z_std, var_samp(v) AS z_var
        |  FROM u GROUP BY p_partkey),
        |m AS (
        |  SELECT p_partkey, v AS z_mode FROM (
        |    SELECT p_partkey, v,
        |      row_number() OVER (PARTITION BY p_partkey
        |        ORDER BY count(*) DESC, v DESC) AS rn
        |    FROM u GROUP BY p_partkey, v) WHERE rn = 1)
        |SELECT p.p_partkey,
        |  2 AS clip_w, p.ulx + 2.0 AS clip_ulx, vs[11] AS clip_v00,
        |  4 AS tile_n, 1 AS tile1_w, vs[16] AS tile3_v00,
        |  vs[6] AS near_v00,
        |  (vs[1]+vs[2]+vs[5]+vs[6])/4.0 AS bili_v00,
        |  vs[6] AS rpm_v00,
        |  2 AS burn_w, p.ulx + 1.0 AS burn_ulx, 7.0 AS burn_v00,
        |  2 AS poly_n, CAST(p.p_partkey % 7 AS DOUBLE) AS poly_v0, 2.0 AS poly_area0,
        |  CAST(16 AS BIGINT) AS z_count, list_sum(vs) AS z_sum,
        |  list_sum(vs)/16.0 AS z_mean,
        |  z.z_median, m.z_mode, round(z.z_std, 9) AS z_std, round(z.z_var, 9) AS z_var,
        |  0.0 AS z_min, 6.0 AS z_max
        |FROM p JOIN z USING (p_partkey) JOIN m USING (p_partkey)""".stripMargin,

    // blen: 8 header + 186 IFD (15 entries) + 110 out-of-line payloads
    // (pixel scale 24, tiepoint 48, geokeys 32, nodata ascii 6) + 96 strip
    "rs08_geotiff_roundtrip" ->
      """SELECT n_nationkey,
        |  4 AS w, 3 AS h,
        |  CAST(n_nationkey % 10 AS DOUBLE)*8.0 AS ulx_out,
        |  CAST(n_nationkey % 5 AS DOUBLE)*6.0 AS uly_out,
        |  2.0 AS sx, -2.0 AS sy, 'EPSG:3857' AS crs, -1.0 AS nd,
        |  CAST((n_nationkey*10 + 6) % 89 AS DOUBLE) AS v21,
        |  400 AS blen
        |FROM nation""".stripMargin,

    // v = pixel (col 1, row 2) of chunk (cy,cx) = nationkey*100 + 2*4+1;
    // origins follow the global transform shifted by the chunk pixel origin
    "rs05_zarr_roundtrip" ->
      """SELECT CAST(n_nationkey // 5 AS BIGINT) AS cy,
        |  CAST(n_nationkey % 5 AS BIGINT) AS cx,
        |  CAST(n_nationkey * 100 + 9 AS DOUBLE) AS v,
        |  100.0 + CAST(n_nationkey % 5 AS DOUBLE) * 8.0 AS ulx,
        |  200.0 - CAST(n_nationkey // 5 AS DOUBLE) * 6.0 AS uly
        |FROM nation""".stripMargin,

    "sp10_elements" ->
      """SELECT p_partkey,
        |  2 AS n_parts,
        |  'POINT (' || (p_partkey % 500) || ' ' || (p_size % 60) || ')' AS first_wkt,
        |  'POINT (' || (p_partkey % 500)+5 || ' ' || (p_size % 60)+3 || ')' AS second_wkt,
        |  2 AS n_geoms,
        |  'LINESTRING (' || (p_partkey % 500) || ' ' || (p_size % 60) || ', '
        |    || (p_partkey % 500)+5 || ' ' || (p_size % 60)+3 || ')' AS line_wkt
        |FROM part""".stripMargin
  )
}
