package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.GraftFunctions.st
import graft.sources.{FlatGeobuf, GeoJsonIO, GeoPackage, GeoParquet, GeoTextIO, LasIO, Shapefile}

/** GeoParquet round-trip + covering-column pruning as a correctness-gate
  * query: write part boxes as Hilbert-clustered GeoParquet with a bbox
  * covering column, read back through the pruned spatial filter, verify
  * the surviving keys against plain interval SQL.
  */
object IoQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gp01_geoparquet_prune" -> ((s, dir) => {
      val boxes = t(s, dir, "part")
        .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
        .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
        .withColumn("geom", st.makeEnvelope(col("bxmin"), col("bymin"),
          col("bxmin") + (col("p_partkey") % 7 + 1).cast("double"),
          col("bymin") + (col("p_size") % 5 + 1).cast("double")))
        .select(col("p_partkey"), col("geom"))
      val path = s"/tmp/graft_gp/${math.abs(dir.hashCode)}"
      GeoParquet.write(boxes, path, "geom")
      GeoParquet.read(s, path)
        .filter(st.intersects(col("geom"),
          st.makeEnvelope(lit(200.0), lit(100.0), lit(600.0), lit(400.0))))
        .select(col("p_partkey"))
    }),

    // GeoParquet 1.1 geoarrow encoding roundtrip: box polygons written as
    // nested coordinate arrays ("polygon" encoding) + points as
    // struct<x,y> ("point"), read back through the encoding-aware rebind
    // (sd_fromgeoarrow_*), then projected to numerics the oracle
    // recomputes from the generator formulas.
    "gp02_geoarrow_roundtrip" -> ((s, dir) => {
      val base = s"/tmp/graft_geoarrow/${math.abs(dir.hashCode)}"
      val boxes = t(s, dir, "part")
        .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
        .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
        .withColumn("geom", st.makeEnvelope(col("bxmin"), col("bymin"),
          col("bxmin") + (col("p_partkey") % 7 + 1).cast("double"),
          col("bymin") + (col("p_size") % 5 + 1).cast("double")))
        .select(col("p_partkey"), col("geom"))
      GeoParquet.write(boxes, s"$base/polys", "geom", crs = "EPSG:3857",
        encoding = "polygon")
      val pts = t(s, dir, "part")
        .withColumn("pt", st.point((col("p_partkey") % 100).cast("double") * 2.0,
          (col("p_size") % 50).cast("double") * 3.0))
        .select(col("p_partkey"), col("pt"))
      GeoParquet.write(pts, s"$base/pts", "pt", crs = "EPSG:3857",
        encoding = "point")
      GeoParquet.read(s, s"$base/polys")
        .join(GeoParquet.read(s, s"$base/pts"), "p_partkey")
        .select(col("p_partkey"),
          st.f("st_area", col("geom")).as("area"),
          st.xmin(col("geom")).as("bxmin"),
          st.ymin(col("geom")).as("bymin"),
          st.x(col("pt")).as("px"),
          st.y(col("pt")).as("py"))
    }),

    // sd_random_geometry table function: the generator's per-(seed,id)
    // hash values aren't DuckDB-expressible, so the gate pins the
    // documented CONTRACT — full id sequence, geometry type, bounds
    // containment (box size in [1,6) beyond the min corner), dist in
    // [0,1), validity — via constants the oracle restates. Seed fixed so
    // the run is deterministic; the SQL table-function surface itself is
    // what's exercised.
    "io07_random_geometry" -> ((s, _) => {
      s.sql(
        """SELECT id,
          |  st_geometrytype(geometry) AS gtype,
          |  st_isvalid(geometry) AS valid,
          |  st_xmin(geometry) >= 0.0 AND st_xmin(geometry) < 50.0
          |    AND st_ymin(geometry) >= 0.0 AND st_ymin(geometry) < 40.0
          |    AND st_xmax(geometry) - st_xmin(geometry) >= 1.0
          |    AND st_xmax(geometry) - st_xmin(geometry) < 6.0
          |    AND st_ymax(geometry) - st_ymin(geometry) >= 1.0
          |    AND st_ymax(geometry) - st_ymin(geometry) < 6.0 AS in_bounds,
          |  dist >= 0.0 AND dist < 1.0 AS dist_ok
          |FROM sd_random_geometry('{"num_rows": 2000, "seed": 7,
          |  "geometry_type": "box", "bounds": [0, 0, 50, 40],
          |  "num_partitions": 8}')""".stripMargin)
    }),

    // Native parquet GEOMETRY logical type (parquet-format 2.11; what
    // sedona-db and GeoPandas store_schema=False emit — reference
    // io/test_parquet.py "Parquet Geometry" cases). Spark's own schema
    // inference rejects the annotation, so this gate proves the
    // explicit-schema read path end-to-end: files written per-partition
    // with the annotated schema, read back via GeoParquet.read, CRS
    // carried from the logical type.
    "io08_native_geometry" -> ((s, dir) => {
      val base = s"/tmp/graft_native_geom/${math.abs(dir.hashCode)}"
      // clean slate: partition->file grouping is not stable across runs,
      // so stale files from a previous run would duplicate rows
      val baseDir = new java.io.File(base)
      if (baseDir.isDirectory) baseDir.listFiles().foreach(_.delete())
      baseDir.mkdirs()
      t(s, dir, "nation").select(col("n_nationkey").cast("int"))
        .repartition(4)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          import org.apache.parquet.schema._
          import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
          import org.apache.parquet.example.data.simple.SimpleGroup
          val rows = it.toSeq
          if (rows.nonEmpty) {
            val schema = new MessageType("spark_schema",
              Types.required(PrimitiveType.PrimitiveTypeName.INT32).named("n_nationkey"),
              Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
                .as(LogicalTypeAnnotation.geometryType("EPSG:32620")).named("geometry"))
            val conf = new org.apache.hadoop.conf.Configuration()
            GroupWriteSupport.setSchema(schema, conf)
            val part = rows.map(_.getInt(0)).min
            val f = s"$base/part_$part.parquet"
            new java.io.File(f).delete()
            val w = ExampleParquetWriter.builder(
              new org.apache.hadoop.fs.Path(f)).withConf(conf).build()
            val gf = new org.locationtech.jts.geom.GeometryFactory()
            rows.foreach { r =>
              val n = r.getInt(0)
              val wkb = graft.geom.GeomIO.write(gf.createPoint(
                new org.locationtech.jts.geom.Coordinate(n * 1.5, n * 2.5)))
              val g = new SimpleGroup(schema)
              g.add("n_nationkey", n)
              g.add("geometry",
                org.apache.parquet.io.api.Binary.fromConstantByteArray(wkb))
              w.write(g)
            }
            w.close()
          }
        }
      val df = GeoParquet.read(s, base)
      // the crs literal is read off the tagged schema — MISSING (and a
      // gate mismatch) if the logical-type CRS plumbing broke
      val crs = GeoParquet.geometryColumns(df).toMap.getOrElse("geometry", "MISSING")
      df.select(col("n_nationkey"),
        st.f("st_x", col("geometry")).as("x"),
        st.f("st_y", col("geometry")).as("y"),
        lit(crs).as("crs"))
    }),

    // CSV + JSON round trip with WKT geometry transcoding
    "io02_csv_json_roundtrip" -> ((s, dir) => {
      val boxes = t(s, dir, "part")
        .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
        .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
        .withColumn("geom", st.makeEnvelope(col("bxmin"), col("bymin"),
          col("bxmin") + (col("p_partkey") % 7 + 1).cast("double"),
          col("bymin") + (col("p_size") % 5 + 1).cast("double")))
        .select(col("p_partkey"), col("geom"))
      val base = s"/tmp/graft_textio/${math.abs(dir.hashCode)}"
      GeoTextIO.writeCsv(boxes, s"$base/csv", Seq("geom"))
      GeoTextIO.writeJson(boxes, s"$base/json", Seq("geom"))
      val fromCsv = GeoTextIO.readCsv(s, s"$base/csv", Seq("geom"))
        .select(col("p_partkey"), st.area(col("geom")).as("csv_area"))
      val fromJson = GeoTextIO.readJson(s, s"$base/json", Seq("geom"))
        .select(col("p_partkey"), st.area(col("geom")).as("json_area"))
      fromCsv.join(fromJson, "p_partkey")
        .select(col("p_partkey"), col("csv_area"), col("json_area"))
    }),

    // newline-delimited GeoJSON feature roundtrip (mixed point/box
    // geometries in one file — per-row geometry parse, no inference)
    "io03_geojson_roundtrip" -> ((s, dir) => {
      val feats = t(s, dir, "part")
        .withColumn("bxmin", (col("p_partkey") % 100).cast("double") * 20.0)
        .withColumn("bymin", (col("p_size") % 50).cast("double") * 20.0)
        .withColumn("geom", when(col("p_partkey") % 3 === 0,
            st.point(col("bxmin"), col("bymin")))
          .otherwise(st.makeEnvelope(col("bxmin"), col("bymin"),
            col("bxmin") + (col("p_partkey") % 7 + 1).cast("double"),
            col("bymin") + (col("p_size") % 5 + 1).cast("double"))))
        .select(col("p_partkey"), col("geom"))
      val path = s"/tmp/graft_geojson/${math.abs(dir.hashCode)}"
      GeoJsonIO.write(feats, path, "geom")
      GeoJsonIO.read(s, path, "geom")
        .select(col("p_partkey").cast("long").as("p_partkey"),
          st.f("st_geometrytype", col("geom")).as("gtype"),
          st.area(col("geom")).as("area"),
          st.f("st_npoints", col("geom")).as("npoints"))
    }),

    // FlatGeobuf roundtrip (hand-implemented spec: flatbuffers framing,
    // mixed geometry types, typed properties)
    "io04_flatgeobuf_roundtrip" -> ((s, dir) => {
      val feats = t(s, dir, "supplier")
        .withColumn("sx", (col("s_suppkey") % 90).cast("double") * 10.0)
        .withColumn("sy", (col("s_suppkey") % 70).cast("double") * 10.0)
        .withColumn("geom", when(col("s_suppkey") % 2 === 0,
            st.point(col("sx"), col("sy")))
          .otherwise(st.makeEnvelope(col("sx"), col("sy"),
            col("sx") + (col("s_suppkey") % 5 + 1).cast("double"),
            col("sy") + (col("s_suppkey") % 3 + 1).cast("double"))))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal").cast("double").as("bal"),
          col("geom"))
      val path = s"/tmp/graft_fgb/${math.abs(dir.hashCode)}"
      FlatGeobuf.write(feats, path, "geom")
      FlatGeobuf.read(s, path, "geom")
        .select(col("s_suppkey"), col("s_name"), col("bal"),
          st.f("st_geometrytype", col("geom")).as("gtype"),
          st.area(col("geom")).as("area"))
    }),

    // Shapefile roundtrip (hand-implemented ESRI spec: .shp/.shx/.dbf).
    // One geometry family per file (spec), so this writes polygons; DBF F
    // fields carry doubles at %.17G for bit-exact roundtrip.
    "io05_shapefile_roundtrip" -> ((s, dir) => {
      val feats = t(s, dir, "supplier")
        .withColumn("sx", (col("s_suppkey") % 90).cast("double") * 10.0)
        .withColumn("sy", (col("s_suppkey") % 70).cast("double") * 10.0)
        .withColumn("geom", st.makeEnvelope(col("sx"), col("sy"),
          col("sx") + (col("s_suppkey") % 5 + 1).cast("double"),
          col("sy") + (col("s_suppkey") % 3 + 1).cast("double")))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal").cast("double").as("bal"),
          col("geom"))
      val path = s"/tmp/graft_shp/${math.abs(dir.hashCode)}"
      Shapefile.write(feats, path, "geom")
      Shapefile.read(s, path, "geom")
        .select(col("s_suppkey"), col("s_name"), col("bal"),
          st.f("st_geometrytype", col("geom")).as("gtype"),
          st.area(col("geom")).as("area"))
    }),

    // GeoPackage roundtrip (hand-implemented SQLite container + OGC
    // 12-128r19 GPB blobs / gpkg_* metadata; mixed geometry types OK in
    // one GEOMETRY column, unlike shapefile)
    "io06_geopackage_roundtrip" -> ((s, dir) => {
      val feats = t(s, dir, "supplier")
        .withColumn("sx", (col("s_suppkey") % 90).cast("double") * 10.0)
        .withColumn("sy", (col("s_suppkey") % 70).cast("double") * 10.0)
        .withColumn("geom", when(col("s_suppkey") % 2 === 0,
            st.point(col("sx"), col("sy")))
          .otherwise(st.makeEnvelope(col("sx"), col("sy"),
            col("sx") + (col("s_suppkey") % 5 + 1).cast("double"),
            col("sy") + (col("s_suppkey") % 3 + 1).cast("double"))))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal").cast("double").as("bal"),
          col("geom"))
      val path = s"/tmp/graft_gpkg/${math.abs(dir.hashCode)}"
      GeoPackage.write(feats, path, "geom", table = "suppliers", srid = 4326)
      GeoPackage.read(s, path)
        .select(col("s_suppkey"), col("s_name"), col("bal"),
          st.f("st_geometrytype", col("geometry")).as("gtype"),
          st.area(col("geometry")).as("area"))
    }),

    // LAS point-cloud roundtrip (ASPRS 1.2, point format 1). Scale 0.25
    // -> i32 quantization is exact for quarter-step coordinates, so the
    // read-back doubles hash-match the oracle's formulas directly.
    // COPC octree point cloud: a 20k-point cloud written once with
    // per-node chunks + hierarchy, then PER-NATION bbox queries read
    // through the hierarchy (only intersecting nodes decode — the
    // point-cloud analog of the rs09 windowed-raster gate) with an exact
    // in-box refine, so the result is independent of octree layout and
    // the oracle regenerates it from the arithmetic point formulas.
    // Coordinates are dyadic eighths: quantization at scale 1/8 and the
    // in-box sums stay bit-exact.
    // Distributed tiled COPC: writeTiled partitions the cloud by global
    // octant cells and every task serializes its own COPC tile (no point
    // data on the driver); readTiled prunes whole files by header bbox,
    // then per-file octree nodes by the hierarchy — two pruning levels
    // before any point decodes.
    "pc07_copc_tiled" -> ((s, dir) => {
      val base = s"/tmp/graft_copc_tiled_gate/${math.abs(dir.hashCode)}"
      val src = s.range(60000).select(
        ((col("id") * 41) % 9600).cast("double")./(8.0).as("x"),
        ((col("id") * 67) % 7200).cast("double")./(8.0).as("y"),
        ((col("id") * 19) % 960).cast("double")./(8.0).as("z"),
        (col("id") % 60000).as("intensity"),
        (col("id") % 32).as("classification"),
        (col("id").cast("double") * 0.25).as("gps_time"))
      graft.sources.Copc.writeTiled(src, base, scale = 0.125,
        maxPerNode = 1024, targetPerTile = 8000)
      // optimization r17: the 25 per-box aggregate jobs (25 scans, 25
      // exchanges) collapse into ONE tagged scan + one grouped aggregate;
      // both pruning levels still run per box, the refine is the same
      // exact comparison re-derived from qid, and the grouped shape
      // matches the oracle's JOIN..GROUP BY (boxes here are never empty,
      // certified by the row-count compare).
      val boxes = (0 until 25).map { n =>
        val bx = (n * 83 % 1000).toDouble
        val by = (n * 61 % 800).toDouble
        (n.toLong, (bx, by, bx + 120, by + 90))
      }
      val bx = (col("qid") * 83 % 1000).cast("double")
      val by = (col("qid") * 61 % 800).cast("double")
      // opt r18 (ADVICE r17): the grouped aggregate left-joins back to
      // the static box list so output arity is invariant to box
      // emptiness (an empty box emits npts=0 + null aggregates, the
      // LEFT JOIN .. GROUP BY oracle shape) instead of depending on the
      // fixture leaving no box empty. One tiny broadcast join.
      val agged = graft.sources.Copc.readTiledMulti(s, base, boxes)
        .filter(col("x") >= bx && col("x") <= bx + 120 &&
          col("y") >= by && col("y") <= by + 90)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("npts"),
          sum(col("intensity")).as("sum_int"),
          sum(col("x")).as("sum_x"),
          min(col("gps_time")).as("min_gps"),
          max(col("gps_time")).as("max_gps"))
      // the aggregate side is <= 25 rows by construction (one per box):
      // broadcast it so the arity join never shuffles (stats over the
      // ExistingRDD scan are unknown, so AQE would plan an SMJ)
      s.range(0, 25).select(col("id").as("qid"))
        .join(broadcast(agged), Seq("qid"), "left")
        .select(col("qid").as("n_nationkey"),
          coalesce(col("npts"), lit(0L)).as("npts"),
          col("sum_int"), col("sum_x"), col("min_gps"), col("max_gps"))
    }),

    "pc06_copc_bbox" -> ((s, dir) => {
      val base = s"/tmp/graft_copc_gate/${math.abs(dir.hashCode)}"
      new java.io.File(base).mkdirs()
      val path = s"$base/cloud.copc.laz"
      val src = s.range(20000).select(
        ((col("id") * 37) % 8000).cast("double")./(8.0).as("x"),
        ((col("id") * 59) % 6400).cast("double")./(8.0).as("y"),
        ((col("id") * 17) % 800).cast("double")./(8.0).as("z"),
        (col("id") % 60000).as("intensity"),
        (col("id") % 32).as("classification"),
        (col("id").cast("double") * 0.25).as("gps_time"))
      graft.sources.Copc.write(src, path, scale = 0.125, maxPerNode = 1024)
      // optimization r17: one tagged scan + one grouped aggregate instead
      // of 25 independent aggregate jobs (see pc07 note; per-box node
      // pruning and the exact refine are unchanged).
      val boxes = (0 until 25).map { n =>
        val bx = (n * 73 % 900).toDouble
        val by = (n * 97 % 700).toDouble
        (n.toLong, (bx, by, bx + 100, by + 80))
      }
      val bx = (col("qid") * 73 % 900).cast("double")
      val by = (col("qid") * 97 % 700).cast("double")
      // empty-box arity invariance via the static box list — see pc07
      val agged = graft.sources.Copc.readMulti(s, path, boxes)
        .filter(col("x") >= bx && col("x") <= bx + 100 &&
          col("y") >= by && col("y") <= by + 80)
        .groupBy(col("qid"))
        .agg(count(lit(1)).as("npts"),
          sum(col("intensity")).as("sum_int"),
          sum(col("x")).as("sum_x"),
          min(col("gps_time")).as("min_gps"),
          max(col("gps_time")).as("max_gps"))
      // the aggregate side is <= 25 rows by construction (one per box):
      // broadcast it so the arity join never shuffles (stats over the
      // ExistingRDD scan are unknown, so AQE would plan an SMJ)
      s.range(0, 25).select(col("id").as("qid"))
        .join(broadcast(agged), Seq("qid"), "left")
        .select(col("qid").as("n_nationkey"),
          coalesce(col("npts"), lit(0L)).as("npts"),
          col("sum_int"), col("sum_x"), col("min_gps"), col("max_gps"))
    }),

    "pc01_las_roundtrip" -> ((s, dir) => {
      val pts = t(s, dir, "customer")
        .select(
          (col("c_custkey") % 1000).cast("double") * 0.25 as "x",
          (col("c_custkey") % 770).cast("double") * 0.5 as "y",
          (col("c_nationkey")).cast("double") * 0.25 as "z",
          (col("c_custkey") % 100).cast("long") as "intensity",
          (col("c_nationkey") % 32).cast("long") as "classification",
          (col("c_custkey")).cast("double") * 1.5 as "gps_time")
      val path = s"/tmp/graft_las/${math.abs(dir.hashCode)}"
      LasIO.write(pts, path, scale = 0.25)
      LasIO.read(s, path)
        .groupBy(col("classification"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("z")).as("sz"), sum(col("intensity")).as("si"),
          sum(col("gps_time")).as("sg"))
    }),

    // LAZ (LASzip chunked-layered, LAS 1.4 point format 6) decode of the
    // reference's fixture; the oracle is the fixture generator's ground
    // truth (tests/data/generate.py: 50k points at 0.5³, 50k at 1.0³),
    // independent of our decoder. Coordinates are exact doubles:
    // raw*0.1+1.0 rounds to exactly 0.5 / 1.0.
    "pc02_laz_fixture" -> ((s, _) => {
      // fixture root is env-overridable; fail with a clear message when
      // the fixture tree is absent rather than erroring mid-scan
      val root = sys.env.getOrElse("GRAFT_FIXTURE_ROOT",
        "/root/reference/rust/sedona-pointcloud/tests/data")
      val laz = s"$root/large.laz"
      require(new java.io.File(laz).isFile,
        s"pc02_laz_fixture: fixture $laz not found — set GRAFT_FIXTURE_ROOT")
      LasIO.read(s, laz)
        .groupBy(col("x"), col("y"), col("z"))
        .agg(count(lit(1)).as("n"), sum(col("intensity")).as("si"),
          max(col("classification")).as("mc"))
    }),

    // Full LAZ cycle on driver testdata: write LAS 1.4 fmt6 LASzip
    // (chunked layered v3, our encoder), read back through the chunk-
    // parallel decoder, aggregate — dyadic quarter/half-step doubles so
    // sums are exact and order-free (same determinism as pc01).
    // Legacy LAZ cycle: LAS 1.2 format 1 through the POINTWISE codec
    // (compressor 2, POINT10+GPSTIME11 v2) — write, decode back, same
    // dyadic-exactness contract as pc03.
    "pc04_legacy_laz" -> ((s, dir) => {
      val pts = t(s, dir, "customer")
        .select(
          (col("c_custkey") % 1000).cast("double") * 0.25 as "x",
          (col("c_custkey") % 770).cast("double") * 0.5 as "y",
          (col("c_nationkey")).cast("double") * 0.25 as "z",
          (col("c_custkey") % 100).cast("long") as "intensity",
          (col("c_nationkey") % 32).cast("long") as "classification",
          (col("c_custkey")).cast("double") * 1.5 as "gps_time")
      val path = s"/tmp/graft_laz_legacy/${math.abs(dir.hashCode)}"
      LasIO.write(pts, path, scale = 0.25, compress = true)
      LasIO.read(s, path)
        .groupBy(col("classification"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("z")).as("sz"), sum(col("intensity")).as("si"),
          sum(col("gps_time")).as("sg"))
    }),

    "pc03_laz_roundtrip" -> ((s, dir) => {
      val pts = t(s, dir, "customer")
        .select(
          (col("c_custkey") % 1000).cast("double") * 0.25 as "x",
          (col("c_custkey") % 770).cast("double") * 0.5 as "y",
          (col("c_nationkey")).cast("double") * 0.25 as "z",
          (col("c_custkey") % 100).cast("long") as "intensity",
          (col("c_nationkey") % 32).cast("long") as "classification",
          (col("c_custkey")).cast("double") * 1.5 as "gps_time")
      val path = s"/tmp/graft_laz/${math.abs(dir.hashCode)}"
      LasIO.writeFmt6(pts, path, scale = 0.25, compress = true)
      LasIO.read(s, path)
        .groupBy(col("classification"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("z")).as("sz"), sum(col("intensity")).as("si"),
          sum(col("gps_time")).as("sg"))
    }),

    // RGB/NIR LAZ cycle: LAS 1.4 point format 8 through the chunked-
    // layered codec's RGB14/NIR v3 layers (RGBNIR14 item) — write, read
    // back, aggregate the color channels alongside the coordinates.
    "pc05_rgb_laz" -> ((s, dir) => {
      val pts = t(s, dir, "customer")
        .select(
          (col("c_custkey") % 1000).cast("double") * 0.25 as "x",
          (col("c_custkey") % 770).cast("double") * 0.5 as "y",
          (col("c_nationkey")).cast("double") * 0.25 as "z",
          (col("c_custkey") % 100).cast("long") as "intensity",
          (col("c_nationkey") % 32).cast("long") as "classification",
          (col("c_custkey")).cast("double") * 1.5 as "gps_time",
          (col("c_custkey") * 7 % 65536).cast("long") as "red",
          (col("c_custkey") * 11 % 65536).cast("long") as "green",
          (col("c_custkey") * 13 % 65536).cast("long") as "blue",
          (col("c_custkey") * 17 % 65536).cast("long") as "nir")
      val path = s"/tmp/graft_laz_rgb/${math.abs(dir.hashCode)}"
      LasIO.writeFmt6(pts, path, scale = 0.25, compress = true)
      LasIO.read(s, path)
        .groupBy(col("classification"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("intensity")).as("si"), sum(col("red")).as("sr"),
          sum(col("green")).as("sg2"), sum(col("blue")).as("sb"),
          sum(col("nir")).as("sn"))
    }))

  val oracles: Map[String, String] = Map(
    // contract constants over the full id range (range() is 0..n-1)
    "io07_random_geometry" ->
      """SELECT CAST(range AS INT) AS id,
        |  'ST_Polygon' AS gtype,
        |  true AS valid,
        |  true AS in_bounds,
        |  true AS dist_ok
        |FROM range(2000)""".stripMargin,

    // coordinates are a pure function of the key; crs comes off the
    // logical-type tag the explicit-schema read carries through
    "io08_native_geometry" ->
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey,
        |  CAST(n_nationkey AS DOUBLE)*1.5 AS x,
        |  CAST(n_nationkey AS DOUBLE)*2.5 AS y,
        |  'EPSG:32620' AS crs
        |FROM nation""".stripMargin,

    "gp02_geoarrow_roundtrip" ->
      """SELECT p_partkey,
        |  CAST((p_partkey % 7 + 1) * (p_size % 5 + 1) AS DOUBLE) AS area,
        |  CAST(p_partkey % 100 AS DOUBLE) * 20.0 AS bxmin,
        |  CAST(p_size % 50 AS DOUBLE) * 20.0 AS bymin,
        |  CAST(p_partkey % 100 AS DOUBLE) * 2.0 AS px,
        |  CAST(p_size % 50 AS DOUBLE) * 3.0 AS py
        |FROM part""".stripMargin,

    "gp01_geoparquet_prune" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 100 AS DOUBLE)*20.0 AS bxmin,
        |    CAST(p_size % 50 AS DOUBLE)*20.0 AS bymin,
        |    CAST(p_partkey % 7 + 1 AS DOUBLE) AS bw,
        |    CAST(p_size % 5 + 1 AS DOUBLE) AS bh
        |  FROM part)
        |SELECT p_partkey FROM b
        |WHERE bxmin <= 600 AND bxmin + bw >= 200
        |  AND bymin <= 400 AND bymin + bh >= 100""".stripMargin,

    "io02_csv_json_roundtrip" ->
      """SELECT p_partkey,
        |  CAST(p_partkey % 7 + 1 AS DOUBLE) * CAST(p_size % 5 + 1 AS DOUBLE) AS csv_area,
        |  CAST(p_partkey % 7 + 1 AS DOUBLE) * CAST(p_size % 5 + 1 AS DOUBLE) AS json_area
        |FROM part""".stripMargin,

    "io03_geojson_roundtrip" ->
      """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
        |  CASE WHEN p_partkey % 3 = 0 THEN 'ST_Point' ELSE 'ST_Polygon' END AS gtype,
        |  CASE WHEN p_partkey % 3 = 0 THEN 0.0
        |    ELSE CAST(p_partkey % 7 + 1 AS DOUBLE) * CAST(p_size % 5 + 1 AS DOUBLE) END AS area,
        |  CASE WHEN p_partkey % 3 = 0 THEN 1 ELSE 5 END AS npoints
        |FROM part""".stripMargin,

    "io04_flatgeobuf_roundtrip" ->
      """SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 'ST_Point' ELSE 'ST_Polygon' END AS gtype,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 0.0
        |    ELSE CAST(s_suppkey % 5 + 1 AS DOUBLE) * CAST(s_suppkey % 3 + 1 AS DOUBLE) END AS area
        |FROM supplier""".stripMargin,

    "io05_shapefile_roundtrip" ->
      """SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        |  'ST_Polygon' AS gtype,
        |  CAST(s_suppkey % 5 + 1 AS DOUBLE) * CAST(s_suppkey % 3 + 1 AS DOUBLE) AS area
        |FROM supplier""".stripMargin,

    "io06_geopackage_roundtrip" ->
      """SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS bal,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 'ST_Point' ELSE 'ST_Polygon' END AS gtype,
        |  CASE WHEN s_suppkey % 2 = 0 THEN 0.0
        |    ELSE CAST(s_suppkey % 5 + 1 AS DOUBLE) * CAST(s_suppkey % 3 + 1 AS DOUBLE) END AS area
        |FROM supplier""".stripMargin,

    // sums are over dyadic-rational doubles (quarter/half steps), so
    // float addition is exact and order-independent across engines
    "pc07_copc_tiled" ->
      """WITH p AS (SELECT CAST(range AS BIGINT) AS id,
        |    CAST((range*41) % 9600 AS DOUBLE)/8.0 AS x,
        |    CAST((range*67) % 7200 AS DOUBLE)/8.0 AS y
        |  FROM range(0, 60000)),
        |n AS (SELECT n_nationkey,
        |    CAST((n_nationkey*83) % 1000 AS DOUBLE) AS bx,
        |    CAST((n_nationkey*61) % 800 AS DOUBLE) AS by2
        |  FROM nation)
        |SELECT n.n_nationkey,
        |  COUNT(p.id) AS npts,
        |  CAST(SUM(p.id % 60000) AS BIGINT) AS sum_int,
        |  SUM(p.x) AS sum_x,
        |  MIN(p.id * 0.25) AS min_gps,
        |  MAX(p.id * 0.25) AS max_gps
        |FROM n LEFT JOIN p
        |ON p.x >= n.bx AND p.x <= n.bx + 120
        |AND p.y >= n.by2 AND p.y <= n.by2 + 90
        |GROUP BY n.n_nationkey""".stripMargin,

    "pc06_copc_bbox" ->
      """WITH p AS (SELECT CAST(range AS BIGINT) AS id,
        |    CAST((range*37) % 8000 AS DOUBLE)/8.0 AS x,
        |    CAST((range*59) % 6400 AS DOUBLE)/8.0 AS y
        |  FROM range(0, 20000)),
        |n AS (SELECT n_nationkey,
        |    CAST((n_nationkey*73) % 900 AS DOUBLE) AS bx,
        |    CAST((n_nationkey*97) % 700 AS DOUBLE) AS by2
        |  FROM nation)
        |SELECT n.n_nationkey,
        |  COUNT(p.id) AS npts,
        |  CAST(SUM(p.id % 60000) AS BIGINT) AS sum_int,
        |  SUM(p.x) AS sum_x,
        |  MIN(p.id * 0.25) AS min_gps,
        |  MAX(p.id * 0.25) AS max_gps
        |FROM n LEFT JOIN p
        |ON p.x >= n.bx AND p.x <= n.bx + 100
        |AND p.y >= n.by2 AND p.y <= n.by2 + 80
        |GROUP BY n.n_nationkey""".stripMargin,

    "pc01_las_roundtrip" ->
      """SELECT CAST(c_nationkey % 32 AS BIGINT) AS classification,
        |  COUNT(*) AS n,
        |  SUM(CAST(c_custkey % 1000 AS DOUBLE)*0.25) AS sx,
        |  SUM(CAST(c_custkey % 770 AS DOUBLE)*0.5) AS sy,
        |  SUM(CAST(c_nationkey AS DOUBLE)*0.25) AS sz,
        |  CAST(SUM(c_custkey % 100) AS BIGINT) AS si,
        |  SUM(CAST(c_custkey AS DOUBLE)*1.5) AS sg
        |FROM customer GROUP BY 1""".stripMargin,

    // ground truth restated from the reference's fixture generator
    // (rust/sedona-pointcloud/tests/data/generate.py), not from our decoder
    "pc02_laz_fixture" ->
      """SELECT CAST(0.5 AS DOUBLE) AS x, CAST(0.5 AS DOUBLE) AS y,
        |  CAST(0.5 AS DOUBLE) AS z, CAST(50000 AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS si, CAST(0 AS BIGINT) AS mc
        |UNION ALL
        |SELECT CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
        |  CAST(50000 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin,

    "pc03_laz_roundtrip" ->
      """SELECT CAST(c_nationkey % 32 AS BIGINT) AS classification,
        |  COUNT(*) AS n,
        |  SUM(CAST(c_custkey % 1000 AS DOUBLE)*0.25) AS sx,
        |  SUM(CAST(c_custkey % 770 AS DOUBLE)*0.5) AS sy,
        |  SUM(CAST(c_nationkey AS DOUBLE)*0.25) AS sz,
        |  CAST(SUM(c_custkey % 100) AS BIGINT) AS si,
        |  SUM(CAST(c_custkey AS DOUBLE)*1.5) AS sg
        |FROM customer GROUP BY 1""".stripMargin,

    "pc04_legacy_laz" ->
      """SELECT CAST(c_nationkey % 32 AS BIGINT) AS classification,
        |  COUNT(*) AS n,
        |  SUM(CAST(c_custkey % 1000 AS DOUBLE)*0.25) AS sx,
        |  SUM(CAST(c_custkey % 770 AS DOUBLE)*0.5) AS sy,
        |  SUM(CAST(c_nationkey AS DOUBLE)*0.25) AS sz,
        |  CAST(SUM(c_custkey % 100) AS BIGINT) AS si,
        |  SUM(CAST(c_custkey AS DOUBLE)*1.5) AS sg
        |FROM customer GROUP BY 1""".stripMargin,

    "pc05_rgb_laz" ->
      """SELECT CAST(c_nationkey % 32 AS BIGINT) AS classification,
        |  COUNT(*) AS n,
        |  SUM(CAST(c_custkey % 1000 AS DOUBLE)*0.25) AS sx,
        |  CAST(SUM(c_custkey % 100) AS BIGINT) AS si,
        |  CAST(SUM(c_custkey * 7 % 65536) AS BIGINT) AS sr,
        |  CAST(SUM(c_custkey * 11 % 65536) AS BIGINT) AS sg2,
        |  CAST(SUM(c_custkey * 13 % 65536) AS BIGINT) AS sb,
        |  CAST(SUM(c_custkey * 17 % 65536) AS BIGINT) AS sn
        |FROM customer GROUP BY 1""".stripMargin)
}
