package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.st
import graft.operators.SpatialJoins
import graft.sources.RandomGeometry

/** Per-operator micro-benchmarks mirroring the reference's benchmark
  * classes (reference/benchmarks/test_{functions,predicates,distance,
  * overlay,aggregates,knn,transform}.py over polygons_simple/
  * polygons_complex/points_simple — see BASELINE.md). Prints one JSON
  * line; row counts via env SPARK_GRAFT_MICRO_N (default 200k).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_MICRO_N", "200000").toLong
    val spark = GraftExtensions.localSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "ERROR")

    def cached(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }
    val polySimple = cached(RandomGeometry.polygons(spark, n, seed = 1, nVertices = 8)
      .withColumnRenamed("geom", "geom1")
      .withColumn("geom2", st.f("st_translate", col("geom1"), lit(1.5), lit(0.5))))
    val polyComplex = cached(RandomGeometry.polygons(spark, n / 4, seed = 2, nVertices = 64)
      .withColumnRenamed("geom", "geom1")
      .withColumn("geom2", st.f("st_translate", col("geom1"), lit(1.5), lit(0.5))))
    val points = cached(RandomGeometry.points(spark, n, seed = 3)
      .withColumnRenamed("geom", "geom1")
      .withColumn("geom2", st.point(pmod(hash(col("id"), lit(9)), lit(1000)) / 10.0,
        pmod(hash(col("id"), lit(10)), lit(1000)) / 10.0)))

    def time(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); f
      name -> (System.nanoTime() - t0) / 1e9
    }
    def run(df: DataFrame): Unit = { df.write.format("noop").mode("overwrite").save() }

    // round-8 kernel fixtures (built outside the timed sections):
    // a 2048x1024 netCDF scene for out-db windowed sampling, a COG with
    // 2/4/8 overviews, and a synthetic NTv2 grid over lat/lon 10..20
    val microDir = new java.io.File("/tmp/graft_micro_r8"); microDir.mkdirs()
    val ncScene = new java.io.File(microDir, "scene.nc")
    if (!ncScene.exists()) {
      val w = 2048; val h = 1024
      val vals = Array.tabulate(w * h)(i => (i % 251).toDouble)
      java.nio.file.Files.write(ncScene.toPath, graft.sources.NetCdf.write(
        graft.functions.RasterModel.Raster("EPSG:32610",
          Array(0.0, 10.0, 0.0, 0.0, 0.0, -10.0), w, h,
          Vector(graft.functions.RasterModel.Band(Double.NaN,
            graft.functions.RasterModel.packDoubles(vals))))))
    }
    val cogScene = new java.io.File(microDir, "scene_cog.tif")
    if (!cogScene.exists()) {
      val w = 1024; val h = 768
      val vals = Array.tabulate(w * h)(i => (i % 251).toDouble)
      java.nio.file.Files.write(cogScene.toPath, graft.sources.GeoTiff.writeCog(
        graft.functions.RasterModel.Raster("EPSG:32610",
          Array(0.0, 10.0, 0.0, 0.0, 0.0, -10.0), w, h,
          Vector(graft.functions.RasterModel.Band(Double.NaN,
            graft.functions.RasterModel.packDoubles(vals)))), 64, 64, Seq(2, 4, 8), 8))
    }
    val gsb = new java.io.File(microDir, "grid.gsb")
    if (!gsb.exists()) {
      val latS = Array.tabulate(21 * 21)(i => ((i / 21) * 2 + i % 21) * 0.125f + 1.0f)
      val lonS = Array.tabulate(21 * 21)(i => ((i / 21) + (i % 21) * 3) * 0.0625f - 2.0f)
      java.nio.file.Files.write(gsb.toPath, graft.sources.Ntv2.write(
        graft.sources.Ntv2.Grid(Vector(graft.sources.Ntv2.SubGrid("MB", "NONE",
          36000.0, 72000.0, -72000.0, -36000.0, 1800.0, 1800.0, 21, 21, latS, lonS)))))
    }

    val results = Seq(
      time("area_simple")(run(polySimple.select(st.area(col("geom1"))))),
      time("area_complex")(run(polyComplex.select(st.area(col("geom1"))))),
      time("azimuth")(run(points.select(st.f("st_azimuth", col("geom1"), col("geom2"))))),
      time("intersects_simple")(run(polySimple.select(st.intersects(col("geom1"), col("geom2"))))),
      time("contains_complex")(run(polyComplex.select(st.contains(col("geom1"), col("geom2"))))),
      time("distance_points")(run(points.select(st.distance(col("geom1"), col("geom2"))))),
      time("intersection_simple")(run(polySimple.select(st.f("st_intersection", col("geom1"), col("geom2"))))),
      time("union_complex")(run(polyComplex.select(st.f("st_union", col("geom1"), col("geom2"))))),
      time("buffer_points")(run(points.select(st.buffer(col("geom1"), lit(2.0))))),
      time("envelope_agg")(run(points.groupBy(col("id") % 97)
        .agg(st.envelopeAgg(col("geom1"))))),
      time("union_agg")(run(polySimple.groupBy(col("id") % 997)
        .agg(st.unionAgg(col("geom1"))))),
      time("transform")(run(points.select(st.transform(
        st.point(pmod(hash(col("id")), lit(170)).cast("double") - 85.0,
          pmod(hash(col("id"), lit(5)), lit(160)).cast("double") / 2 - 40.0),
        lit("EPSG:4326"), lit("EPSG:3857"))))),
      time("knn_join")(SpatialJoins.knnJoin(
        points.limit(2000).select(col("id").as("qid"), col("geom1").as("qg")),
        points.limit(50000).select(col("id").as("oid"), col("geom1").as("og")),
        col("qg"), col("og"), 5, col("oid")).write.format("noop").mode("overwrite").save()),
      time("minhash_sigs")(run(
        Tables.t(spark, "/root/testdata/sf0.1", "documents").select(
          graft.pipeline.TextOps.minhashSignatureTok(
            graft.pipeline.TextOps.tokens(col("text")), 3, 12)))),
      time("cosine_sims")(run(
        Tables.t(spark, "/root/testdata/sf0.1", "embeddings").limit(20)
          .select(col("vec_id").as("qid"),
            graft.pipeline.PipelineOps.asDouble(col("embedding")).as("qv"))
          .crossJoin(Tables.t(spark, "/root/testdata/sf0.1", "embeddings")
            .select(col("vec_id").as("cid"),
              graft.pipeline.PipelineOps.asDouble(col("embedding")).as("cv")))
          .select(graft.pipeline.PipelineOps.cosine(col("qv"), col("cv"))))),
      time("shingle_hash_fused")(run(
        Tables.t(spark, "/root/testdata/sf0.1", "documents").select(
          graft.pipeline.TextOps.shingleHashes(
            graft.pipeline.TextOps.tokens(col("text")), 3)))),
      time("sphere_join")(run(SpatialJoins.sphereDWithinJoin(
        points.limit(20000).select(col("id").as("aid"),
          st.point(pmod(hash(col("id"), lit(21)), lit(7200)).cast("double") / 20.0 - 180.0,
            pmod(hash(col("id"), lit(22)), lit(3500)).cast("double") / 20.0 - 87.5).as("ag")),
        points.limit(20000).select(col("id").as("bid"),
          st.point(pmod(hash(col("id"), lit(23)), lit(7200)).cast("double") / 20.0 - 180.0,
            pmod(hash(col("id"), lit(24)), lit(3500)).cast("double") / 20.0 - 87.5).as("bg")),
        col("ag"), col("bg"), 100000.0, nx = 180, ny = 90))),
      time("connected_components")(run(
        graft.pipeline.PipelineOps.dedupGroups(
          spark.range(20000).select((col("id") / 3).cast("long").as("a"),
            ((col("id") / 3) + pmod(col("id"), lit(3)) + 1).cast("long").as("b")),
          col("a"), col("b")))),
      // round-7 spherical kernels: winding containment and the geography
      // predicate surface over lattice points vs quads + polar caps
      time("sphere_contains")(run(
        points.limit(100000).select(st.f("st_containssphere",
          st.makeEnvelope(lit(10.0), lit(10.0), lit(60.0), lit(60.0)),
          st.point(pmod(hash(col("id"), lit(31)), lit(1400)).cast("double") / 20.0 - 35.0,
            pmod(hash(col("id"), lit(32)), lit(1400)).cast("double") / 20.0 - 35.0))))),
      time("sphere_cap_covers")(run(
        points.limit(100000).select(st.f("st_intersectssphere",
          st.geomFromWkt(lit("POLYGON ((0 71, 60 71, 120 71, 180 71, -120 71, -60 71, 0 71))")),
          st.point(pmod(hash(col("id"), lit(33)), lit(7200)).cast("double") / 20.0 - 180.0,
            pmod(hash(col("id"), lit(34)), lit(3600)).cast("double") / 20.0 - 90.0))))),
      time("sphere_intersects_join")(run(SpatialJoins.sphereIntersectsJoin(
        points.limit(20000).select(col("id").as("aid"),
          st.makeEnvelope(
            pmod(hash(col("id"), lit(41)), lit(7000)).cast("double") / 20.0 - 179.0,
            pmod(hash(col("id"), lit(42)), lit(3300)).cast("double") / 20.0 - 84.0,
            pmod(hash(col("id"), lit(41)), lit(7000)).cast("double") / 20.0 - 177.0,
            pmod(hash(col("id"), lit(42)), lit(3300)).cast("double") / 20.0 - 82.0).as("ag")),
        points.limit(20000).select(col("id").as("bid"),
          st.point(pmod(hash(col("id"), lit(43)), lit(7200)).cast("double") / 20.0 - 180.0,
            pmod(hash(col("id"), lit(44)), lit(3500)).cast("double") / 20.0 - 87.5).as("bg")),
        col("ag"), col("bg"), nx = 180, ny = 90))),
      // round-8 kernels: out-db windowed netCDF sampling (block-clustered
      // probes, warm cache after the first touch of each 256px block),
      // COG overview-path resample reuse, NTv2 grid-shift transform
      time("netcdf_outdb_value")(run(
        spark.range(0, 100000).toDF("id")
          .withColumn("b", col("id") * 32 / 100000)
          .withColumn("c", ((col("b") % 8) * 256 +
            pmod(hash(col("id"), lit(61)), lit(256))).cast("int"))
          .withColumn("r", ((col("b") / 8) * 256 +
            pmod(hash(col("id"), lit(62)), lit(256))).cast("int"))
          .select(st.f("rs_value",
            st.f("rs_frompath", lit(ncScene.getAbsolutePath)),
            st.f("st_setsrid", st.point(col("c") * 10.0 + 5.0,
              -(col("r") * 10.0 + 5.0)), lit(32610)), lit(1))))),
      time("cog_overview_resample")(run(
        spark.range(0, 200).toDF("id")
          .select(st.f("rs_value",
            st.f("rs_resample", st.f("rs_frompath", lit(cogScene.getAbsolutePath)),
              lit(40.0), lit(-40.0), lit(true), lit("nearestneighbor")),
            st.f("st_setsrid", st.point(pmod(col("id"), lit(256)) * 40.0 + 20.0,
              -(pmod(col("id") * 7, lit(192)) * 40.0 + 20.0)), lit(32610)), lit(1))))),
      // round-9: the as-of sweep runs on InternalRow (no external-Row
      // decode per row) — this row times the full union+shuffle+sort+
      // sweep pipeline over 1M rows per side
      time("asof_sweep_1m")({
        def side(salt: Int, idName: String, tName: String) =
          spark.range(0, 1000000L).toDF(idName)
            .withColumn("k", pmod(hash(col(idName), lit(salt)), lit(5000)))
            .withColumn(tName, pmod(hash(col(idName), lit(salt + 1)),
              lit(1000000000)).cast("long"))
        run(graft.operators.AsOfJoin.asofBackward(
          side(81, "lid", "lts"), side(83, "rid", "rts"),
          "k", "lts", "rts", "rid"))
      }),
      // round-9: the banded range-join rewrite fires even when one side
      // fits broadcast (worthBanding) — paired rows time the SAME SQL
      // with the rule on vs off; the off row is the quadratic BNLJ plan
      // Spark would otherwise pick for a 10k-row "small" side
      time("range_sql_banded")({
        spark.range(0, 100000L).select(col("id").as("lid"),
          pmod(hash(col("id"), lit(87)), lit(100000000)).cast("long").as("ls"))
          .createOrReplaceTempView("mb_rb_l")
        spark.range(0, 10000L).select(col("id").as("rid"),
          pmod(hash(col("id"), lit(88)), lit(100000000)).cast("long").as("rs"))
          .withColumn("re", col("rs") + pmod(hash(col("rid"), lit(89)), lit(20000)))
          .createOrReplaceTempView("mb_rb_r")
        run(spark.sql(
          "SELECT lid, rid FROM mb_rb_l JOIN mb_rb_r ON ls BETWEEN rs AND re"))
      }),
      time("range_sql_bnlj")({
        spark.conf.set("spark.graft.join.band.enabled", "false")
        try run(spark.sql(
          "SELECT lid, rid FROM mb_rb_l JOIN mb_rb_r ON ls BETWEEN rs AND re"))
        finally spark.conf.set("spark.graft.join.band.enabled", "true")
      }),
      time("ntv2_gridshift")({
        graft.functions.CrsTransform.registerGridShift("EPSG:4277", gsb.getAbsolutePath)
        try run(points.limit(200000).select(st.transform(
          st.point(pmod(hash(col("id"), lit(71)), lit(2000)).cast("double") / 200.0 + 10.0,
            pmod(hash(col("id"), lit(72)), lit(2000)).cast("double") / 200.0 + 10.0),
          lit("EPSG:4277"), lit("EPSG:4326"))))
        finally graft.functions.CrsTransform.unregisterGridShift("EPSG:4277")
      }))

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"micro_total","value":$total,"unit":"sec","n":$n,"queries":$qs}""")
    spark.stop()
  }
}
