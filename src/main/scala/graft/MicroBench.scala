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
  *
  * `MicroBench index` runs only the index-join layer ([[indexJoins]]),
  * without a Spark session; a full run includes it as `index_join`.
  * `MicroBench gpread [N]` runs only the GeoParquet window-read layer
  * ([[geoParquetReads]], N windows, default 48).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("index")) {
      println(s"""{"metric":"index_join","layer":${indexJoins()}}""")
      return
    }
    if (args.headOption.contains("gpread")) {
      val spark = GraftExtensions.localSession(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "ERROR")
      val n = args.lift(1).map(_.toInt).getOrElse(48)
      println(s"""{"metric":"geoparquet_read","layer":${geoParquetReads(spark, n)}}""")
      spark.stop()
      return
    }
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
      time("sphere_join")(run(
        points.limit(20000).select(col("id").as("aid"),
          st.point(pmod(hash(col("id"), lit(21)), lit(7200)).cast("double") / 20.0 - 180.0,
            pmod(hash(col("id"), lit(22)), lit(3500)).cast("double") / 20.0 - 87.5).as("ag"))
          .hint("shuffle_hash")
          .join(points.limit(20000).select(col("id").as("bid"),
            st.point(pmod(hash(col("id"), lit(23)), lit(7200)).cast("double") / 20.0 - 180.0,
              pmod(hash(col("id"), lit(24)), lit(3500)).cast("double") / 20.0 - 87.5).as("bg"))
            .hint("shuffle_hash"),
            st.f("st_dwithinsphere", col("ag"), col("bg"), lit(100000.0))))),
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
      time("sphere_intersects_join")(run(
        points.limit(20000).select(col("id").as("aid"),
          st.makeEnvelope(
            pmod(hash(col("id"), lit(41)), lit(7000)).cast("double") / 20.0 - 179.0,
            pmod(hash(col("id"), lit(42)), lit(3300)).cast("double") / 20.0 - 84.0,
            pmod(hash(col("id"), lit(41)), lit(7000)).cast("double") / 20.0 - 177.0,
            pmod(hash(col("id"), lit(42)), lit(3300)).cast("double") / 20.0 - 82.0).as("ag"))
          .hint("shuffle_hash")
          .join(points.limit(20000).select(col("id").as("bid"),
            st.point(pmod(hash(col("id"), lit(43)), lit(7200)).cast("double") / 20.0 - 180.0,
              pmod(hash(col("id"), lit(44)), lit(3500)).cast("double") / 20.0 - 87.5).as("bg"))
            .hint("shuffle_hash"),
            st.f("st_intersectssphere", col("ag"), col("bg"))))),
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
      // AsOfJoinExec over 1M rows per side: one hash shuffle and one sort
      // per side, then the merge
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
      // the range join on the index joins, broadcast when a side fits —
      // paired rows time the SAME SQL with range joins on vs off; the off
      // row is the quadratic BNLJ plan Spark would otherwise pick for a
      // 10k-row "small" side
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
    println(s"""{"metric":"micro_total","value":$total,"unit":"sec","n":$n,"queries":$qs,""" +
      s""""index_join":${indexJoins()}}""")
    spark.stop()
  }

  /** GeoParquet window reads' own layer: 150k uniform points written as
    * a 16-file GeoParquet dataset, then `n` distinct square windows
    * (0.1 %, 1 % and 10 % of the extent in turn) each opened with
    * `GeoParquet.read` and collected through an `st_intersects` filter,
    * after 8 untimed windows. Reports the median open and read ms (the
    * read from open to collected ids) and the codegen compiles and Spark
    * jobs per timed read. */
  def geoParquetReads(spark: org.apache.spark.sql.SparkSession, n: Int): String = {
    import graft.sources.GeoParquet
    val dir = "/tmp/graft_micro_gpread"
    def coord(salt: Int) = pmod(hash(col("id"), lit(salt)), lit(1000000)).cast("double") / 1000.0
    GeoParquet.write(spark.range(150000).select(col("id"), st.point(coord(1), coord(2)).as("geom")),
      dir, "geom", clusterPartitions = 16)
    val rnd = new java.util.Random(7)
    val selectivities = Seq(0.001, 0.01, 0.1)
    def read(i: Int): (Double, Double) = {
      val side = 1000.0 * math.sqrt(selectivities(i % selectivities.size))
      val x0 = rnd.nextDouble() * (1000.0 - side)
      val y0 = rnd.nextDouble() * (1000.0 - side)
      val t0 = System.nanoTime()
      val df = GeoParquet.read(spark, dir)
      val opened = System.nanoTime()
      df.where(st.intersects(col("geom"),
        st.makeEnvelope(lit(x0), lit(y0), lit(x0 + side), lit(y0 + side)))).select("id").collect()
      ((opened - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
    }
    (0 until 8).foreach(read)
    // listener events arrive in order: once the sentinel job is seen,
    // every job of the timed reads has been counted
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == "gpread_sentinel") sentinel.countDown()
        else jobs.incrementAndGet()
    }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    spark.sparkContext.addSparkListener(listener)
    val compiles0 = compiles.getCount
    val times = (0 until n).map(i => read(8 + i))
    val compiled = compiles.getCount - compiles0
    spark.sparkContext.setJobGroup("gpread_sentinel", "gpread_sentinel")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    sentinel.await(10, java.util.concurrent.TimeUnit.SECONDS)
    spark.sparkContext.removeSparkListener(listener)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    f"""{"reads":$n,"open_ms":${median(times.map(_._1))}%.1f,""" +
      f""""read_ms":${median(times.map(_._2))}%.1f,""" +
      f""""compiles_per_read":${compiled.toDouble / n}%.2f,"jobs_per_read":${jobs.get.toDouble / n}%.2f}"""
  }

  /** The index joins' own layer, on one thread over rows in memory:
    * index build ms (median of 5) and probe ns per stream row for
    * perfbench spatial_join's shapes — 42k boxes probed by 300k
    * half-clustered points (`st_intersects`), and 42k points searched by
    * every 20th point for its 4 nearest (the KNN join's search). The
    * probes run 3 times; the last is reported. */
  def indexJoins(): String = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.execution.metric.SQLMetric
    import org.apache.spark.sql.types.BinaryType
    import graft.geom.GeomIO
    import graft.joins.{BroadcastIndexSpatialJoinExec, KnnJoinExec}
    val rnd = new java.util.Random(101)
    val extent = 1000.0
    def coord(clustered: Boolean): (Double, Double) =
      if (!clustered) (rnd.nextDouble() * extent, rnd.nextDouble() * extent)
      else {
        val c = rnd.nextInt(8)
        (100 + 100 * c + rnd.nextGaussian() * 10, 100 + 97 * c + rnd.nextGaussian() * 10)
      }
    // broadcast rows arrive as UnsafeRows
    val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array[org.apache.spark.sql.types.DataType](BinaryType))
    def row(bytes: Array[Byte]): InternalRow =
      toUnsafe(new GenericInternalRow(Array[Any](bytes))).copy()
    val points = Array.tabulate(300000) { i => val (x, y) = coord(i % 2 == 1); row(GeomIO.pointBytes(x, y)) }
    val boxes = Array.fill(42000) {
      val (x, y) = coord(clustered = false)
      row(GeomIO.envelopeBytes(x, y, x + 1 + rnd.nextDouble() * 4, y + 1 + rnd.nextDouble() * 4))
    }
    val sites = Array.fill(42000) { val (x, y) = coord(clustered = false); row(GeomIO.pointBytes(x, y)) }
    val geom = BoundReference(0, BinaryType, nullable = true)
    def ms(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    val build = median((0 until 5).map(_ => ms(
      BroadcastIndexSpatialJoinExec.buildIndex(boxes.iterator, geom, spherical = false))))
    val index = BroadcastIndexSpatialJoinExec.buildIndex(boxes.iterator, geom, spherical = false)
    val candidates = new SQLMetric("sum", 0L)
    val probe = new BroadcastIndexSpatialJoinExec.Probe(geom, None, None, "st_intersects",
      buildIsLeft = false, candidates)
    var matches = 0L
    val probeMs = (0 until 3).map { _ =>
      matches = 0L
      ms(points.foreach(p => matches += probe(index, p).size))
    }.last

    val side = KnnJoinExec.ObjectSide(Seq(BinaryType), geom, None, spheroid = false)
    val knnBuild = median((0 until 5).map(_ => ms(side.index(sites.iterator, copy = false))))
    val search = new KnnJoinExec.Search(side.index(sites.iterator, copy = false))
    val queries = points.indices.by(20).map(points(_))
    val q = new BroadcastIndexSpatialJoinExec.Shape(geom)
    var found = 0L
    val knnMs = (0 until 3).map { _ =>
      found = 0L
      ms(queries.foreach { r => q.set(r); found += search.nearest(q, 4).length })
    }.last
    f"""{"intersects_build_ms":$build%.2f,"intersects_probe_ns_per_row":${probeMs * 1e6 / points.length}%.1f,""" +
      f""""intersects_matches":$matches,"knn_build_ms":$knnBuild%.2f,""" +
      f""""knn_probe_ns_per_row":${knnMs * 1e6 / queries.length}%.1f,"knn_rows":$found}"""
  }
}
