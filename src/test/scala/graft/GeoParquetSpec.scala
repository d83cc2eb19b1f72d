package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.functions.GraftFunctions.st
import graft.sources.GeoParquet

class GeoParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.install(spark)
  }
  override def afterAll(): Unit = spark.stop()

  private def sample: DataFrame =
    spark.range(2000).select(col("id"),
      st.makeEnvelope(
        (pmod(hash(col("id")), lit(1000))).cast("double"),
        (pmod(hash(col("id") * 3), lit(1000))).cast("double"),
        (pmod(hash(col("id")), lit(1000))).cast("double") + 2.0,
        (pmod(hash(col("id") * 3), lit(1000))).cast("double") + 2.0).as("geom"))

  test("write/read round trip preserves geometry values, CRS metadata, sidecar") {
    val dir = Files.createTempDirectory("gp").toString + "/t1"
    GeoParquet.write(sample, dir, "geom", crs = "EPSG:3857")
    val back = GeoParquet.read(spark, dir)
    assert(back.count() == 2000)
    assert(GeoParquet.geometryColumns(back) == Seq("geom" -> "EPSG:3857"))
    assert(back.columns.contains("geom_bbox"))
    // same geometry multiset
    val a = sample.select(st.asText(col("geom"))).collect().map(_.getString(0)).sorted
    val b = back.select(st.asText(col("geom"))).collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_geo.json"))).contains("\"covering\""))
  }

  test("geo parquet footer key-value metadata is written and round-trips") {
    val dir = Files.createTempDirectory("gp").toString + "/tf"
    GeoParquet.write(sample, dir, "geom", crs = "EPSG:3857")
    // every part file carries the `geo` footer key
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val json = GeoParquet.footerGeoJson(spark, f.getPath)
      assert(json.isDefined, s"${f.getName}: no geo footer key")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val tree = om.readTree(json.get)
      assert(tree.get("version").asText() == "1.1.0")
      assert(tree.get("primary_column").asText() == "geom")
      val gcol = tree.get("columns").get("geom")
      assert(gcol.get("encoding").asText() == "WKB")
      // crs is the spec-required PROJJSON object form
      assert(gcol.get("crs").isObject &&
        gcol.get("crs").get("id").get("code").asInt == 3857)
      // geometry_types is REQUIRED by the spec, in its vocabulary
      val gt = gcol.get("geometry_types")
      assert(gt != null && gt.size() == 1 && gt.get(0).asText() == "Polygon")
      val cov = gcol.get("covering").get("bbox")
      assert(cov.get("xmin").get(0).asText() == "geom_bbox")
      // per-file bbox is present and sane (within the generator's domain)
      val bbox = gcol.get("bbox")
      assert(bbox != null && bbox.size() == 4)
      assert(bbox.get(0).asDouble >= 0.0 && bbox.get(2).asDouble <= 1002.0)
    }
    // footer survives a plain parquet re-read path (file still valid)
    assert(spark.read.parquet(dir).count() == 2000)
    // the lnglat default omits the crs key (spec: absent == OGC:CRS84)
    val dir44 = Files.createTempDirectory("gp").toString + "/tf44"
    GeoParquet.write(sample, dir44, "geom")
    val f44 = new java.io.File(dir44).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val t44 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(GeoParquet.footerGeoJson(spark, f44.getPath).get)
    assert(t44.get("columns").get("geom").get("crs") == null)
    // read() tags geometry columns from the footer even without Spark
    // field metadata (external-writer shape): strip tags by rewriting
    // through plain parquet, keep the footer via patch
    val plainDir = Files.createTempDirectory("gp").toString + "/tf2"
    spark.read.parquet(dir).drop("geom_bbox").write.parquet(plainDir)
    new java.io.File(plainDir).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => GeoParquet.patchFooterGeo(f.getPath,
        """{"version":"1.1.0","primary_column":"geom","columns":{"geom":{"encoding":"WKB","crs":"EPSG:3857"}}}"""))
    val ext = GeoParquet.read(spark, plainDir)
    assert(GeoParquet.geometryColumns(ext) == Seq("geom" -> "EPSG:3857"))
  }

  test("footer crs is PROJJSON: object form with id, round-trips through read") {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    // every supported EPSG code emits well-formed PROJJSON with the
    // right identity and a conversion block for projected CRSes
    val codes = Seq(4326, 4258, 4269, 4277, 4171, 3857, 3395, 32633, 32718,
      25832, 26910, 2154, 3035, 5070, 27700, 3031, 3413, 3976, 5041, 5042,
      32118, 32139)
    for (c <- codes) {
      val pj = graft.sources.ProjJson.forCrs(s"EPSG:$c")
      assert(pj.isDefined, s"EPSG:$c missing")
      val n = om.readTree(pj.get)
      assert(n.get("id").get("code").asInt == c, s"EPSG:$c id")
      assert(n.get("type").asText.endsWith("CRS"))
      if (n.get("type").asText == "ProjectedCRS") {
        assert(n.get("base_crs").get("id").get("code").asInt > 0)
        assert(n.get("conversion").get("method").get("id").get("code").asInt > 0)
        assert(n.get("conversion").get("parameters").size >= 4)
      }
    }
    assert(graft.sources.ProjJson.forCrs("OGC:CRS84").isDefined)
    assert(graft.sources.ProjJson.forCrs("EPSG:99999").isEmpty)
    // written dataset carries the object crs; read() maps it back to the
    // EPSG string via id.authority/code (reference
    // test_write_geoparquet_ensure_projjson_crs)
    val dir = Files.createTempDirectory("gp").toString + "/projjson"
    GeoParquet.write(sample.limit(50), dir, "geom", crs = "EPSG:3857")
    val geo = om.readTree(GeoParquet.footerGeoJson(spark, dir).get)
    val crsNode = geo.get("columns").get("geom").get("crs")
    assert(crsNode.isObject, "crs must be a PROJJSON object, not a string")
    assert(crsNode.get("id").get("authority").asText == "EPSG")
    assert(crsNode.get("id").get("code").asInt == 3857)
    assert(GeoParquet.geometryColumns(GeoParquet.read(spark, dir)) ==
      Seq("geom" -> "EPSG:3857"))
  }

  test("native parquet GEOMETRY/GEOGRAPHY logical types read as tagged WKB") {
    // Spark 4.1 refuses schema inference over the native parquet GEOMETRY
    // logical type (PARQUET_TYPE_ILLEGAL) that sedona-db and GeoPandas
    // (store_schema=False) emit — reference io/test_parquet.py reads such
    // files directly. GeoParquet.read must strip the annotation into an
    // explicit schema and still tag the column + CRS.
    import org.apache.parquet.schema._
    import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
    import org.apache.parquet.example.data.simple.SimpleGroup
    val schema = new MessageType("spark_schema",
      Types.required(PrimitiveType.PrimitiveTypeName.INT32).named("id"),
      Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.geometryType("EPSG:32620")).named("geometry"),
      Types.optional(PrimitiveType.PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.geographyType()).named("geog"))
    val conf = new org.apache.hadoop.conf.Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val path = Files.createTempDirectory("gp").toString + "/native.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).build()
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    for (i <- 0 until 10) {
      val wkb = graft.geom.GeomIO.write(gf.createPoint(
        new org.locationtech.jts.geom.Coordinate(i * 1.5, i * 2.5)))
      val g = new SimpleGroup(schema)
      g.add("id", i)
      g.add("geometry", org.apache.parquet.io.api.Binary.fromConstantByteArray(wkb))
      g.add("geog", org.apache.parquet.io.api.Binary.fromConstantByteArray(wkb))
      w.write(g)
    }
    w.close()
    // plain Spark refuses it; GeoParquet.read succeeds and tags
    intercept[Exception](spark.read.parquet(path).collect())
    val df = GeoParquet.read(spark, path)
    assert(df.count() == 10)
    assert(GeoParquet.geometryColumns(df).toMap ==
      Map("geometry" -> "EPSG:32620", "geog" -> "OGC:CRS84"))
    val xs = df.select(st.x(col("geometry"))).collect().map(_.getDouble(0)).sorted
    assert(xs.sameElements(Array.tabulate(10)(_ * 1.5)))
  }

  test("geometry_columns read override marks plain WKB columns, errors on missing") {
    // plain parquet, no geo metadata at all (reference
    // test_read_parquet_geometry_columns_roundtrip)
    val dir = Files.createTempDirectory("gp").toString + "/plain"
    spark.range(20).select(col("id"),
      st.f("st_asbinary", st.point(col("id").cast("double"), lit(1.0))).as("geom"))
      .write.parquet(dir)
    assert(GeoParquet.geometryColumns(spark.read.parquet(dir)).isEmpty)
    val df = GeoParquet.read(spark, dir, Map("geom" -> "EPSG:4326"))
    assert(GeoParquet.geometryColumns(df) == Seq("geom" -> "EPSG:4326"))
    assert(df.select(st.x(col("geom"))).collect().map(_.getDouble(0)).sorted
      .sameElements(Array.tabulate(20)(_.toDouble)))
    // override replaces an existing tag's CRS
    val gp = Files.createTempDirectory("gp").toString + "/tagged"
    GeoParquet.write(df, gp, "geom", crs = "EPSG:4326")
    val re = GeoParquet.read(spark, gp, Map("geom" -> "EPSG:3857"))
    assert(GeoParquet.geometryColumns(re) == Seq("geom" -> "EPSG:3857"))
    // unknown column errors with the reference's message
    val ex = intercept[IllegalArgumentException](
      GeoParquet.read(spark, dir, Map("geom_foo" -> "EPSG:4326")))
    assert(ex.getMessage.contains("Geometry columns not found in schema"))
  }

  test("validate read option: structural WKB check, original bytes preserved") {
    // reference io/test_parquet.py test_read_parquet_validate_wkb_*:
    // validate=False admits malformed bytes untouched; validate=True
    // fails materialization with "WKB validation failed"
    val validWkb = Array[Byte](1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0,
      -16, 63, 0, 0, 0, 0, 0, 0, 0, 64) // POINT (1 2), NDR
    val dir = Files.createTempDirectory("gp").toString + "/val"
    import spark.implicits._
    Seq((1, validWkb), (2, Array[Byte](1)), (3, validWkb))
      .toDF("id", "geom").write.parquet(dir)
    // validate = false: all three rows come back, bytes untouched
    val lax = GeoParquet.read(spark, dir, Map("geom" -> "EPSG:4326"), validate = false)
    assert(lax.count() == 3)
    assert(lax.filter(col("id") === 2).select(col("geom")).head.getAs[Array[Byte]](0)
      .sameElements(Array[Byte](1)))
    // validate = true over only-valid rows: passes, bytes bit-identical
    val okOnly = GeoParquet.read(spark, dir, Map("geom" -> "EPSG:4326"), validate = true)
      .filter(col("id") =!= 2)
    assert(okOnly.select(col("geom")).collect()
      .forall(_.getAs[Array[Byte]](0).sameElements(validWkb)))
    // validate = true over the malformed row: query fails with the message
    val ex = intercept[Exception] {
      GeoParquet.read(spark, dir, Map("geom" -> "EPSG:4326"), validate = true)
        .select(col("geom")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("WKB validation failed")))
  }

  test("GeoParquet 2.0 write: native GEOMETRY logical type stamped and read back") {
    val dir = Files.createTempDirectory("gp").toString + "/v2"
    GeoParquet.write(sample.limit(100), dir, "geom", crs = "EPSG:3857",
      geoparquetVersion = "2.0")
    // footer: version 2.0.0 + GEOMETRY logical type on the column
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val geo = om.readTree(GeoParquet.footerGeoJson(spark, dir).get)
    assert(geo.get("version").asText == "2.0.0")
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath),
        new org.apache.hadoop.conf.Configuration()))
    val lta = try r.getFileMetaData.getSchema
      .getType(Seq("geom"): _*).asPrimitiveType()
      .getLogicalTypeAnnotation finally r.close()
    assert(lta.isInstanceOf[
      org.apache.parquet.schema.LogicalTypeAnnotation.GeometryLogicalTypeAnnotation])
    // vanilla Spark still reads our own 2.0 output (the Spark
    // row-metadata KV supplies the schema, bypassing inference); foreign
    // writers without that KV need GeoParquet.read's explicit schema
    assert(spark.read.parquet(dir).count() == 100)
    val back = GeoParquet.read(spark, dir)
    assert(back.count() == 100)
    assert(GeoParquet.geometryColumns(back)
      .toMap[String, String].apply("geom") == "EPSG:3857")
    // unknown version string errors loudly (reference parity)
    intercept[IllegalArgumentException](GeoParquet.write(
      sample.limit(1), dir + "x", "geom", geoparquetVersion = "not supported"))
  }

  test("stale manifest entries are dropped: rewritten file is never pruned") {
    val dir = Files.createTempDirectory("gp").toString + "/ts"
    GeoParquet.write(sample, dir, "geom")
    val root = new org.apache.hadoop.fs.Path(dir)
    val fresh = GeoParquet.fileManifest(spark, root).get
    assert(fresh.nonEmpty)
    // another process rewrites one data file in place (different bytes)
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val one = spark.read.parquet(dir).limit(1)
    val tmpOut = Files.createTempDirectory("gp").toString + "/one"
    one.coalesce(1).write.parquet(tmpOut)
    val newBytes = new java.io.File(tmpOut).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(newBytes.toPath, victim.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    GeoParquet.invalidateManifest(dir)
    val after = GeoParquet.fileManifest(spark, root).get
    assert(!after.contains(victim.getName),
      s"stale entry for rewritten ${victim.getName} still trusted")
    assert(after.size == fresh.size - 1)
  }

  test("footer bbox trusts only typed min_value/max_value: legacy min/max never prunes") {
    import org.apache.parquet.format.{ColumnChunk, ColumnMetaData, FileMetaData, RowGroup,
      Statistics}
    def le(d: Double): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(d).array()
    def footer(typed: Boolean): FileMetaData = {
      val cols = Seq("xmin" -> 1.0, "ymin" -> 2.0, "xmax" -> 3.0, "ymax" -> 4.0).map {
        case (leaf, v) =>
          val st = new Statistics()
          if (typed) st.setMin_value(le(v)).setMax_value(le(v))
          else st.setMin(le(v)).setMax(le(v))
          new ColumnChunk().setMeta_data(new ColumnMetaData()
            .setPath_in_schema(java.util.Arrays.asList("geom_bbox", leaf))
            .setStatistics(st))
      }
      new FileMetaData().setRow_groups(java.util.Arrays.asList(
        new RowGroup().setColumns(java.util.Arrays.asList(cols: _*))))
    }
    assert(GeoParquet.statsBbox(footer(typed = true), "geom_bbox")
      .contains(Seq(1.0, 2.0, 3.0, 4.0)))
    assert(GeoParquet.statsBbox(footer(typed = false), "geom_bbox").isEmpty)
  }

  test("spatial filter is rewritten to bbox ranges and pushed to parquet") {
    val dir = Files.createTempDirectory("gp").toString + "/t2"
    GeoParquet.write(sample, dir, "geom")
    val back = GeoParquet.read(spark, dir)
    val q = back.filter(st.intersects(col("geom"),
      st.makeEnvelope(lit(100.0), lit(100.0), lit(300.0), lit(300.0))))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("geom_bbox.xmin"),
      plan.take(3000))
    // pruned result ≡ brute force on the raw data
    val expected = sample.filter(st.intersects(col("geom"),
      st.makeEnvelope(lit(100.0), lit(100.0), lit(300.0), lit(300.0))))
      .select("id").collect().map(_.getLong(0)).sorted
    val actual = q.select("id").collect().map(_.getLong(0)).sorted
    assert(actual.sameElements(expected))
  }

  test("dwithin filter prunes with expanded envelope") {
    val dir = Files.createTempDirectory("gp").toString + "/t3"
    GeoParquet.write(sample, dir, "geom")
    val back = GeoParquet.read(spark, dir)
    val q = back.filter(st.dwithin(col("geom"), st.point(lit(500.0), lit(500.0)), lit(50.0)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("geom_bbox.xmin"), plan.take(3000))
    val expected = sample.filter(st.dwithin(col("geom"), st.point(lit(500.0), lit(500.0)), lit(50.0))).count()
    assert(q.count() == expected)
  }

  test("file-level prune: manifest skips files outside the query envelope") {
    val dir = Files.createTempDirectory("gp").toString + "/t4"
    // two far-apart clusters; Hilbert range-clustering puts them in
    // disjoint files
    val docs = spark.range(2000).select(col("id"),
      st.point(
        when(col("id") % 2 === 0, (col("id") % 100).cast("double"))
          .otherwise((col("id") % 100).cast("double") + 10000.0),
        (col("id") % 100).cast("double")).as("geom"))
    GeoParquet.write(docs, dir, "geom", clusterPartitions = 4)
    assert(Files.exists(java.nio.file.Paths.get(dir, GeoParquet.manifestName)))
    val back = GeoParquet.read(spark, dir)
    val q = back.filter(st.intersects(col("geom"),
      st.makeEnvelope(lit(-1.0), lit(-1.0), lit(200.0), lit(200.0))))
    // the optimized scan must read strictly fewer files than the dataset has
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val scanned = scans.map(_.relation.location.inputFiles.length).sum
    val total = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).count(p => p.endsWith(".parquet") && !p.split('/').last.startsWith("_"))
    assert(total >= 2, s"expected multiple output files, got $total")
    assert(scanned < total, s"no file pruned: scanned $scanned of $total")
    // correctness: pruned read ≡ brute force (even cluster only)
    val expected = docs.filter(st.intersects(col("geom"),
      st.makeEnvelope(lit(-1.0), lit(-1.0), lit(200.0), lit(200.0)))).count()
    assert(q.count() == expected && expected == 1000)
    // opt r18: the manifest bboxes now come from the footers' column
    // STATISTICS (no data read-back) — they must equal the exact
    // per-file min/max recomputed from the data, for every file
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, GeoParquet.manifestName)), "UTF-8")
    val fromData = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("geom_bbox.xmin")).as("x0"), min(col("geom_bbox.ymin")).as("y0"),
        max(col("geom_bbox.xmax")).as("x1"), max(col("geom_bbox.ymax")).as("y1"))
      .collect()
    assert(fromData.nonEmpty)
    fromData.foreach { r =>
      val name = r.getString(0).split('/').last
      val want = s""""$name":[${r.getDouble(1)},${r.getDouble(2)},${r.getDouble(3)},${r.getDouble(4)},"""
      assert(manifest.contains(want),
        s"manifest bbox for $name diverged from data: expected $want in $manifest")
    }
  }

  test("FlatGeobuf roundtrip: all geometry types, nulls, property types") {
    import graft.sources.FlatGeobuf
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0.5)",
      "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
      "MULTIPOINT ((1 1), (2 3))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))",
      "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 7, 7 7, 7 5, 5 5), (5.5 5.5, 5.5 6, 6 6, 6 5.5, 5.5 5.5)))")
    import spark.implicits._
    val df = wkts.zipWithIndex.map { case (w, i) =>
      (i.toLong, if (i % 3 == 0) null else s"name_$i", i * 1.5, i % 2 == 0, i, w)
    }.toDF("id", "label", "score", "flag", "small", "wkt")
      .withColumn("geom", st.geomFromWkt(col("wkt")))
      .drop("wkt")
    val path = "/tmp/graft_fgb_spec"
    FlatGeobuf.write(df, path, "geom")
    val back = FlatGeobuf.read(spark, path, "geom")
    assert(back.schema.fieldNames.toSet == df.schema.fieldNames.toSet)
    def snap(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.select(col("id"), col("label"), col("score"), col("flag"), col("small"),
          st.asText(col("geom")).as("wkt"))
        .collect().map(_.toString).sorted.toSeq
    assert(snap(back) == snap(df))
  }

  test("FlatGeobuf packed R-tree: bbox read matches full-scan filter") {
    import graft.sources.FlatGeobuf
    // 1000 points -> multi-level tree (1000 leaves, 63 + 4 + 1 nodes)
    val pts = spark.range(1000).select(col("id"),
      st.point(pmod(hash(col("id") * 7 + 1), lit(1000)).cast("double"),
        pmod(hash(col("id") * 13 + 2), lit(1000)).cast("double")).as("geom"))
      .repartition(2)
    val path = "/tmp/graft_fgb_idx"
    FlatGeobuf.write(pts, path, "geom", index = true)
    val q = (200.0, 300.0, 600.0, 800.0)
    val viaIndex = FlatGeobuf.read(spark, path, "geom", bbox = Some(q))
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    val full = FlatGeobuf.read(spark, path, "geom")
    val expected = full
      .filter(st.x(col("geom")).between(q._1, q._3)
        && st.y(col("geom")).between(q._2, q._4))
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(expected.nonEmpty && viaIndex == expected, s"${viaIndex.size} vs ${expected.size}")
    // unindexed files honor the same bbox semantics (post-decode filter)
    FlatGeobuf.write(pts, path + "_noidx", "geom")
    val noIdx = FlatGeobuf.read(spark, path + "_noidx", "geom", bbox = Some(q))
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(noIdx == expected)
  }

  test("FlatGeobuf R-tree layout: inner nodes store first-child NODE INDEX (spec)") {
    // Independent walk of the written index bytes — approximates an interop
    // check against a conformant reader (GDAL/flatgeobuf-js traverse by
    // node index for inner nodes, byte offset only at the leaves).
    import graft.sources.FlatGeobuf
    val pts = spark.range(500).select(col("id"),
      st.point(pmod(hash(col("id") + 5), lit(100)).cast("double"),
        pmod(hash(col("id") * 3 + 4), lit(100)).cast("double")).as("geom"))
      .coalesce(1)
    val path = "/tmp/graft_fgb_layout"
    FlatGeobuf.write(pts, path, "geom", index = true)
    val f = new java.io.File(path).listFiles().filter(_.getName.endsWith(".fgb")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val hdrSize = bb.getInt(8)
    val indexStart = 12 + hdrSize
    val nodeSize = 16 // writer's NodeSize
    // level sizes leaf..root for 500 items: 500, 32, 2, 1 -> root-first order
    var sizes = List(500L)
    while (sizes.head != 1) sizes ::= (sizes.head + nodeSize - 1) / nodeSize
    val starts = sizes.scanLeft(0L)(_ + _).init
    val total = sizes.sum
    val leafStart = starts.last
    def off(i: Long): Long = bb.getLong(indexStart + i.toInt * 40 + 32)
    // inner nodes: offset is a node index into the NEXT level's range,
    // strictly increasing in steps of nodeSize within a level
    for (li <- 0 until sizes.length - 1) {
      val childLo = starts(li + 1); val childHi = childLo + sizes(li + 1)
      val offs = (starts(li) until starts(li) + sizes(li)).map(off)
      offs.zipWithIndex.foreach { case (o, j) =>
        assert(o == childLo + j.toLong * nodeSize,
          s"level $li node $j: offset $o != expected ${childLo + j.toLong * nodeSize}")
        assert(o >= childLo && o < childHi)
      }
    }
    // leaves: byte offsets into the feature stream, strictly increasing
    // from 0, each pointing at a valid size-prefixed feature
    val featStart = indexStart + total.toInt * 40
    val leafOffs = (leafStart until leafStart + sizes.last).map(off)
    assert(leafOffs.head == 0L)
    assert(leafOffs.sliding(2).forall(p => p(0) < p(1)))
    leafOffs.foreach { o =>
      val p = featStart + o.toInt
      val sz = bb.getInt(p)
      assert(sz > 0 && p + 4 + sz <= bytes.length, s"leaf offset $o not a feature boundary")
    }
  }

  test("Shapefile roundtrip per family: attributes + ring orientation + nulls") {
    import graft.sources.Shapefile
    import spark.implicits._
    val families = Seq(
      "points" -> Seq("POINT (1 2)", "POINT (-3.5 4.25)", null),
      "multipoints" -> Seq("MULTIPOINT ((1 1), (2 3))", "MULTIPOINT ((0 0))", null),
      "lines" -> Seq("LINESTRING (0 0, 1 1, 2 0.5)",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))", null),
      "polys" -> Seq(
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 7, 7 7, 7 5, 5 5), (5.5 5.5, 5.5 6, 6 6, 6 5.5, 5.5 5.5)))",
        null))
    families.foreach { case (fam, wkts) =>
      val df = wkts.zipWithIndex.map { case (w, i) =>
        (i.toLong, s"name_$i", i * 1.25 + 0.1, i % 2 == 0, w)
      }.toDF("id", "label", "score", "flag", "wkt")
        .withColumn("geom", st.geomFromWkt(col("wkt"))).drop("wkt")
      val path = s"/tmp/graft_shp_$fam"
      Shapefile.write(df, path, "geom")
      val back = Shapefile.read(spark, path, "geom")
      def snap(d: org.apache.spark.sql.DataFrame): Seq[String] =
        d.select(col("id"), col("label"), col("score"), col("flag"),
            st.f("st_normalize", col("geom")).as("g"))
          .select(col("id"), col("label"), col("score"), col("flag"), st.asText(col("g")))
          .collect().map(_.toString).sorted.toSeq
      assert(snap(back) == snap(df.select(col("id"), col("label"), col("score"),
        col("flag"), col("geom"))), s"family $fam mismatch")
    }
    // mixed families in one file error loudly
    val mixed = Seq((1L, "POINT (0 0)"), (2L, "LINESTRING (0 0, 1 1)"))
      .toDF("id", "wkt").withColumn("geom", st.geomFromWkt(col("wkt"))).drop("wkt")
      .coalesce(1)
    intercept[Exception] { Shapefile.write(mixed, "/tmp/graft_shp_mixed", "geom") }
  }

  test("Shapefile doubles round-trip bit-exactly through DBF F fields") {
    import graft.sources.Shapefile
    import spark.implicits._
    val vals = Seq(math.Pi, 1.0 / 3.0, -2.2250738585072014e-308, 1.7976931348623157e308,
      0.1 + 0.2, -12345.678901234567)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
      .withColumn("geom", st.point(lit(0.0), lit(0.0)))
    Shapefile.write(df.coalesce(1), "/tmp/graft_shp_dbl", "geom")
    val back = Shapefile.read(spark, "/tmp/graft_shp_dbl", "geom")
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      assert(java.lang.Double.doubleToLongBits(back(i.toLong)) ==
        java.lang.Double.doubleToLongBits(v), s"$v round-trip changed bits")
    }
  }

  test("GeoPackage roundtrip: mixed geometry types, nulls, attributes, fid") {
    import graft.sources.GeoPackage
    import spark.implicits._
    val wkts = Seq(
      "POINT (1 2)",
      "LINESTRING (0 0, 1 1, 2 0.5)",
      "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (2 2, 2 4, 4 4, 4 2, 2 2))",
      "MULTIPOINT ((1 1), (2 3))",
      "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3, 4 2))",
      "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((5 5, 5 7, 7 7, 7 5, 5 5)))",
      "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
      null)
    val df = wkts.zipWithIndex.map { case (w, i) =>
      (i.toLong, if (i % 3 == 0) null else s"name_$i", i * 1.25 + 0.1, w)
    }.toDF("id", "label", "score", "wkt")
      .withColumn("geom", st.geomFromWkt(col("wkt"))).drop("wkt")
    val path = "/tmp/graft_gpkg_spec"
    GeoPackage.write(df, path, "geom", table = "test_layer", srid = 4326)
    val back = GeoPackage.read(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("fid", "geometry", "id", "label", "score"))
    def snap(d: org.apache.spark.sql.DataFrame, g: String): Seq[String] =
      d.select(col("id"), col("label"), col("score"), st.asText(col(g)).as("wkt"))
        .collect().map(_.toString).sorted.toSeq
    assert(snap(back, "geometry") == snap(df, "geom"))
    // fid assigned 1..n per partition file
    assert(back.select("fid").collect().map(_.getLong(0)).forall(_ >= 1))
    // named-table read works too
    assert(GeoPackage.read(spark, path, table = "test_layer").count() == wkts.length)
  }

  test("GeoPackage reads an externally-written canonical file (sqlite3-authored)") {
    // fixture authored by the stock sqlite3 library with the canonical
    // constrained gpkg DDL (TEXT PRIMARY KEY autoindexes, AUTOINCREMENT,
    // freelist layout, overflow chains) — interop in the read direction
    import graft.sources.GeoPackage
    val fixture = getClass.getResource("/external_canonical.gpkg").getPath
    val df = GeoPackage.read(spark, fixture)
    assert(df.schema.fieldNames.toSeq ==
      Seq("fid", "geometry", "name", "lanes", "len_km"))
    val rows = df.select(col("fid"), col("name"), col("lanes"), col("len_km"),
        st.asText(col("geometry")).as("wkt"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows == Map(1L -> "main st", 2L -> "long rd", 3L -> "no-geom", 4L -> "big rd"))
    val wkts = df.select(col("fid"), st.asText(col("geometry"))).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(wkts(1L) == "POINT (1.5 2.5)")
    assert(wkts(2L) == "LINESTRING (0 0, 3 4, 6 0)")
    assert(wkts(3L) == null)
    val npts = df.filter(col("fid") === 4)
      .select(st.f("st_npoints", col("geometry"))).collect().head.getInt(0)
    assert(npts == 3000) // spilled through sqlite3's own overflow chain
  }

  test("GeoPackage large geometries spill to overflow pages and read back") {
    import graft.sources.GeoPackage
    import spark.implicits._
    // a linestring with 4000 points -> ~64KB WKB, far beyond one 4KB page
    val big = (0 until 4000).map(i => s"$i ${i % 7}").mkString("LINESTRING (", ", ", ")")
    val df = Seq((1L, big), (2L, "POINT (0 0)")).toDF("id", "wkt")
      .withColumn("geom", st.geomFromWkt(col("wkt"))).drop("wkt").coalesce(1)
    GeoPackage.write(df, "/tmp/graft_gpkg_big", "geom")
    val back = GeoPackage.read(spark, "/tmp/graft_gpkg_big")
    assert(back.count() == 2)
    val n = back.filter(col("id") === 1)
      .select(st.f("st_npoints", col("geometry"))).collect().head.getInt(0)
    assert(n == 4000)
  }

  test("LAS roundtrip: format 0 and 1, quantization exact at power-of-two scale") {
    import graft.sources.LasIO
    import spark.implicits._
    val pts = (0 until 500).map { i =>
      (i * 0.25, (i % 37) * 0.5, (i % 11) * 0.25, (i % 100).toLong, (i % 32).toLong,
        i * 1.5)
    }.toDF("x", "y", "z", "intensity", "classification", "gps_time")
    // format 1 (gps) at scale 0.25: doubles reconstruct bit-exactly
    LasIO.write(pts.repartition(3), "/tmp/graft_las1", scale = 0.25)
    val back1 = LasIO.read(spark, "/tmp/graft_las1")
    assert(back1.schema.fieldNames.toSeq ==
      Seq("x", "y", "z", "intensity", "classification", "gps_time"))
    def snap(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    assert(snap(back1) == snap(pts))
    // format 0 (no gps)
    val noGps = pts.drop("gps_time")
    LasIO.write(noGps.repartition(2), "/tmp/graft_las0", scale = 0.25)
    assert(snap(LasIO.read(spark, "/tmp/graft_las0")) == snap(noGps))
    // header sanity: LASF magic + 1.2 + point count
    val f = new java.io.File("/tmp/graft_las1").listFiles()
      .filter(_.getName.endsWith(".las")).head
    val hdr = java.nio.file.Files.readAllBytes(f.toPath)
    assert(new String(hdr, 0, 4, "US-ASCII") == "LASF" && hdr(24) == 1 && hdr(25) == 2)
  }

  test("legacy LAZ roundtrip: formats 0/1 through the pointwise codec") {
    import graft.sources.LasIO
    import spark.implicits._
    val pts = (0 until 2000).map { i =>
      ((i % 640) * 0.25, (i % 370) * 0.5, (i % 110) * 0.25,
        (i % 100).toLong, (i % 32).toLong, i * 1.5)
    }.toDF("x", "y", "z", "intensity", "classification", "gps_time")
    def snap(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).sorted.toSeq
    LasIO.write(pts.repartition(3), "/tmp/graft_laz1", scale = 0.25, compress = true)
    val files = new java.io.File("/tmp/graft_laz1").listFiles()
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(files.nonEmpty && files.forall(_.getName.endsWith(".laz")))
    assert(snap(LasIO.read(spark, "/tmp/graft_laz1")) == snap(pts))
    val noGps = pts.drop("gps_time")
    LasIO.write(noGps.repartition(2), "/tmp/graft_laz0", scale = 0.25, compress = true)
    assert(snap(LasIO.read(spark, "/tmp/graft_laz0")) == snap(noGps))
    // compressed legacy is smaller than the plain encoding
    LasIO.write(pts.repartition(1), "/tmp/graft_las1p", scale = 0.25)
    LasIO.write(pts.repartition(1), "/tmp/graft_laz1p", scale = 0.25, compress = true)
    def size(d: String): Long = new java.io.File(d).listFiles().map(_.length).sum
    assert(size("/tmp/graft_laz1p") < size("/tmp/graft_las1p") / 2,
      s"laz ${size("/tmp/graft_laz1p")} vs las ${size("/tmp/graft_las1p")}")
  }

  test("Zarr roundtrip: chunk grid of rasters with shifted geotransforms") {
    import graft.sources.ZarrIO
    import spark.implicits._
    // 3x2 chunk grid of 4x3 rasters on a global grid anchored at (100, 200)
    val df = (0 until 6).map { i =>
      val cy = i / 3L; val cx = i % 3L
      (cy, cx, i)
    }.toDF("cy", "cx", "seed")
      .withColumn("ulx", lit(100.0) + col("cx") * 4 * 2.0)
      .withColumn("uly", lit(200.0) + col("cy") * 3 * -2.0)
      .withColumn("vals", transform(sequence(lit(0), lit(11)),
        j => (col("seed") * 100 + j).cast("double")))
      .withColumn("raster", st.f("rs_makeraster", lit(4), lit(3), col("ulx"), col("uly"),
        lit(2.0), lit(-2.0), col("vals")))
      .select("cy", "cx", "raster")
    ZarrIO.write(df, "/tmp/graft_zarr", "raster")
    val back = ZarrIO.read(spark, "/tmp/graft_zarr")
    assert(back.count() == 6)
    val vals = back.select(col("cy"), col("cx"),
        st.f("rs_value", col("raster"), lit(1), lit(1), lit(2)).as("v"),
        st.f("rs_upperleftx", col("raster")).as("ulx"),
        st.f("rs_upperlefty", col("raster")).as("uly"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    (0 until 6).foreach { i =>
      val cy = i / 3L; val cx = i % 3L
      val (v, ulx, uly) = vals((cy, cx))
      assert(v == i * 100 + 2 * 4 + 1, s"chunk ($cy,$cx) value") // row 2, col 1
      assert(ulx == 100.0 + cx * 8.0 && uly == 200.0 + cy * -6.0, s"chunk ($cy,$cx) origin")
    }
    // uncompressed mode roundtrips too
    ZarrIO.write(df, "/tmp/graft_zarr_raw", "raster", compress = false)
    assert(ZarrIO.read(spark, "/tmp/graft_zarr_raw").count() == 6)

    // zarr V3 SHARDED write: inner chunks group into 2x2 shards (one
    // shuffle, shard assembly per task), read() expands them back to one
    // row per inner chunk with identical values
    locally {
      val p = "/tmp/graft_zarr_sharded_w"
      ZarrIO.writeV3Sharded(df, p, "raster", innerPerShard = (2, 2))
      assert(new java.io.File(p, "zarr.json").isFile)
      assert(new java.io.File(p, "c/0/0").isFile && new java.io.File(p, "c/0/1").isFile)
      val back = ZarrIO.read(spark, p)
      assert(back.count() == 6)
      val vals = back.select(col("cy"), col("cx"),
          st.f("rs_value", col("raster"), lit(1), lit(1), lit(2)).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      (0 until 6).foreach { i =>
        assert(vals((i / 3L, i % 3L)) == i * 100 + 2 * 4 + 1, s"sharded chunk $i")
      }
    }

    // zarr V3: root zarr.json, c/<y>/<x> chunk keys, bytes+gzip codecs —
    // the same grid roundtrips with identical values through read()'s
    // auto-detection, both compressed and raw
    for ((p, comp) <- Seq(("/tmp/graft_zarr_v3", true), ("/tmp/graft_zarr_v3raw", false))) {
      ZarrIO.writeV3(df, p, "raster", compress = comp)
      assert(new java.io.File(p, "zarr.json").isFile, s"$p missing zarr.json")
      assert(new java.io.File(p, "c/1/2").isFile, s"$p missing c/1/2 chunk")
      val b3 = ZarrIO.read(spark, p)
      assert(b3.count() == 6)
      val v3vals = b3.select(col("cy"), col("cx"),
          st.f("rs_value", col("raster"), lit(1), lit(1), lit(2)).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      (0 until 6).foreach { i =>
        assert(v3vals((i / 3L, i % 3L)) == i * 100 + 2 * 4 + 1,
          s"$p chunk ($i) value")
      }
    }

    // +/-Infinity nodata must be string-quoted in zarr.json (bare
    // Infinity is invalid JSON — our own parseMeta rejects it) and must
    // survive v2, v3 and sharded roundtrips
    for ((nd, tag) <- Seq((Double.PositiveInfinity, "pinf"),
        (Double.NegativeInfinity, "ninf"))) {
      val dfi = df.withColumn("raster",
        st.f("rs_setbandnodatavalue", col("raster"), lit(nd)))
      for ((p, wr) <- Seq[(String, org.apache.spark.sql.DataFrame => Unit)](
          (s"/tmp/graft_zarr_inf_v2_$tag", d => ZarrIO.write(d, s"/tmp/graft_zarr_inf_v2_$tag", "raster")),
          (s"/tmp/graft_zarr_inf_v3_$tag", d => ZarrIO.writeV3(d, s"/tmp/graft_zarr_inf_v3_$tag", "raster")),
          (s"/tmp/graft_zarr_inf_sh_$tag", d => ZarrIO.writeV3Sharded(d, s"/tmp/graft_zarr_inf_sh_$tag", "raster", innerPerShard = (2, 2))))) {
        wr(dfi)
        val back = ZarrIO.read(spark, p) // parseMeta must accept the JSON
        val got = back.limit(1)
          .select(st.f("rs_bandnodatavalue", col("raster"), lit(1)))
          .collect().head.getDouble(0)
        assert(got == nd, s"$p nodata roundtrip: $got != $nd")
      }
    }
  }

  test("FlatGeobuf reads a real-world file (natural-earth cities, GDAL-written)") {
    import graft.sources.FlatGeobuf
    val fixture = "/root/reference/r/sedonadb/inst/files/natural-earth_cities.fgb"
    assume(new java.io.File(fixture).isFile)
    val df = FlatGeobuf.read(spark, fixture)
    val n = df.count()
    assert(n > 100, s"expected >100 cities, got $n")
    assert(df.columns.contains("name"))
    // every geometry is a lon/lat point within world bounds
    import org.apache.spark.sql.functions._
    val stats = df.select(
      min(call_function("st_x", col("geometry"))), max(call_function("st_x", col("geometry"))),
      min(call_function("st_y", col("geometry"))), max(call_function("st_y", col("geometry"))),
      countDistinct(call_function("st_geometrytype", col("geometry")))).collect()(0)
    assert(stats.getDouble(0) >= -180 && stats.getDouble(1) <= 180)
    assert(stats.getDouble(2) >= -90 && stats.getDouble(3) <= 90)
    assert(stats.getLong(4) == 1L) // all points
    val names = df.select("name").collect().map(_.getString(0)).toSet
    assert(names.exists(_.contains("Tokyo")) || names.exists(_.contains("London")) ||
      names.exists(_.contains("Paris")), s"sample: ${names.take(5)}")
  }

  test("empty DataFrame writes produce readable zero-row datasets") {
    import graft.sources.{FlatGeobuf, GeoPackage}
    import org.apache.spark.sql.functions._
    val empty = spark.range(0).select(col("id"),
      call_function("st_point", col("id").cast("double"), col("id").cast("double")).as("geom"))
    FlatGeobuf.write(empty, "/tmp/graft_fgb_empty", "geom")
    assert(FlatGeobuf.read(spark, "/tmp/graft_fgb_empty").count() == 0)
    GeoPackage.write(empty, "/tmp/graft_gpkg_empty", "geom")
    assert(GeoPackage.read(spark, "/tmp/graft_gpkg_empty").count() == 0)
  }

  test("real-world GeoParquet: cities join countries point-in-polygon") {
    import graft.sources.GeoParquet
    import org.apache.spark.sql.functions._
    val dir = "/root/reference/r/sedonadb/inst/files"
    assume(new java.io.File(s"$dir/natural-earth_countries_geo.parquet").isFile)
    val cities = GeoParquet.read(spark, s"$dir/natural-earth_cities_geo.parquet")
    val countries = GeoParquet.read(spark, s"$dir/natural-earth_countries_geo.parquet")
    assert(cities.count() == 243 && countries.count() == 177)
    // real multi-ring WKB decodes: every country has positive area and
    // the world sums to ~space of the landmass in square degrees
    val area = countries.select(sum(call_function("st_area", col("geometry"))))
      .collect()(0).getDouble(0)
    assert(area > 1000 && area < 30000, s"world area (sq deg) = $area")
    // point-in-polygon join on real boundaries via the spatial strategy
    val joined = cities.as("c").join(countries.as("n"),
      call_function("st_within", col("c.geometry"), col("n.geometry")))
      .select(col("c.name"), col("n.name").as("country"))
    val matched = joined.count()
    // nearly all capitals fall inside a country polygon (coastal cities on
    // simplified boundaries may fall just outside)
    assert(matched >= 200 && matched <= 260, s"matched=$matched")
    val london = joined.filter(col("name") === "London").collect()
    assert(london.length == 1 && london(0).getString(1) == "United Kingdom")
  }

  test("real-world spherical areas: natural-earth countries sum to Earth's landmass") {
    import graft.sources.GeoParquet
    import org.apache.spark.sql.functions._
    val f = "/root/reference/r/sedonadb/inst/files/natural-earth_countries-geography_geo.parquet"
    assume(new java.io.File(f).isFile)
    val countries = GeoParquet.read(spark, f)
    // spherical area over real multipolygon boundaries: Earth's land
    // (with Antarctica, inland waters) ≈ 1.49e14 m²; natural-earth 1:110m
    // simplification keeps the total within a few percent
    val total = countries.select(
      sum(call_function("st_areasphere", col("geometry")))).collect()(0).getDouble(0)
    assert(total > 1.30e14 && total < 1.60e14, s"total land area = $total")
    // one anchor: Australia ≈ 7.7e12 m²
    val aus = countries.filter(col("name") === "Australia").select(
      call_function("st_areasphere", col("geometry"))).collect()
    assert(aus.length == 1)
    assert(math.abs(aus(0).getDouble(0) - 7.7e12) < 0.4e12,
      s"Australia = ${aus(0).getDouble(0)}")
  }

  test("FlatGeobuf write overwrites: no stale parts after fewer-partition rewrite") {
    import graft.sources.FlatGeobuf
    val path = "/tmp/graft_fgb_overwrite"
    val big = spark.range(100).select(col("id"),
      st.point(col("id").cast("double"), col("id").cast("double")).as("geom"))
    FlatGeobuf.write(big.repartition(4), path, "geom")
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".fgb")) == 4)
    val small = big.filter(col("id") < 10).coalesce(1)
    FlatGeobuf.write(small, path, "geom")
    assert(new java.io.File(path).listFiles().count(_.getName.endsWith(".fgb")) == 1)
    assert(FlatGeobuf.read(spark, path, "geom").count() == 10)
  }

  test("Geo.read dispatches on extension across the vector containers") {
    import graft.sources.Geo
    val base = Files.createTempDirectory("geo_read").toString
    val small = spark.range(10).select(col("id"),
      st.point(col("id").cast("double"), (col("id") % 3).cast("double")).as("geom"))
    GeoParquet.write(small, s"$base/d.parquet", "geom")
    graft.sources.FlatGeobuf.write(small, s"$base/d.fgb", "geom")
    graft.sources.Shapefile.write(small, s"$base/d.shp", "geom")
    graft.sources.GeoJsonIO.write(small, s"$base/d.geojson", "geom")
    for (p <- Seq(s"$base/d.parquet", s"$base/d.fgb", s"$base/d.shp",
        s"$base/d.geojson")) {
      val df = Geo.read(spark, p)
      assert(df.count() == 10, p)
      assert(df.columns.contains("geom") || df.columns.contains("geometry"), p)
    }
    val e = intercept[IllegalArgumentException](Geo.read(spark, s"$base/d.xyz"))
    assert(e.getMessage.contains("supported extensions"))
  }

  test("geoarrow encodings: all six layouts roundtrip; files are nested, not WKB") {
    val cases = Seq(
      "point" -> "POINT (3 4)",
      "linestring" -> "LINESTRING (0 0, 1 1, 2 0)",
      "polygon" -> "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
      "multipoint" -> "MULTIPOINT ((1 1), (2 3))",
      "multilinestring" -> "MULTILINESTRING ((0 0, 1 1), (5 5, 6 7, 8 5))",
      "multipolygon" ->
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 5)))")
    for ((enc, wkt) <- cases) {
      val dir = Files.createTempDirectory("gp_ga").toString + s"/$enc"
      // a per-row translated copy of the type's base shape keeps every row
      // distinct so the multiset compare is meaningful
      val src = spark.range(50).select(col("id"),
        st.f("st_translate", st.geomFromWkt(lit(wkt)),
          col("id").cast("double"), (col("id") % 7).cast("double")).as("geom"))
      GeoParquet.write(src, dir, "geom", crs = "EPSG:3857", encoding = enc)
      // the stored column is the nested coordinate layout, not binary
      val raw = spark.read.parquet(dir)
      assert(!raw.schema("geom").dataType.isInstanceOf[
        org.apache.spark.sql.types.BinaryType.type], s"$enc stored as WKB?")
      assert(new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "_geo.json")))
        .contains(s""""encoding":"$enc""""), s"$enc metadata")
      val back = GeoParquet.read(spark, dir)
      assert(GeoParquet.geometryColumns(back) == Seq("geom" -> "EPSG:3857"), enc)
      val a = src.select(st.asText(col("geom"))).collect().map(_.getString(0)).sorted
      val b = back.select(st.asText(col("geom"))).collect().map(_.getString(0)).sorted
      assert(a.sameElements(b), s"$enc values")
      // decoded column composes with ordinary operators
      assert(back.select(st.area(col("geom"))).count() == 50)
    }
    // type-mismatched write errors loudly
    val bad = spark.range(1).select(
      st.geomFromWkt(lit("LINESTRING (0 0, 1 1)")).as("geom"))
    val dir = Files.createTempDirectory("gp_ga").toString + "/bad"
    val e = intercept[Exception] {
      GeoParquet.write(bad, dir, "geom", encoding = "point")
    }
    assert(e.getMessage != null)
  }
}
