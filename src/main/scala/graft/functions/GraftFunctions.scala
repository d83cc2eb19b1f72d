package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL + Column-DSL registration for every engine function
  * (reference: rust/sedona/src/context.rs:330-356 register flow).
  * The Column DSL routes through `call_function`, so DataFrame and SQL
  * users resolve through the identical registry.
  */
object GraftFunctions {

  private val aggregates: Map[String, Seq[Expression] => Expression] = Map(
    "st_envelope_agg" -> (es => StEnvelopeAgg(es.head)),
    "st_envelopesphere_agg" -> (es => StEnvelopeSphereAgg(es.head)),
    "st_union_agg" -> (es => StUnionAgg(es.head)),
    "st_intersection_agg" -> (es => StIntersectionAgg(es.head)),
    "st_collect_agg" -> (es => StCollectAgg(es.head)),
    "st_convexhull_agg" -> (es => StConvexHullAgg(es.head)),
    "st_analyze_agg" -> (es => StAnalyzeAgg(es.head)),
    "st_polygonize_agg" -> (es => StPolygonizeAgg(es.head)))

  private val sketches: Map[String, Seq[Expression] => Expression] = Map(
    "sd_minhash" -> (es => graft.pipeline.MinHashSig(es.head, es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => other.eval().asInstanceOf[Number].intValue()
    })),
    "sd_simhash32" -> (es => graft.pipeline.SimHash32(es.head)),
    "sd_sorted_intersect_count" ->
      (es => graft.pipeline.SortedIntersectCount(es.head, es(1))),
    "sd_hash32" -> (es => graft.pipeline.SdHash32(es.head)),
    "sd_strip_markup" -> (es => graft.pipeline.SdStripMarkup(es.head)),
    "sd_repetition_stats" -> (es => graft.pipeline.SdRepetitionStats(es.head)),
    "sd_shingle_hash32" -> (es => graft.pipeline.SdShingleHash32(es.head, es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => other.eval().asInstanceOf[Number].intValue()
    })),
    "sd_dot" -> (es => graft.pipeline.SdDot(es.head, es(1))),
    "sd_sqdist" -> (es => graft.pipeline.SdSqDist(es.head, es(1))),
    "sd_argmin_sqdist" -> (es => graft.pipeline.ArgMinSqDist(es.head, es(1))),
    "sd_min_sqdist" -> (es => graft.pipeline.MinSqDist(es.head, es(1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    (GeomScalars.registry ++ RasterFunctions.registry ++ RasterOps.registry ++
      GeoArrowFunctions.registry ++ aggregates ++ sketches)
      .foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** User extension surface (§2.8; reference: SedonaScalarUDF kernel
    * registration, rust/sedona-expr/src/scalar_udf.rs): register a custom
    * geometry-typed scalar under a SQL name. The kernel receives decoded
    * JTS geometries / unboxed primitives per the arg-kind signature and
    * may return a Geometry (WKB-encoded automatically), String, or any
    * Catalyst-compatible value. Codegen-integrated like every built-in.
    *
    * {{{
    * GraftFunctions.registerScalar(spark, "my_inflate", DoubleType,
    *   Seq(ArgKind.Geom, ArgKind.Dbl)) { a =>
    *     a(0).asInstanceOf[Geometry].buffer(a(1).asInstanceOf[Double]).getArea
    *   }
    * }}}
    */
  def registerScalar(spark: SparkSession, name: String,
      out: org.apache.spark.sql.types.DataType, argKinds: Seq[ArgKind.Value])(
      kernel: Array[Any] => Any): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name,
      children => GeomScalar(name, children, out, argKinds, kernel), "scala_udf")

  /** Column DSL — `st.point(lit(1), lit(2))` etc. Requires
    * GraftExtensions.install on the session. */
  object st {
    def f(name: String, cols: Column*): Column = call_function(name, cols: _*)

    def point(x: Column, y: Column): Column = f("st_point", x, y)
    def geomFromWkt(s: Column): Column = f("st_geomfromwkt", s)
    def asText(g: Column): Column = f("st_astext", g)
    def makeEnvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
      f("st_makeenvelope", xmin, ymin, xmax, ymax)
    def area(g: Column): Column = f("st_area", g)
    def distance(a: Column, b: Column): Column = f("st_distance", a, b)
    def intersects(a: Column, b: Column): Column = f("st_intersects", a, b)
    def contains(a: Column, b: Column): Column = f("st_contains", a, b)
    def within(a: Column, b: Column): Column = f("st_within", a, b)
    def dwithin(a: Column, b: Column, d: Column): Column = f("st_dwithin", a, b, d)
    def buffer(g: Column, d: Column): Column = f("st_buffer", g, d)
    def centroid(g: Column): Column = f("st_centroid", g)
    def envelope(g: Column): Column = f("st_envelope", g)
    def x(g: Column): Column = f("st_x", g)
    def y(g: Column): Column = f("st_y", g)
    def xmin(g: Column): Column = f("st_xmin", g)
    def ymin(g: Column): Column = f("st_ymin", g)
    def xmax(g: Column): Column = f("st_xmax", g)
    def ymax(g: Column): Column = f("st_ymax", g)
    def length(g: Column): Column = f("st_length", g)
    def transform(g: Column, from: Column, to: Column): Column =
      f("st_transform", g, from, to)
    def envelopeAgg(g: Column): Column = f("st_envelope_agg", g)
    def unionAgg(g: Column): Column = f("st_union_agg", g)
    def collectAgg(g: Column): Column = f("st_collect_agg", g)
    def analyzeAgg(g: Column): Column = f("st_analyze_agg", g)
  }
}
