package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom._
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.algorithm.distance.DiscreteHausdorffDistance
import org.locationtech.jts.algorithm.hull.ConcaveHull
import org.locationtech.jts.densify.Densifier
import org.locationtech.jts.geom.util.{AffineTransformation, GeometryFixer}
import org.locationtech.jts.linearref.LengthIndexedLine
import org.locationtech.jts.operation.linemerge.LineMerger
import org.locationtech.jts.operation.polygonize.Polygonizer
import org.locationtech.jts.operation.overlay.snap.GeometrySnapper
import org.locationtech.jts.operation.union.UnaryUnionOp
import org.locationtech.jts.precision.{GeometryPrecisionReducer, MinimumClearance}
import org.locationtech.jts.simplify.{DouglasPeuckerSimplifier, TopologyPreservingSimplifier}
import org.locationtech.jts.triangulate.DelaunayTriangulationBuilder
import graft.geom.GeomIO

/** The ST_* scalar function surface (SURVEY.md §2.5). One generic Catalyst
  * expression shape carries every kernel: per-row WKB decode -> JTS op ->
  * encode, mirroring the reference's per-batch WkbExecutor
  * (rust/sedona-functions/src/executor.rs:83-181) with JTS standing in for
  * GEOS/tg/geo (c/sedona-geos/src/register.rs:20-100).
  *
  * CodegenFallback keeps these inside whole-stage-codegen pipelines as
  * interpreted leaf calls — same execution shape the reference uses (no JIT,
  * SURVEY.md §4.2).
  */
object ArgKind extends Enumeration {
  // DblN: nullable double — a NULL child reaches the kernel as null
  // instead of nulling the whole result (reference kernels with
  // optional per-row arguments, e.g. RS_AsRaster's nodata).
  val Geom, Dbl, Int_, Str, Bool, Bin, Raw, DblN = Value
}

/** Item-level CRS carrier: struct(item: wkb, crs: string) — the
  * reference's per-row CRS type (rust/sedona-schema/src/datatypes.rs:
  * 126-151), used where a column mixes CRSes (raster footprints). Every
  * GeomScalar kernel accepts it transparently: the item is unwrapped
  * (SRID seeded from the crs string when it parses), per-row CRSes of
  * all item args must agree, and geometry-returning kernels re-wrap the
  * result with the propagated crs — the ItemCrsKernel contract of
  * rust/sedona-expr/src/item_crs.rs. */
object ItemCrs {
  val dataType: StructType = StructType(Seq(
    StructField("item", BinaryType),
    StructField("crs", StringType)))

  def is(dt: DataType): Boolean = dt match {
    case s: StructType =>
      s.fields.length == 2 &&
        s.fields(0).name == "item" && s.fields(0).dataType == BinaryType &&
        s.fields(1).name == "crs" && s.fields(1).dataType == StringType
    case _ => false
  }

  def row(wkb: Array[Byte], crs: UTF8String): InternalRow =
    new GenericInternalRow(Array[Any](wkb, crs))
}

case class GeomScalar(
    fname: String,
    children: Seq[Expression],
    outType: DataType,
    argKinds: Seq[ArgKind.Value],
    f: Array[Any] => Any)
  extends Expression {

  override def nullable: Boolean = true

  /** True when a Geom-kind child carries the item-CRS struct. */
  private lazy val hasItemCrsInput: Boolean =
    children.indices.exists(i => i < argKinds.length &&
      argKinds(i) == ArgKind.Geom && ItemCrs.is(children(i).dataType))

  /** Geometry-returning kernels propagate item CRS to an item-CRS
    * output; BinaryType kernels that return raw bytes must not. */
  private lazy val wrapsItemCrs: Boolean =
    hasItemCrsInput && outType == BinaryType &&
      !GeomScalar.binaryNotGeometry(fname)

  override def dataType: DataType =
    if (wrapsItemCrs) ItemCrs.dataType else outType
  override def prettyName: String = fname
  // I/O kernels are never folded: ConstantFolding would (a) run file I/O
  // on the DRIVER at plan time and (b) evaluate pixel readers before
  // RasterLoadRule has wrapped their raster arg in rs_ensureloaded
  // (the fold and the wrap live in the same optimizer batch)
  override def foldable: Boolean =
    !GeomScalar.neverFold(fname) && children.forall(_.foldable)

  /** Kernel over already-evaluated, non-null child values. Mutates `args`
    * in place (arg-kind conversion), returns the Catalyst-typed result or
    * null. Shared by interpreted eval and the generated code. */
  def compute(args: Array[Any]): Any = {
    var i = 0
    var itemCrs: UTF8String = null
    var itemCrsSeen = false
    while (i < args.length) {
      args(i) = argKinds(i) match {
        case ArgKind.Geom => args(i) match {
          case row: InternalRow =>
            // item-CRS struct: unwrap, seed SRID from the crs string,
            // enforce per-row CRS agreement across item args
            val c = if (row.isNullAt(1)) null else row.getUTF8String(1)
            if (!itemCrsSeen) { itemCrs = c; itemCrsSeen = true }
            else require(java.util.Objects.equals(itemCrs, c),
              s"$fname: item CRS mismatch: $itemCrs vs $c")
            if (row.isNullAt(0)) return null
            val g = GeomIO.read(row.getBinary(0))
            if (c != null) {
              val srid = try GeomScalars.parseCrsSrid(c.toString)
                catch { case _: Exception => 0 }
              if (srid != 0) g.setSRID(srid)
            }
            g
          case bytes => GeomIO.read(bytes.asInstanceOf[Array[Byte]])
        }
        case ArgKind.Dbl => args(i) match {
          case n: java.lang.Number => n.doubleValue()
          case dec: Decimal => dec.toDouble
        }
        case ArgKind.DblN => args(i) match {
          case null => null
          case n: java.lang.Number => java.lang.Double.valueOf(n.doubleValue())
          case dec: Decimal => java.lang.Double.valueOf(dec.toDouble)
        }
        case ArgKind.Int_ => args(i) match {
          case n: java.lang.Number => n.intValue()
          case dec: Decimal => dec.toInt
        }
        case ArgKind.Str => args(i).asInstanceOf[UTF8String].toString
        case _ => args(i)
      }
      i += 1
    }
    val res =
      try f(args)
      catch {
        case e: Exception =>
          throw new IllegalArgumentException(
            s"$fname failed: ${e.getMessage}", e)
      }
    res match {
      case null => null
      case g: Geometry if wrapsItemCrs => ItemCrs.row(GeomIO.write(g), itemCrs)
      case g: Geometry => GeomIO.write(g)
      case s: String => UTF8String.fromString(s)
      case other => other
    }
  }

  override def eval(input: InternalRow): Any = {
    val n = children.length
    val args = new Array[Any](n)
    var i = 0
    while (i < n) {
      val v = children(i).eval(input)
      if (v == null && argKinds(i) != ArgKind.DblN) return null
      args(i) = v
      i += 1
    }
    compute(args)
  }

  /** Unlike CodegenFallback, this keeps the containing operator inside
    * WholeStageCodegen: children evaluate through their own generated
    * code and only the kernel body is a (bound) virtual call. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
    : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen._
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val ref = ctx.addReferenceObj("geomFn", this, classOf[GeomScalar].getName)
    val evals = children.map(_.genCode(ctx))
    val argsName = ctx.freshName("args")
    val resName = ctx.freshName("res")
    val javaType = CodeGenerator.javaType(dataType)
    val hardNulls = evals.zipWithIndex
      .filterNot { case (_, i) => argKinds(i) == ArgKind.DblN }
    val anyNull =
      if (hardNulls.isEmpty) "false"
      else hardNulls.map(_._1.isNull.toString).mkString(" || ")
    val setArgs = evals.zipWithIndex
      .map { case (e, i) =>
        if (argKinds(i) == ArgKind.DblN)
          s"if (${e.isNull}) { $argsName[$i] = null; } else { $argsName[$i] = ${e.value}; }"
        else s"$argsName[$i] = ${e.value};"
      }.mkString("\n")
    val extract =
      if (CodeGenerator.isPrimitiveType(dataType))
        s"((${CodeGenerator.boxedType(dataType)}) $resName).${javaType}Value()"
      else s"($javaType) $resName"
    ev.copy(code = code"""
      ${evals.map(_.code).mkString("\n")}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!($anyNull)) {
        Object[] $argsName = new Object[${children.length}];
        $setArgs
        Object $resName = $ref.compute($argsName);
        if ($resName != null) {
          ${ev.isNull} = false;
          ${ev.value} = $extract;
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object GeomScalar {
  /** BinaryType kernels whose result must not be re-wrapped into an
    * item-CRS struct: writers of raw bytes, and CRS-changing kernels
    * whose output CRS differs from the carried input string (the new
    * CRS rides in the result's SRID instead). */
  val binaryNotGeometry: Set[String] =
    Set("st_asbinary", "st_asewkb", "st_aswkb",
      "st_transform", "st_setcrs", "st_setsrid")

  /** Kernels that do file I/O — excluded from constant folding. */
  val neverFold: Set[String] = Set("rs_frompath", "rs_ensureloaded")
}

object GeomScalars {
  import ArgKind._

  type B = Seq[Expression] => Expression

  /** Function registry: SQL name -> (outType, argKinds, kernel).
    * Geometry-typed results are signalled by BinaryType + the kernel
    * returning a JTS Geometry. */
  private def fn(name: String, out: DataType, kinds: Seq[ArgKind.Value])(
      k: Array[Any] => Any): (String, B) =
    name -> ((children: Seq[Expression]) => GeomScalar(name, children, out, kinds, k))

  /** Rebuild a geometry with each coordinate mapped through `f` as a full
    * 3D Coordinate (works on immutable 2D CoordinateXY sequences). */
  private[functions] def mapCoords3D(g: Geometry, f: Coordinate => Coordinate): Geometry =
    new org.locationtech.jts.geom.util.GeometryEditor(GeomIO.factory).edit(g,
      new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
        override def edit(cs: Array[Coordinate], geom: Geometry): Array[Coordinate] =
          cs.map(f)
      })

  @inline private def g0(a: Array[Any]): Geometry = a(0).asInstanceOf[Geometry]
  @inline private def g1(a: Array[Any]): Geometry = a(1).asInstanceOf[Geometry]
  @inline private def d(a: Array[Any], i: Int): Double = a(i).asInstanceOf[Double]
  @inline private def i(a: Array[Any], idx: Int): Int = a(idx).asInstanceOf[Int]
  @inline private def s(a: Array[Any], i: Int): String = a(i).asInstanceOf[String]

  private def linearOnly(g: Geometry): LineString = g match {
    case l: LineString => l
    case _ => null
  }

  /** PostGIS-style 1-based (negative = from end) element index. */
  private def idx1(n: Int, size: Int): Int = if (n < 0) size + n else n - 1

  /** Edge-splitting core of st_tessellategeog/geom. Z/M of an inserted
    * vertex interpolate by its great-circle distance fraction between the
    * segment endpoints (matches the s2 tessellator's published values,
    * e.g. 125.023904 at the quarter point of the highlat Z case). Sphere
    * radius 6371000 m, the constant the reference's tessellate tests
    * use. */
  private def tessellateEdges(g: Geometry, tolM: Double,
      toGeography: Boolean): Geometry = {
    require(java.lang.Double.isFinite(tolM) && tolM > 0,
      "tessellate tolerance must be finite and greater than 0")
    val R = 6371000.0
    def gc(aLon: Double, aLat: Double, bLon: Double, bLat: Double): Double = {
      val p1 = math.toRadians(aLat); val p2 = math.toRadians(bLat)
      val dp = p2 - p1; val dl = math.toRadians(bLon - aLon)
      val h = math.sin(dp / 2) * math.sin(dp / 2) +
        math.cos(p1) * math.cos(p2) * math.sin(dl / 2) * math.sin(dl / 2)
      2 * R * math.asin(math.min(1.0, math.sqrt(h)))
    }
    def geodesicMid(a: Coordinate, b: Coordinate): (Double, Double) = {
      val p1 = math.toRadians(a.y); val l1 = math.toRadians(a.x)
      val p2 = math.toRadians(b.y); val l2 = math.toRadians(b.x)
      val x = math.cos(p1) * math.cos(l1) + math.cos(p2) * math.cos(l2)
      val y = math.cos(p1) * math.sin(l1) + math.cos(p2) * math.sin(l2)
      val z = math.sin(p1) + math.sin(p2)
      val hyp = math.hypot(x, y)
      (math.toDegrees(math.atan2(y, x)), math.toDegrees(math.atan2(z, hyp)))
    }
    def mkMid(a: Coordinate, b: Coordinate, lon: Double, lat: Double,
        f: Double): Coordinate = {
      val hasZ = !java.lang.Double.isNaN(a.getZ) && !java.lang.Double.isNaN(b.getZ)
      val hasM = !java.lang.Double.isNaN(a.getM) && !java.lang.Double.isNaN(b.getM)
      if (hasZ && hasM)
        new CoordinateXYZM(lon, lat, a.getZ + f * (b.getZ - a.getZ),
          a.getM + f * (b.getM - a.getM))
      else if (hasM) new CoordinateXYM(lon, lat, a.getM + f * (b.getM - a.getM))
      else if (hasZ) new Coordinate(lon, lat, a.getZ + f * (b.getZ - a.getZ))
      else new Coordinate(lon, lat)
    }
    var changed = false
    val edited = new org.locationtech.jts.geom.util.GeometryEditor(GeomIO.factory).edit(g,
      new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
        override def edit(cs: Array[Coordinate], geom: Geometry): Array[Coordinate] = {
          if (cs.length < 2) return cs
          val out = scala.collection.mutable.ArrayBuffer[Coordinate](cs.head)
          // o0/o1 are the ORIGINAL edge endpoints: Z/M of every inserted
          // vertex interpolate against them (not the sub-segment), which
          // is what produces the reference's 125.023904 quarter-point
          def rec(c0: Coordinate, c1: Coordinate, o0: Coordinate,
              o1: Coordinate, depth: Int): Unit = {
            val chartLon = (c0.x + c1.x) / 2
            val chartLat = (c0.y + c1.y) / 2
            val (gmLon, gmLat) = geodesicMid(c0, c1)
            if (depth >= 32 || gc(chartLon, chartLat, gmLon, gmLat) <= tolM)
              out += c1
            else {
              val (mLon, mLat) =
                if (toGeography) (chartLon, chartLat) else (gmLon, gmLat)
              val dA = gc(o0.x, o0.y, mLon, mLat)
              val dB = gc(mLon, mLat, o1.x, o1.y)
              val f = if (dA + dB == 0) 0.5 else dA / (dA + dB)
              val mid = mkMid(o0, o1, mLon, mLat, f)
              changed = true
              rec(c0, mid, o0, o1, depth + 1)
              rec(mid, c1, o0, o1, depth + 1)
            }
          }
          var i = 1
          while (i < cs.length) { rec(cs(i - 1), cs(i), cs(i - 1), cs(i), 0); i += 1 }
          out.toArray
        }
      })
    if (changed) edited else g
  }

  /** Parse a buffer style string into JTS BufferParameters + (left,
    * right) side flags (reference st_buffer.rs:178-288 parse_buffer_params
    * / parse_buffer_side_style — two passes on purpose: the side FLAGS
    * take the last side= token even if a later side=both clears
    * single-sidedness, exactly like the reference). */
  private def parseBufferStyle(style: String)
    : (org.locationtech.jts.operation.buffer.BufferParameters, Boolean, Boolean) = {
    import org.locationtech.jts.operation.buffer.BufferParameters
    val bp = new BufferParameters()
    var capSpecified = false
    def num(v: String, what: String): Double =
      try v.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"Invalid $what value: '$v'. Expected a valid number")
      }
    val toks = style.split("\\s+").filter(_.nonEmpty)
    toks.foreach { tok =>
      val eq = tok.indexOf('=')
      require(eq >= 0, s"Missing value for buffer parameter: $tok")
      val key = tok.substring(0, eq).toLowerCase
      val v = tok.substring(eq + 1)
      key match {
        case "endcap" =>
          bp.setEndCapStyle(v.toLowerCase match {
            case "round" => BufferParameters.CAP_ROUND
            case "flat" | "butt" => BufferParameters.CAP_FLAT
            case "square" => BufferParameters.CAP_SQUARE
            case other => throw new IllegalArgumentException(
              s"Invalid endcap style: '$other'. Valid options: round, flat, butt, square")
          })
          capSpecified = true
        case "join" =>
          bp.setJoinStyle(v.toLowerCase match {
            case "round" => BufferParameters.JOIN_ROUND
            case "mitre" | "miter" => BufferParameters.JOIN_MITRE
            case "bevel" => BufferParameters.JOIN_BEVEL
            case other => throw new IllegalArgumentException(
              s"Invalid join style: '$other'. Valid options: round, mitre, miter, bevel")
          })
        case "side" =>
          val single = v.toLowerCase match {
            case "both" => false
            case "left" | "right" => true
            case other => throw new IllegalArgumentException(
              s"Invalid side: '$other'. Valid options: both, left, right")
          }
          if (single && !capSpecified) bp.setEndCapStyle(BufferParameters.CAP_SQUARE)
          bp.setSingleSided(single)
        case "mitre_limit" | "miter_limit" =>
          bp.setMitreLimit(num(v, "mitre_limit"))
        case "quad_segs" | "quadrant_segments" =>
          val n = num(v, "quadrant_segments")
          require(n == n.toInt, s"Invalid quadrant_segments value: '$v'. " +
            "Expected a valid number")
          bp.setQuadrantSegments(n.toInt)
        case other => throw new IllegalArgumentException(
          s"Invalid buffer parameter: $other (accept: 'endcap', 'join', " +
            "'mitre_limit', 'miter_limit', 'quad_segs', 'quadrant_segments' and 'side')")
      }
    }
    var left = false; var right = false
    toks.foreach { tok =>
      val eq = tok.indexOf('=')
      if (eq >= 0 && tok.substring(0, eq).equalsIgnoreCase("side")) {
        val v = tok.substring(eq + 1)
        if (v.equalsIgnoreCase("left")) { left = true; right = false }
        else if (v.equalsIgnoreCase("right")) { right = true; left = false }
      }
    }
    (bp, left, right)
  }

  private def zVals(g: Geometry): Array[Double] =
    g.getCoordinates.map(_.getZ).filterNot(java.lang.Double.isNaN)

  private def mVals(g: Geometry): Array[Double] =
    g.getCoordinates.map(_.getM).filterNot(java.lang.Double.isNaN)

  /** WKT parser with an optional second arg: the 1-arg form returns
    * plain WKB; a CRS-STRING second arg returns an item-CRS struct (SRID
    * seeded when the string parses, string carried verbatim); an INTEGER
    * second arg is a plain SRID stamp (PostGIS ST_GeomFromText(wkt,
    * srid) — test_functions.py test_st_geomfromtext_with_srid). */
  private def wktParserWithCrs(name: String): Seq[Expression] => Expression =
    (children: Seq[Expression]) => {
      val strCrs = children.length >= 2 && children(1).dataType == StringType
      GeomScalar(name, children,
        if (strCrs) ItemCrs.dataType else BinaryType,
        Seq(ArgKind.Str) ++ Seq(ArgKind.Raw).take(children.length - 1),
        a => {
          val g = GeomIO.readWkt(a(0).asInstanceOf[String])
          if (a.length >= 2) {
            if (g == null) null
            else a(1) match {
              case s: UTF8String =>
                val crs = s.toString
                val srid = try parseCrsSrid(crs) catch { case _: Exception => 0 }
                if (srid != 0) g.setSRID(srid)
                ItemCrs.row(GeomIO.write(g), s)
              case n: java.lang.Number => g.setSRID(n.intValue()); g
              case d: Decimal => g.setSRID(d.toInt); g
            }
          } else g
        })
    }

  /** "EPSG:4326", bare "4326", or "OGC:CRS84" (= lon/lat 4326) -> SRID. */
  private[graft] def parseCrsSrid(crs: String): Int = crs.trim match {
    case c if c.equalsIgnoreCase("OGC:CRS84") => 4326
    case c if c.toUpperCase.startsWith("EPSG:") => c.drop(5).trim.toInt
    case c if c.nonEmpty && c.forall(_.isDigit) => c.toInt
    case c if c.startsWith("PROJCS") || c.startsWith("GEOGCS") ||
        c.startsWith("PROJCRS") || c.startsWith("GEOGCRS") ||
        c.startsWith("COMPD_CS") || c.startsWith("BOUNDCRS") =>
      // WKT1/WKT2 CRS string: the defined CRS's own authority is the
      // LAST AUTHORITY["EPSG","n"] / ID["EPSG",n] node in the text
      // (nested datum/unit authorities come first) — reference
      // test_transforms.py::test_st_srid_from_wkt
      wktAuthority(c).getOrElse(throw new IllegalArgumentException(
        s"WKT CRS carries no authority code: no SRID to extract"))
    case c if c.startsWith("{") =>
      // PROJJSON: trailing top-level {"id": {"authority": "EPSG", "code": n}}
      projjsonSrid(c).getOrElse(throw new IllegalArgumentException(
        s"PROJJSON CRS carries no id.code: no SRID to extract"))
    case other => throw new IllegalArgumentException(
      s"unsupported CRS string: '$other' (use EPSG:<code>, WKT with an " +
        "authority, or PROJJSON with an id)")
  }

  private val AuthorityRe =
    """(?:AUTHORITY|ID)\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]""".r
  private def wktAuthority(wkt: String): Option[Int] =
    AuthorityRe.findAllMatchIn(wkt).toSeq.lastOption.map(_.group(1).toInt)

  private def projjsonSrid(json: String): Option[Int] =
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      val id = node.get("id")
      if (id != null && id.has("code") && id.has("authority") &&
          id.get("authority").asText("") == "EPSG") Some(id.get("code").asInt())
      else None
    } catch { case _: Exception => None }

  /** Directed line merge: maximal head-to-tail chains, orientation
    * preserved, broken at any node whose in/out degree is not 1. */
  private def directedLineMerge(g: Geometry): Geometry = {
    val lines = scala.collection.mutable.ArrayBuffer[LineString]()
    def collect(x: Geometry): Unit = x match {
      case l: LineString => if (!l.isEmpty) lines += l
      case gc: org.locationtech.jts.geom.GeometryCollection =>
        (0 until gc.getNumGeometries).foreach(i => collect(gc.getGeometryN(i)))
      case _ => ()
    }
    collect(g)
    if (lines.length <= 1) return g
    def sk(i: Int): (Double, Double) =
      { val c = lines(i).getCoordinateN(0); (c.x, c.y) }
    def ek(i: Int): (Double, Double) =
      { val c = lines(i).getCoordinateN(lines(i).getNumPoints - 1); (c.x, c.y) }
    val byStart = lines.indices.groupBy(sk)
    val byEnd = lines.indices.groupBy(ek)
    // node is a simple pass-through iff exactly one line ends and one
    // starts there
    def follower(i: Int): Option[Int] = {
      val n = ek(i)
      (byStart.get(n), byEnd.get(n)) match {
        case (Some(Seq(j)), Some(Seq(_))) => Some(j)
        case _ => None
      }
    }
    def hasSimplePredecessor(i: Int): Boolean = {
      val n = sk(i)
      (byEnd.get(n), byStart.get(n)) match {
        case (Some(Seq(_)), Some(Seq(_))) => true
        case _ => false
      }
    }
    val used = new Array[Boolean](lines.length)
    val chains = scala.collection.mutable.ArrayBuffer[LineString]()
    def walk(start: Int): Unit = {
      var cs = scala.collection.mutable.ArrayBuffer[Coordinate]()
      cs ++= lines(start).getCoordinates
      used(start) = true
      var cur = start
      var next = follower(cur)
      while (next.exists(j => !used(j))) {
        cur = next.get
        used(cur) = true
        cs ++= lines(cur).getCoordinates.drop(1)
        next = follower(cur)
      }
      chains += GeomIO.factory.createLineString(cs.toArray)
    }
    // chain heads first, then any leftover pure cycles
    lines.indices.foreach(i => if (!used(i) && !hasSimplePredecessor(i)) walk(i))
    lines.indices.foreach(i => if (!used(i)) walk(i))
    if (chains.length == 1) chains(0)
    else GeomIO.factory.createMultiLineString(chains.toArray)
  }

  /** Split each segment into the minimal count of EQUAL parts whose XY
    * length fits `tol`, interpolating whatever Z/M the endpoints carry. */
  private def segmentizeCoords(cs: Array[Coordinate], tol: Double): Array[Coordinate] = {
    if (cs.length < 2) return cs
    val out = scala.collection.mutable.ArrayBuffer[Coordinate](cs(0))
    var i = 1
    while (i < cs.length) {
      val p = cs(i - 1); val q = cs(i)
      val n = math.max(1, math.ceil(p.distance(q) / tol).toInt)
      var k = 1
      while (k < n) {
        val t = k.toDouble / n
        val x = p.x + (q.x - p.x) * t
        val y = p.y + (q.y - p.y) * t
        val hasZ = !p.getZ.isNaN && !q.getZ.isNaN
        val hasM = !p.getM.isNaN && !q.getM.isNaN
        out += (
          if (hasZ && hasM)
            new CoordinateXYZM(x, y, p.getZ + (q.getZ - p.getZ) * t,
              p.getM + (q.getM - p.getM) * t)
          else if (hasM) new CoordinateXYM(x, y, p.getM + (q.getM - p.getM) * t)
          else if (hasZ) new Coordinate(x, y, p.getZ + (q.getZ - p.getZ) * t)
          else new Coordinate(x, y))
        k += 1
      }
      out += q
      i += 1
    }
    out.toArray
  }

  private def azimuth(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p1: Point, p2: Point) =>
      val dx = p2.getX - p1.getX; val dy = p2.getY - p1.getY
      if (dx == 0 && dy == 0) null
      else { val az = math.atan2(dx, dy); if (az < 0) az + 2 * math.Pi else az }
    case _ => null
  }

  private def maxDistance(a: Geometry, b: Geometry): Double = {
    // farthest pair over vertex sets of the convex hulls (exact for
    // point-sets; hulls bound the work on large inputs)
    val ca = a.convexHull().getCoordinates
    val cb = b.convexHull().getCoordinates
    var m = 0.0
    var i = 0
    while (i < ca.length) {
      var j = 0
      while (j < cb.length) {
        val dist = ca(i).distance(cb(j)); if (dist > m) m = dist; j += 1
      }
      i += 1
    }
    m
  }

  private def forceDim2(g: Geometry): Geometry = {
    val c = g.copy()
    c.apply(new CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit =
        if (seq.getDimension > 2) seq.setOrdinate(i, 2, Double.NaN)
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    GeomIO.read(GeomIO.writePlain(c)) // rebuild to drop Z storage
  }

  private def flip(g: Geometry): Geometry = {
    val c = g.copy()
    c.apply(new CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit = {
        val x = seq.getOrdinate(i, 0)
        seq.setOrdinate(i, 0, seq.getOrdinate(i, 1))
        seq.setOrdinate(i, 1, x)
      }
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    c.geometryChanged()
    c
  }

  private def orientPolygons(g: Geometry, ccwShell: Boolean): Geometry = {
    import org.locationtech.jts.algorithm.Orientation
    def fixRing(r: LinearRing, wantCCW: Boolean): LinearRing = {
      val isCCW = Orientation.isCCW(r.getCoordinateSequence)
      if (isCCW == wantCCW) r else r.reverse().asInstanceOf[LinearRing]
    }
    def fixPoly(p: Polygon): Polygon =
      GeomIO.factory.createPolygon(
        fixRing(p.getExteriorRing, ccwShell),
        (0 until p.getNumInteriorRing)
          .map(i => fixRing(p.getInteriorRingN(i), !ccwShell)).toArray)
    g match {
      case p: Polygon => fixPoly(p)
      case m: MultiPolygon => GeomIO.factory.createMultiPolygon(
        (0 until m.getNumGeometries)
          .map(i => fixPoly(m.getGeometryN(i).asInstanceOf[Polygon])).toArray)
      case other => other
    }
  }

  /** Boundary with PostGIS/GEOS GeometryCollection semantics (JTS's
    * getBoundary refuses collections): each member's boundary is taken
    * independently, then grouped by dimension — points of line endpoints
    * first, rings/lines of polygon boundaries second — returned bare
    * when only one group is non-empty (reference
    * tests/functions/test_functions.py st_boundary nested-GC table). */
  private def boundaryOf(g: Geometry): Geometry = g match {
    case gc: GeometryCollection
        if !gc.isInstanceOf[MultiPoint] && !gc.isInstanceOf[MultiLineString] &&
          !gc.isInstanceOf[MultiPolygon] =>
      val members = scala.collection.mutable.ArrayBuffer[Geometry]()
      def flatten(x: Geometry): Unit = x match {
        case c: GeometryCollection if !c.isInstanceOf[MultiPoint] &&
          !c.isInstanceOf[MultiLineString] && !c.isInstanceOf[MultiPolygon] =>
          (0 until c.getNumGeometries).foreach(i => flatten(c.getGeometryN(i)))
        case other => members += other
      }
      flatten(gc)
      val pts = scala.collection.mutable.ArrayBuffer[Point]()
      val lines = scala.collection.mutable.ArrayBuffer[LineString]()
      members.map(_.getBoundary).foreach { b =>
        (0 until b.getNumGeometries).foreach(i => b.getGeometryN(i) match {
          case p: Point if !p.isEmpty => pts += p
          case l: LineString if !l.isEmpty => lines += l
          case _ =>
        })
      }
      val ptGeom: Option[Geometry] =
        if (pts.isEmpty) None
        else if (pts.length == 1) Some(pts.head)
        else Some(GeomIO.factory.createMultiPoint(pts.toArray[Point]))
      val lineGeom: Option[Geometry] =
        if (lines.isEmpty) None
        else if (lines.length == 1) Some(lines.head)
        else Some(GeomIO.factory.createMultiLineString(lines.toArray[LineString]))
      (ptGeom, lineGeom) match {
        case (Some(p), Some(l)) =>
          GeomIO.factory.createGeometryCollection(Array(p, l))
        case (Some(p), None) => p
        case (None, Some(l)) => l
        case (None, None) => GeomIO.factory.createGeometryCollection(Array.empty)
      }
    case other => other.getBoundary
  }

  /** ST_Snap with GEOS/PostGIS semantics (JTS's GeometrySnapper
    * diverges on two points the reference's test_st_snap table pins
    * down: a single-point reference must still insert a vertex into a
    * source segment, and a source vertex is snapped only when its
    * nearest in-tolerance snap point is not already present in the
    * line — so a dense line keeps its interior vertices instead of
    * collapsing them all onto one endpoint). */
  private def snapGeometry(src: Geometry, ref: Geometry, tol: Double): Geometry = {
    val snapPts = ref.getCoordinates.foldLeft(
      scala.collection.mutable.ArrayBuffer[Coordinate]()) { (acc, c) =>
      if (!acc.exists(_.equals2D(c))) acc += c else acc
    }.toArray
    if (snapPts.isEmpty || src.isEmpty) return src
    val t = new org.locationtech.jts.geom.util.GeometryTransformer {
      override def transformCoordinates(coords: CoordinateSequence,
          parent: Geometry): CoordinateSequence = {
        val arr = coords.toCoordinateArray
        if (arr.isEmpty) return coords
        val line = scala.collection.mutable.ArrayBuffer[Coordinate](
          arr.map(_.copy()).toIndexedSeq: _*)
        val closed = line.length > 1 && line.head.equals2D(line.last)
        val end = if (closed) line.length - 1 else line.length
        // 1. vertex snapping, driven per SNAP POINT: each pulls its
        // nearest in-tolerance source vertex (vertices already equal to
        // some snap point stay put) — this is what keeps a dense line's
        // interior vertices intact while its endpoints snap
        snapPts.foreach { p =>
          if (!line.exists(_.equals2D(p))) {
            var bestI = -1
            var bestD = tol
            var i = 0
            while (i < end) {
              if (!snapPts.exists(_.equals2D(line(i)))) {
                val d = p.distance(line(i))
                if (d < bestD) { bestD = d; bestI = i }
              }
              i += 1
            }
            if (bestI >= 0) {
              line(bestI) = p.copy()
              if (closed && bestI == 0) line(line.length - 1) = p.copy()
            }
          }
        }
        // 2. segment insertion: snap points near a segment but not on a
        // vertex become new vertices of that segment
        snapPts.foreach { p =>
          if (!line.exists(_.equals2D(p))) {
            var bestJ = -1
            var bestD = tol
            var j = 0
            while (j < line.length - 1) {
              val d = org.locationtech.jts.algorithm.Distance
                .pointToSegment(p, line(j), line(j + 1))
              if (d < bestD) { bestD = d; bestJ = j }
              j += 1
            }
            if (bestJ >= 0) line.insert(bestJ + 1, p.copy())
          }
        }
        GeomIO.factory.getCoordinateSequenceFactory.create(line.toArray)
      }
    }
    t.transform(src)
  }

  /** Rebuild `out` with M ordinates copied from `src` vertices that share
    * the exact (x, y); vertices created by noding get NaN measures. */
  private def reattachM(src: Geometry, out: Geometry): Geometry = {
    val mmap = new java.util.HashMap[(Double, Double), java.lang.Double]()
    src.getCoordinates.foreach { c =>
      val m = c.getM
      if (!m.isNaN) mmap.putIfAbsent((c.x, c.y), m)
    }
    val withZ = GeomIO.hasZ(src)
    def conv(c: Coordinate): Coordinate = {
      val m = mmap.get((c.x, c.y))
      val mv = if (m == null) Double.NaN else m.doubleValue()
      if (withZ) new CoordinateXYZM(c.x, c.y, c.getZ, mv)
      else new CoordinateXYM(c.x, c.y, mv)
    }
    def rebuild(g: Geometry): Geometry = g match {
      case p: Point =>
        if (p.isEmpty) p else GeomIO.factory.createPoint(conv(p.getCoordinate))
      case l: LinearRing => GeomIO.factory.createLinearRing(l.getCoordinates.map(conv))
      case l: LineString => GeomIO.factory.createLineString(l.getCoordinates.map(conv))
      case p: Polygon =>
        GeomIO.factory.createPolygon(
          GeomIO.factory.createLinearRing(p.getExteriorRing.getCoordinates.map(conv)),
          Array.tabulate(p.getNumInteriorRing)(i =>
            GeomIO.factory.createLinearRing(p.getInteriorRingN(i).getCoordinates.map(conv))))
      case m: MultiPoint =>
        GeomIO.factory.createMultiPoint(
          Array.tabulate(m.getNumGeometries)(i => rebuild(m.getGeometryN(i)).asInstanceOf[Point]))
      case m: MultiLineString =>
        GeomIO.factory.createMultiLineString(Array.tabulate(m.getNumGeometries)(i =>
          rebuild(m.getGeometryN(i)).asInstanceOf[LineString]))
      case m: MultiPolygon =>
        GeomIO.factory.createMultiPolygon(Array.tabulate(m.getNumGeometries)(i =>
          rebuild(m.getGeometryN(i)).asInstanceOf[Polygon]))
      case c: GeometryCollection =>
        GeomIO.factory.createGeometryCollection(
          Array.tabulate(c.getNumGeometries)(i => rebuild(c.getGeometryN(i))))
      case other => other
    }
    rebuild(out)
  }

  /** Substring of a line between two length fractions, computed in
    * fraction space (see st_linesubstring registration note). */
  private def lineSubstringFrac(l: LineString, s: Double, e: Double): Geometry = {
    val coords = l.getCoordinates
    val n = coords.length
    val segLen = Array.tabulate(n - 1)(i => coords(i).distance(coords(i + 1)))
    val total = segLen.sum
    if (total == 0) return GeomIO.factory.createPoint(coords(0).copy())
    val cum = new Array[Double](n)
    var i = 1
    while (i < n) { cum(i) = cum(i - 1) + segLen(i - 1); i += 1 }
    @inline def frac(i: Int): Double = cum(i) / total
    def lerp(a: Coordinate, b: Coordinate, t: Double): Coordinate = {
      if (t <= 0) return a.copy()
      if (t >= 1) return b.copy()
      val c = a.copy()
      c.setX(a.x + t * (b.x - a.x))
      c.setY(a.y + t * (b.y - a.y))
      if (!a.getZ.isNaN && !b.getZ.isNaN) c.setZ(a.getZ + t * (b.getZ - a.getZ))
      c match {
        case m: CoordinateXYZM => m.setM(a.getM + t * (b.getM - a.getM))
        case m: CoordinateXYM => m.setM(a.getM + t * (b.getM - a.getM))
        case _ =>
      }
      c
    }
    def pointAt(fr: Double): Coordinate = {
      if (fr <= 0) return coords(0).copy()
      if (fr >= 1) return coords(n - 1).copy()
      var j = 0
      while (j < n - 2 && frac(j + 1) <= fr) j += 1
      // vertex hits come from fraction equality (cum/total == fr), the
      // in-segment offset from length space (fr*total - cum is exact for
      // round products like 0.4*30); lerp clamps the residue at 0/1
      lerp(coords(j), coords(j + 1),
        if (segLen(j) > 0) (fr * total - cum(j)) / segLen(j) else 0.0)
    }
    val buf = scala.collection.mutable.ArrayBuffer[Coordinate](pointAt(s))
    i = 0
    while (i < n) {
      if (frac(i) > s && frac(i) < e) buf += coords(i).copy()
      i += 1
    }
    buf += pointAt(e)
    // drop repeated vertices (degenerate edges)
    val out = scala.collection.mutable.ArrayBuffer[Coordinate](buf.head)
    buf.tail.foreach(c => if (c.x != out.last.x || c.y != out.last.y) out += c)
    if (out.length == 1) GeomIO.factory.createPoint(out.head)
    else GeomIO.factory.createLineString(out.toArray)
  }

  private def parseEwkt(text: String): Geometry = {
    // "SRID=4326;POINT (1 2)" (reference: st_geomfromewkt.rs)
    if (text.regionMatches(true, 0, "SRID=", 0, 5)) {
      val semi = text.indexOf(';')
      val srid = text.substring(5, semi).trim.toInt
      val g = GeomIO.readWkt(text.substring(semi + 1))
      g.setSRID(srid); g
    } else GeomIO.readWkt(text)
  }

  private def typedFromText(text: String, expected: String): Geometry = {
    val g = GeomIO.readWkt(text)
    require(g.getGeometryType.equalsIgnoreCase(expected),
      s"expected $expected, got ${g.getGeometryType}")
    g
  }

  /** Typed WKT constructor with an optional SRID second arg (int or a
    * digit/authority string — test_functions.py
    * test_typed_geom_constructors_accept_srid). Wrong geometry type,
    * including wrong-type EMPTY, is an error. */
  private def typedParser(name: String, expected: String): B =
    (children: Seq[Expression]) => GeomScalar(name, children, BinaryType,
      Seq(ArgKind.Str) ++ Seq(ArgKind.Raw).take(children.length - 1),
      a => {
        val g = typedFromText(a(0).asInstanceOf[String], expected)
        if (a.length >= 2) {
          val srid = a(1) match {
            case n: java.lang.Number => n.intValue()
            case s: UTF8String => parseCrsSrid(s.toString)
            case d: Decimal => d.toInt
          }
          g.setSRID(srid)
        }
        g
      })

  val dumpType: DataType = ArrayType(StructType(Seq(
    StructField("path", ArrayType(IntegerType, containsNull = false)),
    StructField("geom", BinaryType))), containsNull = false)

  private def dump(g: Geometry): ArrayData = {
    val out = Seq.newBuilder[InternalRow]
    def rec(geom: Geometry, path: List[Int]): Unit = geom match {
      case gc: GeometryCollection =>
        var i = 0
        while (i < gc.getNumGeometries) { rec(gc.getGeometryN(i), i + 1 :: path); i += 1 }
      case simple =>
        out += new GenericInternalRow(Array[Any](
          new GenericArrayData(path.reverse.toArray),
          GeomIO.write(simple)))
    }
    rec(g, Nil)
    new GenericArrayData(out.result().toArray[Any])
  }

  private def points(g: Geometry): Geometry =
    GeomIO.factory.createMultiPointFromCoords(g.getCoordinates)

  private def collectionExtract(g: Geometry, dim: Int): Geometry = {
    val parts = Seq.newBuilder[Geometry]
    def rec(x: Geometry): Unit = x match {
      case gc: GeometryCollection =>
        (0 until gc.getNumGeometries).foreach(i => rec(gc.getGeometryN(i)))
      case simple => if (simple.getDimension == dim) parts += simple
    }
    rec(g)
    val ps = parts.result()
    dim match {
      case 0 => GeomIO.factory.createMultiPoint(ps.flatMap {
        case p: Point => Seq(p); case _ => Seq.empty }.toArray)
      case 1 => GeomIO.factory.createMultiLineString(ps.collect {
        case l: LineString => l }.toArray)
      case _ => GeomIO.factory.createMultiPolygon(ps.collect {
        case p: Polygon => p }.toArray)
    }
  }

  private val core: Map[String, B] = Map(
    // ---- constructors / parsers (st_geomfromwkt.rs, st_geomfromwkb.rs) ----
    // optional second arg: a CRS string -> item-CRS struct output with
    // the string carried verbatim (reference ST_GeomFromText(wkt, crs))
    "st_geomfromwkt" -> wktParserWithCrs("st_geomfromwkt"),
    "st_geomfromtext" -> wktParserWithCrs("st_geomfromtext"),
    fn("st_geogfromwkt", BinaryType, Seq(Str))(a => GeomIO.readWkt(s(a, 0))),
    fn("st_geomfromewkt", BinaryType, Seq(Str))(a => parseEwkt(s(a, 0))),
    "st_pointfromtext" -> typedParser("st_pointfromtext", "Point"),
    "st_linefromtext" -> typedParser("st_linefromtext", "LineString"),
    "st_polygonfromtext" -> typedParser("st_polygonfromtext", "Polygon"),
    "st_mpointfromtext" -> typedParser("st_mpointfromtext", "MultiPoint"),
    "st_mlinefromtext" -> typedParser("st_mlinefromtext", "MultiLineString"),
    "st_mpolyfromtext" -> typedParser("st_mpolyfromtext", "MultiPolygon"),
    "st_geomcollfromtext" -> typedParser("st_geomcollfromtext", "GeometryCollection"),
    fn("st_geomfromgeojson", BinaryType, Seq(Str))(a => GeomIO.fromGeoJson(s(a, 0))),
    fn("st_geomfromwkb", BinaryType, Seq(Bin))(a => GeomIO.read(a(0).asInstanceOf[Array[Byte]])),
    fn("st_geomfromewkb", BinaryType, Seq(Bin))(a => GeomIO.read(a(0).asInstanceOf[Array[Byte]])),
    // structural WKB check that passes the ORIGINAL bytes through
    // unchanged — backs the reader's validate option (reference
    // read_parquet(..., validate=True), io/test_parquet.py
    // test_read_parquet_validate_wkb_*: error message "WKB validation
    // failed"; validate=False admits malformed bytes untouched)
    fn("sd_validatewkb", BinaryType, Seq(Raw))(a => {
      val b = a(0) match {
        case bytes: Array[Byte] => bytes
        case other => throw new IllegalArgumentException(
          s"WKB validation failed: not a binary column (${other.getClass.getSimpleName})")
      }
      try GeomIO.read(b)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"WKB validation failed: ${e.getMessage}") }
      b
    }),
    // 2-arg plain point, the reference's 3-arg (x, y, srid) form, or the
    // 3-arg (x, y, crs-string) form — the latter returns an item-CRS
    // struct carrying the CRS string verbatim (the reference's
    // ST_Point(x, y, crs) output type, st_point.rs item-crs tests)
    "st_point" -> ((children: Seq[Expression]) => {
      val strCrs = children.length >= 3 && children(2).dataType == StringType
      GeomScalar("st_point", children,
        if (strCrs) ItemCrs.dataType else BinaryType,
        if (children.length >= 3) Seq(Dbl, Dbl, Raw) else Seq(Dbl, Dbl),
        a => if (a.length < 3) GeomIO.pointBytes(d(a, 0), d(a, 1)) else {
          val p = GeomIO.point(d(a, 0), d(a, 1))
          a(2) match {
            case s: UTF8String =>
              val srid = try parseCrsSrid(s.toString) catch { case _: Exception => 0 }
              if (srid != 0) p.setSRID(srid)
              ItemCrs.row(GeomIO.write(p), UTF8String.fromString(s.toString))
            case n: java.lang.Number => p.setSRID(n.intValue()); p
            case dec: Decimal => p.setSRID(dec.toInt); p
          }
        })
    }),
    fn("st_makepoint", BinaryType, Seq(Dbl, Dbl))(a => GeomIO.pointBytes(d(a, 0), d(a, 1))),
    fn("st_geogpoint", BinaryType, Seq(Dbl, Dbl))(a => GeomIO.point(d(a, 0), d(a, 1))),
    fn("st_pointz", BinaryType, Seq(Dbl, Dbl, Dbl))(a => GeomIO.pointZ(d(a, 0), d(a, 1), d(a, 2))),
    fn("st_makeenvelope", BinaryType, Seq(Dbl, Dbl, Dbl, Dbl))(a =>
      GeomIO.envelopeBytes(d(a, 0), d(a, 1), d(a, 2), d(a, 3))),
    fn("st_makeline", BinaryType, Seq(Geom, Geom))(a =>
      GeomIO.factory.createLineString(g0(a).getCoordinates ++ g1(a).getCoordinates)),
    fn("st_makepolygon", BinaryType, Seq(Geom))(a => g0(a) match {
      case l: LineString => GeomIO.factory.createPolygon(l.getCoordinates)
      case _ => null
    }),

    // ---- formatters (st_astext.rs, st_asbinary.rs, st_asewkb.rs) ----
    fn("st_astext", StringType, Seq(Geom))(a => GeomIO.writeWkt(g0(a))),
    fn("st_asewkt", StringType, Seq(Geom))(a => {
      val g = g0(a)
      if (g.getSRID != 0) s"SRID=${g.getSRID};${GeomIO.writeWkt(g)}" else GeomIO.writeWkt(g)
    }),
    fn("st_asbinary", BinaryType, Seq(Geom))(a => GeomIO.writeIso(g0(a))),
    fn("st_asewkb", BinaryType, Seq(Geom))(a => GeomIO.write(g0(a))),
    fn("st_asgeojson", StringType, Seq(Geom))(a => GeomIO.toGeoJson(g0(a))),

    // ---- coordinate accessors (st_xyzm.rs, st_xyzm_minmax.rs) ----
    fn("st_x", DoubleType, Seq(Geom))(a => g0(a) match {
      case p: Point if !p.isEmpty => p.getX; case _ => null }),
    fn("st_y", DoubleType, Seq(Geom))(a => g0(a) match {
      case p: Point if !p.isEmpty => p.getY; case _ => null }),
    fn("st_z", DoubleType, Seq(Geom))(a => g0(a) match {
      case p: Point if !p.isEmpty && !java.lang.Double.isNaN(p.getCoordinate.getZ) =>
        p.getCoordinate.getZ
      case _ => null }),
    fn("st_m", DoubleType, Seq(Geom))(a => g0(a) match {
      case p: Point if !p.isEmpty && !java.lang.Double.isNaN(p.getCoordinate.getM) =>
        p.getCoordinate.getM
      case _ => null }),
    fn("st_xmin", DoubleType, Seq(Geom))(a =>
      if (g0(a).isEmpty) null else g0(a).getEnvelopeInternal.getMinX),
    fn("st_xmax", DoubleType, Seq(Geom))(a =>
      if (g0(a).isEmpty) null else g0(a).getEnvelopeInternal.getMaxX),
    fn("st_ymin", DoubleType, Seq(Geom))(a =>
      if (g0(a).isEmpty) null else g0(a).getEnvelopeInternal.getMinY),
    fn("st_ymax", DoubleType, Seq(Geom))(a =>
      if (g0(a).isEmpty) null else g0(a).getEnvelopeInternal.getMaxY),
    fn("st_zmin", DoubleType, Seq(Geom))(a => {
      val zs = zVals(g0(a)); if (zs.isEmpty) null else zs.min }),
    fn("st_zmax", DoubleType, Seq(Geom))(a => {
      val zs = zVals(g0(a)); if (zs.isEmpty) null else zs.max }),
    fn("st_mmin", DoubleType, Seq(Geom))(a => {
      val ms = mVals(g0(a)); if (ms.isEmpty) null else ms.min }),
    fn("st_mmax", DoubleType, Seq(Geom))(a => {
      val ms = mVals(g0(a)); if (ms.isEmpty) null else ms.max }),

    // ---- metadata accessors (st_dimension.rs family) ----
    fn("st_envelope", BinaryType, Seq(Geom))(a => g0(a).getEnvelope),
    fn("st_expandenvelope", BinaryType, Seq(Geom, Dbl))(a => {
      val e = new Envelope(g0(a).getEnvelopeInternal); e.expandBy(d(a, 1))
      GeomIO.factory.toGeometry(e)
    }),
    // JTS reports Dimension.FALSE (-1) for an empty collection; the
    // reference pins 0 there (test_st_dimension_empty)
    fn("st_dimension", IntegerType, Seq(Geom))(a =>
      math.max(0, g0(a).getDimension)),
    fn("st_geometrytype", StringType, Seq(Geom))(a => "ST_" + g0(a).getGeometryType),
    fn("st_hasz", BooleanType, Seq(Geom))(a => GeomIO.hasZ(g0(a))),
    fn("st_hasm", BooleanType, Seq(Geom))(a => GeomIO.hasM(g0(a))),
    fn("st_isempty", BooleanType, Seq(Geom))(a => g0(a).isEmpty),
    fn("st_iscollection", BooleanType, Seq(Geom))(a =>
      g0(a).isInstanceOf[GeometryCollection]),
    // points and polygons are closed (PostGIS geometry semantics the
    // reference matches), empties are not; collections require every
    // member closed (test_st_isclosed / test_st_isclosed_polygon)
    fn("st_isclosed", BooleanType, Seq(Geom))(a => {
      def closed(g: Geometry): Boolean = g match {
        case g0 if g0.isEmpty => false
        case l: LineString => l.isClosed
        case _: Point => true
        case _: Polygon => true
        case gc: GeometryCollection =>
          (0 until gc.getNumGeometries).forall(i => closed(gc.getGeometryN(i)))
        case _ => false
      }
      closed(g0(a))
    }),
    // non-LineString input is a hard error (PostGIS compatibility,
    // test_functions.py test_st_isring_non_linestring_error)
    fn("st_isring", BooleanType, Seq(Geom))(a => g0(a) match {
      case l: LineString => l.isRing
      case g => throw new IllegalArgumentException(
        s"st_isring: input must be a linestring, got ${g.getGeometryType}") }),
    fn("st_issimple", BooleanType, Seq(Geom))(a => g0(a).isSimple),
    fn("st_isvalid", BooleanType, Seq(Geom))(a => g0(a).isValid),
    fn("st_isvalidreason", StringType, Seq(Geom))(a => {
      val op = new org.locationtech.jts.operation.valid.IsValidOp(g0(a))
      val err = op.getValidationError
      if (err == null) "Valid Geometry" else err.toString
    }),
    fn("st_srid", IntegerType, Seq(Geom))(a => g0(a).getSRID),
    fn("st_setsrid", BinaryType, Seq(Geom, Int_))(a => GeomIO.setSrid(g0(a), i(a, 1))),
    // CRS as an authority string (reference st_srid.rs/st_setsrid.rs pair
    // ST_CRS/ST_SetCRS; we carry SRID-backed EPSG codes only)
    // Raw so an item-CRS struct answers with its VERBATIM crs string;
    // plain geometries reconstruct from the SRID, with 4326 printed as
    // the reference prints it (OGC:CRS84 — test_transforms.py::
    // test_item_crs_sedonadb lnglat convention)
    fn("st_crs", StringType, Seq(Raw))(a => a(0) match {
      case row: org.apache.spark.sql.catalyst.InternalRow =>
        if (row.isNullAt(0) || row.isNullAt(1)) null
        else row.getUTF8String(1).toString
      case bytes: Array[Byte] =>
        val srid = GeomIO.read(bytes).getSRID
        if (srid == 0) null
        else if (srid == 4326) "OGC:CRS84"
        else s"EPSG:$srid"
      case _ => null
    }),
    fn("st_setcrs", BinaryType, Seq(Geom, Str))(a =>
      GeomIO.setSrid(g0(a), parseCrsSrid(s(a, 1)))),
    // explicit item-CRS constructor: struct(item, crs) with the crs
    // string carried verbatim per row (datatypes.rs:126-151); every
    // geometry kernel unwraps it and propagates the crs to geometry
    // outputs (item_crs.rs contract)
    fn("st_itemcrs", ItemCrs.dataType, Seq(Geom, Str))(a =>
      ItemCrs.row(GeomIO.write(g0(a)), UTF8String.fromString(s(a, 1)))),

    // ---- element accessors (st_geometryn.rs family) ----
    fn("st_numgeometries", IntegerType, Seq(Geom))(a => g0(a).getNumGeometries),
    fn("st_geometryn", BinaryType, Seq(Geom, Int_))(a => {
      val g = g0(a); val n = idx1(i(a, 1), g.getNumGeometries)
      if (n < 0 || n >= g.getNumGeometries) null else g.getGeometryN(n)
    }),
    fn("st_npoints", IntegerType, Seq(Geom))(a => g0(a).getNumPoints),
    fn("st_numpoints", IntegerType, Seq(Geom))(a => g0(a) match {
      case l: LineString => l.getNumPoints; case _ => null }),
    fn("st_pointn", BinaryType, Seq(Geom, Int_))(a => g0(a) match {
      case l: LineString =>
        val n = idx1(i(a, 1), l.getNumPoints)
        if (n < 0 || n >= l.getNumPoints) null else l.getPointN(n)
      case _ => null
    }),
    // ST_StartPoint works on EVERY geometry (PostGIS 3.2 semantics the
    // reference matches — test_functions.py test_st_start_point): first
    // vertex of the first non-empty leaf, Z/M preserved via the leaf's
    // own coordinate sequence. ST_EndPoint stays linestring-only.
    fn("st_startpoint", BinaryType, Seq(Geom))(a => {
      def first(g: Geometry): Point = g match {
        case _ if g.isEmpty => null
        case p: Point => p
        case l: LineString => l.getPointN(0)
        case p: Polygon => p.getExteriorRing.getPointN(0)
        case c: GeometryCollection =>
          (0 until c.getNumGeometries).iterator
            .map(i => first(c.getGeometryN(i))).collectFirst {
              case p if p != null => p }.orNull
      }
      first(g0(a))
    }),
    fn("st_endpoint", BinaryType, Seq(Geom))(a => g0(a) match {
      case l: LineString if !l.isEmpty => l.getEndPoint; case _ => null }),
    fn("st_exteriorring", BinaryType, Seq(Geom))(a => g0(a) match {
      case p: Polygon => p.getExteriorRing; case _ => null }),
    // strictly 1-based, NO negative from-end indexing (PostGIS:
    // ST_InteriorRingN(-1) is null — test_functions.py
    // test_st_interiorringn)
    fn("st_interiorringn", BinaryType, Seq(Geom, Int_))(a => g0(a) match {
      case p: Polygon =>
        val n = i(a, 1)
        if (n < 1 || n > p.getNumInteriorRing) null else p.getInteriorRingN(n - 1)
      case _ => null
    }),
    fn("st_numinteriorrings", IntegerType, Seq(Geom))(a => g0(a) match {
      case p: Polygon => p.getNumInteriorRing; case _ => null }),
    fn("st_numinteriorring", IntegerType, Seq(Geom))(a => g0(a) match {
      case p: Polygon => p.getNumInteriorRing; case _ => null }),
    // ring count sums polygons through collections; non-polygonal and
    // empty inputs count 0 (reference test_st_nrings)
    fn("st_nrings", IntegerType, Seq(Geom))(a => {
      def rings(g: Geometry): Int = g match {
        case p: Polygon => if (p.isEmpty) 0 else 1 + p.getNumInteriorRing
        case gc: org.locationtech.jts.geom.GeometryCollection =>
          (0 until gc.getNumGeometries).map(i => rings(gc.getGeometryN(i))).sum
        case _ => 0
      }
      rings(g0(a))
    }),
    fn("st_points", BinaryType, Seq(Geom))(a => points(g0(a))),
    fn("st_boundary", BinaryType, Seq(Geom))(a => boundaryOf(g0(a))),
    "st_dump" -> ((children: Seq[Expression]) =>
      GeomScalar("st_dump", children, dumpType, Seq(Geom), a => dump(g0(a)))),
    fn("st_collectionextract", BinaryType, Seq(Geom, Int_))(a =>
      collectionExtract(g0(a), i(a, 1) - 1)),

    // ---- predicates (c/sedona-geos/src/binary_predicates.rs) ----
    fn("st_intersects", BooleanType, Seq(Geom, Geom))(a => g0(a).intersects(g1(a))),
    fn("st_disjoint", BooleanType, Seq(Geom, Geom))(a => g0(a).disjoint(g1(a))),
    fn("st_contains", BooleanType, Seq(Geom, Geom))(a => g0(a).contains(g1(a))),
    fn("st_within", BooleanType, Seq(Geom, Geom))(a => g0(a).within(g1(a))),
    fn("st_covers", BooleanType, Seq(Geom, Geom))(a => g0(a).covers(g1(a))),
    fn("st_coveredby", BooleanType, Seq(Geom, Geom))(a => g0(a).coveredBy(g1(a))),
    // snake alias the reference planner accepts (spatial_filter.rs:290)
    fn("st_covered_by", BooleanType, Seq(Geom, Geom))(a => g0(a).coveredBy(g1(a))),
    fn("st_crosses", BooleanType, Seq(Geom, Geom))(a => g0(a).crosses(g1(a))),
    fn("st_overlaps", BooleanType, Seq(Geom, Geom))(a => g0(a).overlaps(g1(a))),
    fn("st_touches", BooleanType, Seq(Geom, Geom))(a => g0(a).touches(g1(a))),
    fn("st_equals", BooleanType, Seq(Geom, Geom))(a => g0(a).equalsTopo(g1(a))),
    fn("st_orderingequals", BooleanType, Seq(Geom, Geom))(a => g0(a).equalsExact(g1(a))),
    fn("st_dwithin", BooleanType, Seq(Geom, Geom, Dbl))(a =>
      g0(a).isWithinDistance(g1(a), d(a, 2))),
    fn("st_relate", StringType, Seq(Geom, Geom))(a => g0(a).relate(g1(a)).toString),
    fn("st_relatematch", BooleanType, Seq(Geom, Geom, Str))(a =>
      g0(a).relate(g1(a), s(a, 2))),

    // ---- measures ----
    fn("st_area", DoubleType, Seq(Geom))(a => g0(a).getArea),
    fn("st_length", DoubleType, Seq(Geom))(a => g0(a) match {
      case _: LineString | _: MultiLineString => a(0).asInstanceOf[Geometry].getLength
      case _ => 0.0
    }),
    fn("st_perimeter", DoubleType, Seq(Geom))(a => g0(a) match {
      case _: Polygon | _: MultiPolygon => a(0).asInstanceOf[Geometry].getLength
      case _ => 0.0
    }),
    fn("st_distance", DoubleType, Seq(Geom, Geom))(a => g0(a).distance(g1(a))),
    fn("st_maxdistance", DoubleType, Seq(Geom, Geom))(a => maxDistance(g0(a), g1(a))),
    // optional 3rd arg densify fraction; EMPTY inputs -> null
    // (test_distance.py test_st_hausdorffdistance_densify)
    "st_hausdorffdistance" -> ((children: Seq[Expression]) =>
      GeomScalar("st_hausdorffdistance", children, DoubleType,
        Seq(Geom, Geom) ++ Seq(Dbl).take(children.length - 2),
        a => {
          if (g0(a).isEmpty || g1(a).isEmpty) null
          else if (a.length >= 3)
            DiscreteHausdorffDistance.distance(g0(a), g1(a), d(a, 2))
          else DiscreteHausdorffDistance.distance(g0(a), g1(a))
        })),
    fn("st_azimuth", DoubleType, Seq(Geom, Geom))(a => azimuth(g0(a), g1(a))),
    // empty inputs -> null; non-linestring -> error naming the type
    // (test_functions.py test_st_linelocatepoint_*)
    fn("st_linelocatepoint", DoubleType, Seq(Geom, Geom))(a => (g0(a), g1(a)) match {
      case (l: LineString, p: Point) =>
        if (l.isEmpty || p.isEmpty) null
        else {
          val lil = new LengthIndexedLine(l)
          lil.indexOf(p.getCoordinate) / l.getLength
        }
      case (l: LineString, p) => throw new IllegalArgumentException(
        s"st_linelocatepoint: second argument must be a Point, " +
          s"got ${p.getGeometryType}")
      case (g, _) => throw new IllegalArgumentException(
        s"st_linelocatepoint: first argument must be a LineString, " +
          s"got ${g.getGeometryType}")
    }),

    // ---- overlay / processing (c/sedona-geos overlay.rs + misc) ----
    fn("st_intersection", BinaryType, Seq(Geom, Geom))(a => g0(a).intersection(g1(a))),
    fn("st_union", BinaryType, Seq(Geom, Geom))(a => g0(a).union(g1(a))),
    fn("st_difference", BinaryType, Seq(Geom, Geom))(a => g0(a).difference(g1(a))),
    fn("st_symdifference", BinaryType, Seq(Geom, Geom))(a => g0(a).symDifference(g1(a))),
    fn("st_unaryunion", BinaryType, Seq(Geom))(a => {
      val src = g0(a)
      val u = UnaryUnionOp.union(src)
      // JTS overlay keeps Z but its plain Coordinates have no M slot —
      // reattach measures at exact source vertices (GEOS now preserves
      // M through union; reference test_st_unaryunion_zm)
      if (GeomIO.hasM(src)) reattachM(src, u) else u
    }),
    // 2-arg plain buffer, or 3-arg with a PostGIS-style style string
    // "endcap=.. join=.. mitre_limit=.. quad_segs=.. side=.." (reference
    // c/sedona-geos/src/st_buffer.rs:40-288, semantics matched including
    // the token-order endcap/side interaction and the distance sign flip
    // for single-sided buffers)
    "st_buffer" -> ((children: Seq[Expression]) => GeomScalar("st_buffer", children,
      BinaryType, if (children.length >= 3) Seq(Geom, Dbl, Str) else Seq(Geom, Dbl),
      a => {
        if (a.length < 3) g0(a).buffer(d(a, 1))
        else {
          var dist = d(a, 1)
          val (bp, left, right) = parseBufferStyle(s(a, 2))
          if ((left && dist < 0.0) || (right && dist > 0.0)) dist = -dist
          org.locationtech.jts.operation.buffer.BufferOp.bufferOp(g0(a), dist, bp)
        }
      })),
    fn("st_bufferquad", BinaryType, Seq(Geom, Dbl, Int_))(a =>
      g0(a).buffer(d(a, 1), i(a, 2))),
    fn("st_centroid", BinaryType, Seq(Geom))(a => g0(a).getCentroid),
    fn("st_pointonsurface", BinaryType, Seq(Geom))(a => g0(a).getInteriorPoint),
    fn("st_convexhull", BinaryType, Seq(Geom))(a => g0(a).convexHull()),
    // optional 3rd arg allow_holes (test_functions.py
    // test_st_concavehull_allow_holes)
    "st_concavehull" -> ((children: Seq[Expression]) =>
      GeomScalar("st_concavehull", children, BinaryType,
        Seq(Geom, Dbl) ++ Seq(Bool).take(children.length - 2),
        a => ConcaveHull.concaveHullByLengthRatio(g0(a), d(a, 1),
          a.length >= 3 && a(2).asInstanceOf[Boolean]))),
    // optional tolerance (snapping sites) and flags: 0 = triangles
    // collection, 1 = edge MULTILINESTRING (PostGIS flag contract,
    // test_st_delaunaytriangles_tolerance/_flags)
    "st_delaunaytriangles" -> ((children: Seq[Expression]) =>
      GeomScalar("st_delaunaytriangles", children, BinaryType,
        Seq(Geom) ++ Seq(Dbl, Int_).take(children.length - 1),
        a => {
          val b = new DelaunayTriangulationBuilder()
          b.setSites(g0(a))
          if (a.length >= 2) b.setTolerance(d(a, 1))
          if (a.length >= 3 && i(a, 2) == 1) b.getEdges(GeomIO.factory)
          else b.getTriangles(GeomIO.factory)
        })),
    fn("st_simplify", BinaryType, Seq(Geom, Dbl))(a =>
      DouglasPeuckerSimplifier.simplify(g0(a), d(a, 1))),
    fn("st_simplifypreservetopology", BinaryType, Seq(Geom, Dbl))(a =>
      TopologyPreservingSimplifier.simplify(g0(a), d(a, 1))),
    fn("st_makevalid", BinaryType, Seq(Geom))(a => GeometryFixer.fix(g0(a))),
    fn("st_normalize", BinaryType, Seq(Geom))(a => { val c = g0(a).copy(); c.normalize(); c }),
    fn("st_reverse", BinaryType, Seq(Geom))(a => g0(a).reverse()),
    // 1-arg JTS merge, or the reference's directed 2-arg form: lines are
    // never reversed, chains only join where one line ENDS exactly where
    // the next STARTS with no branching (test_geog_mechanical_transforms
    // test_st_linemerge_directed)
    "st_linemerge" -> ((children: Seq[Expression]) => GeomScalar("st_linemerge", children,
      BinaryType, if (children.length >= 2) Seq(Geom, Bool) else Seq(Geom),
      a => {
        if (a.length >= 2 && a(1).asInstanceOf[Boolean]) directedLineMerge(g0(a))
        else {
          val m = new LineMerger(); m.add(g0(a))
          GeomIO.factory.buildGeometry(m.getMergedLineStrings)
        }
      })),
    fn("st_polygonize", BinaryType, Seq(Geom))(a => {
      val p = new Polygonizer(); p.add(g0(a))
      GeomIO.factory.buildGeometry(p.getPolygons)
    }),
    fn("st_reduceprecision", BinaryType, Seq(Geom, Dbl))(a =>
      GeometryPrecisionReducer.reduce(g0(a), new PrecisionModel(d(a, 1)))),
    fn("st_snap", BinaryType, Seq(Geom, Geom, Dbl))(a =>
      snapGeometry(g0(a), g1(a), d(a, 2))),
    // equal-part subdivision per segment with Z AND M linearly
    // interpolated (JTS Densifier drops M — reference
    // test_st_segmentize_interpolate_zm pins all four ordinates)
    fn("st_segmentize", BinaryType, Seq(Geom, Dbl))(a => {
      val tol = d(a, 1)
      require(java.lang.Double.isFinite(tol) && tol > 0,
        "st_segmentize: max_distance must be finite and greater than 0")
      new org.locationtech.jts.geom.util.GeometryEditor(GeomIO.factory).edit(g0(a),
        new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
          override def edit(cs: Array[Coordinate], geom: Geometry): Array[Coordinate] =
            geom match {
              case _: LineString => segmentizeCoords(cs, tol)
              case _ => cs
            }
        })
    }),
    // JTS signals "no clearance" (single point, empty) with
    // Double.MAX_VALUE; the SQL contract is +Infinity
    // (test_functions.py test_st_minimum_clearance)
    fn("st_minimumclearance", DoubleType, Seq(Geom))(a => {
      val c = MinimumClearance.getDistance(g0(a))
      if (c == Double.MaxValue) Double.PositiveInfinity else c
    }),
    fn("st_minimumclearanceline", BinaryType, Seq(Geom))(a =>
      MinimumClearance.getLine(g0(a))),
    // Fraction-space walk (PostGIS / reference st_linesubstring.rs
    // semantics, test_linesubstring.py): vertex fractions are cumlen /
    // total, so an input fraction equal to a vertex's fraction hits the
    // vertex bit-exactly (length-space `frac * len` does not); repeated
    // vertices drop out; a zero-length result collapses to a point.
    fn("st_linesubstring", BinaryType, Seq(Geom, Dbl, Dbl))(a => g0(a) match {
      case l: LineString if !l.isEmpty =>
        val s = math.max(0.0, math.min(1.0, d(a, 1)))
        val e = math.max(0.0, math.min(1.0, d(a, 2)))
        if (s > e) null else lineSubstringFrac(l, s, e)
      case _ => null
    }),
    fn("st_lineinterpolatepoint", BinaryType, Seq(Geom, Dbl))(a => g0(a) match {
      case l: LineString =>
        val lil = new LengthIndexedLine(l)
        GeomIO.factory.createPoint(lil.extractPoint(d(a, 1) * l.getLength))
      case _ => null
    }),

    // ---- affine transforms (st_affine.rs family) ----
    // 2-arg planar translate, or 3-offset form where dz applies only to
    // geometries that carry Z (2D/M stay unchanged — reference
    // test_transforms.py::test_st_translate_3d)
    "st_translate" -> ((children: Seq[Expression]) => GeomScalar("st_translate", children,
      BinaryType, if (children.length >= 4) Seq(Geom, Dbl, Dbl, Dbl) else Seq(Geom, Dbl, Dbl),
      a => {
        if (a.length < 4)
          AffineTransformation.translationInstance(d(a, 1), d(a, 2)).transform(g0(a))
        else {
          val dx = d(a, 1); val dy = d(a, 2); val dz = d(a, 3)
          val out = g0(a).copy()
          out.apply(new org.locationtech.jts.geom.CoordinateSequenceFilter {
            override def filter(seq: org.locationtech.jts.geom.CoordinateSequence,
                i: Int): Unit = {
              seq.setOrdinate(i, 0, seq.getOrdinate(i, 0) + dx)
              seq.setOrdinate(i, 1, seq.getOrdinate(i, 1) + dy)
              if (seq.hasZ) seq.setOrdinate(i, 2, seq.getOrdinate(i, 2) + dz)
            }
            override def isDone: Boolean = false
            override def isGeometryChanged: Boolean = true
          })
          out.geometryChanged()
          out
        }
      })),
    fn("st_scale", BinaryType, Seq(Geom, Dbl, Dbl))(a =>
      AffineTransformation.scaleInstance(d(a, 1), d(a, 2)).transform(g0(a))),
    fn("st_rotate", BinaryType, Seq(Geom, Dbl))(a =>
      AffineTransformation.rotationInstance(d(a, 1)).transform(g0(a))),
    fn("st_affine", BinaryType, Seq(Geom, Dbl, Dbl, Dbl, Dbl, Dbl, Dbl))(a =>
      new AffineTransformation(d(a, 1), d(a, 2), d(a, 3), d(a, 4), d(a, 5), d(a, 6))
        .transform(g0(a))),
    // 3D axis rotations (st_rotate.rs RotateX/RotateY): missing z treated
    // as 0, result carries z; coordinates rebuilt 3D (2D inputs may use
    // immutable CoordinateXY sequences)
    fn("st_rotatex", BinaryType, Seq(Geom, Dbl))(a => {
      val theta = d(a, 1); val c = math.cos(theta); val s = math.sin(theta)
      GeomScalars.mapCoords3D(g0(a), co => {
        val z = if (java.lang.Double.isNaN(co.getZ)) 0.0 else co.getZ
        new Coordinate(co.x, co.y * c - z * s, co.y * s + z * c)
      })
    }),
    fn("st_rotatey", BinaryType, Seq(Geom, Dbl))(a => {
      val theta = d(a, 1); val c = math.cos(theta); val s = math.sin(theta)
      GeomScalars.mapCoords3D(g0(a), co => {
        val z = if (java.lang.Double.isNaN(co.getZ)) 0.0 else co.getZ
        new Coordinate(co.x * c + z * s, co.y, -co.x * s + z * c)
      })
    }),
    // storage-oriented simplification (sd_simplifystorage.rs): topology-
    // preserving, tolerance in coordinate units
    fn("sd_simplifystorage", BinaryType, Seq(Geom, Dbl))(a =>
      org.locationtech.jts.simplify.TopologyPreservingSimplifier
        .simplify(g0(a), d(a, 1))),
    fn("st_flipcoordinates", BinaryType, Seq(Geom))(a => flip(g0(a))),
    fn("st_force2d", BinaryType, Seq(Geom))(a => forceDim2(g0(a))),

    // ---- structural editors / casts ----
    fn("st_multi", BinaryType, Seq(Geom))(a => g0(a) match {
      case p: Point => GeomIO.factory.createMultiPoint(Array(p))
      case l: LineString => GeomIO.factory.createMultiLineString(Array(l))
      case p: Polygon => GeomIO.factory.createMultiPolygon(Array(p))
      case other => other
    }),
    fn("st_forcecollection", BinaryType, Seq(Geom))(a => g0(a) match {
      case gc: GeometryCollection if gc.getGeometryType == "GeometryCollection" => gc
      case g => GeomIO.factory.createGeometryCollection(
        (0 until g.getNumGeometries).map(g.getGeometryN).toArray)
    }),
    fn("st_forcepolygonccw", BinaryType, Seq(Geom))(a =>
      orientPolygons(g0(a), ccwShell = true)),
    fn("st_forcepolygoncw", BinaryType, Seq(Geom))(a =>
      orientPolygons(g0(a), ccwShell = false)),
    fn("st_removerepeatedpoints", BinaryType, Seq(Geom))(a => {
      val g = g0(a)
      val ed = new org.locationtech.jts.geom.util.GeometryEditor(GeomIO.factory)
      ed.edit(g, new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
        override def edit(coords: Array[Coordinate], geom: Geometry): Array[Coordinate] =
          org.locationtech.jts.geom.CoordinateArrays.removeRepeatedPoints(coords)
      })
    }),
    fn("st_addpoint", BinaryType, Seq(Geom, Geom, Int_))(a => (g0(a), g1(a)) match {
      case (l: LineString, p: Point) =>
        val cs = l.getCoordinates
        val pos = { val n = i(a, 2); if (n < 0 || n > cs.length) cs.length else n }
        GeomIO.factory.createLineString(
          (cs.take(pos) :+ p.getCoordinate) ++ cs.drop(pos))
      case _ => null
    }),
    fn("st_removepoint", BinaryType, Seq(Geom, Int_))(a => g0(a) match {
      case l: LineString if l.getNumPoints > 2 =>
        val cs = l.getCoordinates
        val n = i(a, 1)
        if (n < 0 || n >= cs.length) null
        else GeomIO.factory.createLineString(cs.take(n) ++ cs.drop(n + 1))
      case _ => null
    }),
    fn("st_setpoint", BinaryType, Seq(Geom, Int_, Geom))(a => (g0(a), a(2)) match {
      case (l: LineString, p: Point) =>
        val cs = l.getCoordinates.clone()
        val n = { val x = i(a, 1); if (x < 0) cs.length + x else x }
        if (n < 0 || n >= cs.length) null
        else { cs(n) = p.getCoordinate; GeomIO.factory.createLineString(cs) }
      case _ => null
    }),
    fn("st_angle", DoubleType, Seq(Geom, Geom, Geom))(a =>
      (g0(a), g1(a), a(2)) match {
        case (p1: Point, p2: Point, p3: Point) =>
          org.locationtech.jts.algorithm.Angle.angleBetween(
            p1.getCoordinate, p2.getCoordinate, p3.getCoordinate)
        case _ => null
      }),
    fn("st_ndims", IntegerType, Seq(Geom))(a => if (GeomIO.hasZ(g0(a))) 3 else 2),
    fn("st_zmflag", IntegerType, Seq(Geom))(a => {
      val g = g0(a)
      (GeomIO.hasZ(g), GeomIO.hasM(g)) match {
        case (false, false) => 0; case (false, true) => 1
        case (true, false) => 2; case (true, true) => 3
      }
    }),
    fn("st_summary", StringType, Seq(Geom))(a => {
      val g = g0(a)
      s"${g.getGeometryType} with ${g.getNumPoints} points, " +
        s"${g.getNumGeometries} component(s)" +
        (if (g.getSRID != 0) s", SRID=${g.getSRID}" else "")
    }),

    // ---- decomposition: subdivide (bounded-vertex pieces for balanced
    // spatial partitioning) and split-by-blade ----
    "st_subdivide" -> ((children: Seq[Expression]) =>
      GeomScalar("st_subdivide", children, ArrayType(BinaryType, containsNull = false),
        Seq(Geom, Int_), a => {
          val maxV = i(a, 1)
          require(maxV >= 5, "st_subdivide needs maxVertices >= 5")
          def rec(g: Geometry, depth: Int): Seq[Geometry] = {
            if (g.isEmpty) Seq.empty
            else if (g.getNumPoints <= maxV || depth > 24) Seq(g)
            else {
              val e = g.getEnvelopeInternal
              val (h1, h2) =
                if (e.getWidth >= e.getHeight) {
                  val mx = (e.getMinX + e.getMaxX) / 2
                  (GeomIO.envelope(e.getMinX, e.getMinY, mx, e.getMaxY),
                    GeomIO.envelope(mx, e.getMinY, e.getMaxX, e.getMaxY))
                } else {
                  val my = (e.getMinY + e.getMaxY) / 2
                  (GeomIO.envelope(e.getMinX, e.getMinY, e.getMaxX, my),
                    GeomIO.envelope(e.getMinX, my, e.getMaxX, e.getMaxY))
                }
              rec(g.intersection(h1), depth + 1) ++ rec(g.intersection(h2), depth + 1)
            }
          }
          new GenericArrayData(rec(g0(a), 0).map(GeomIO.write).toArray[Any])
        })),
    "st_split" -> ((children: Seq[Expression]) =>
      GeomScalar("st_split", children, BinaryType, Seq(Geom, Geom), a => {
        val input = g0(a); val blade = g1(a)
        (input, blade) match {
          case (l: LineString, p: Point) =>
            val lil = new LengthIndexedLine(l)
            val idx = lil.indexOf(p.getCoordinate)
            if (idx <= 0 || idx >= l.getLength) l
            else GeomIO.factory.createMultiLineString(Array(
              lil.extractLine(0, idx).asInstanceOf[LineString],
              lil.extractLine(idx, l.getLength).asInstanceOf[LineString]))
          case (l: LineString, b) if b.getDimension <= 1 =>
            // node input with the blade, keep the pieces of the input
            val noded = l.union(b)
            val parts = (0 until noded.getNumGeometries)
              .map(noded.getGeometryN)
              .filter(p => p.getDimension == 1 && p.coveredBy(l))
            GeomIO.factory.createMultiLineString(
              parts.collect { case ls: LineString => ls }.toArray)
          case (poly: Polygon, b: LineString) =>
            val p = new Polygonizer()
            p.add(poly.getBoundary.union(b))
            val pieces = scala.jdk.CollectionConverters
              .CollectionHasAsScala(p.getPolygons).asScala.toSeq
              .map(_.asInstanceOf[Polygon])
              .filter(piece => poly.covers(piece.getInteriorPoint))
            GeomIO.factory.createMultiPolygon(pieces.toArray)
          case _ => throw new IllegalArgumentException(
            s"st_split: unsupported combination ${input.getGeometryType}/${blade.getGeometryType}")
        }
      })),

    // ---- proximity constructions (DistanceOp.nearestPoints; reference:
    // s2 st_closestpoint/shortestline/longestline kernels) ----
    // empty inputs degrade: closestpoint -> empty point, shortest/longest
    // line -> empty linestring (reference test_st_*_empties; raw JTS
    // DistanceOp throws instead)
    fn("st_closestpoint", BinaryType, Seq(Geom, Geom))(a => {
      if (g0(a).isEmpty || g1(a).isEmpty) GeomIO.factory.createPoint()
      else {
        val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(g0(a), g1(a))
        GeomIO.factory.createPoint(pts(0))
      }
    }),
    fn("st_shortestline", BinaryType, Seq(Geom, Geom))(a => {
      if (g0(a).isEmpty || g1(a).isEmpty) GeomIO.factory.createLineString()
      else {
        val pts = org.locationtech.jts.operation.distance.DistanceOp.nearestPoints(g0(a), g1(a))
        GeomIO.factory.createLineString(Array(pts(0), pts(1)))
      }
    }),
    fn("st_longestline", BinaryType, Seq(Geom, Geom))(a => {
      val ca = g0(a).convexHull().getCoordinates
      val cb = g1(a).convexHull().getCoordinates
      var best = 0.0; var bi = 0; var bj = 0
      var i = 0
      while (i < ca.length) {
        var j = 0
        while (j < cb.length) {
          val d0 = ca(i).distance(cb(j))
          if (d0 > best) { best = d0; bi = i; bj = j }
          j += 1
        }
        i += 1
      }
      if (ca.isEmpty || cb.isEmpty) GeomIO.factory.createLineString()
      else GeomIO.factory.createLineString(Array(ca(bi), cb(bj)))
    }),
    // GEOS_BuildArea semantics (test_functions.py test_st_buildarea*):
    // puntal input -> NULL; polygonal input contributes its BOUNDARY
    // rings as linework (JTS Polygonizer only extracts LineString
    // components, so rings must be lifted explicitly); empty linework ->
    // POLYGON EMPTY
    fn("st_buildarea", BinaryType, Seq(Geom))(a => {
      val g = g0(a)
      if (g.getDimension == 0) null
      else {
        val p = new Polygonizer()
        p.add(if (g.getDimension == 2) g.getBoundary else g)
        val polys = p.getPolygons
        if (polys.isEmpty) GeomIO.factory.createPolygon()
        else UnaryUnionOp.union(GeomIO.factory.buildGeometry(polys))
      }
    }),
    "st_force3d" -> ((children: Seq[Expression]) => GeomScalar("st_force3d", children,
      BinaryType, if (children.length >= 2) Seq(Geom, Dbl) else Seq(Geom),
      a => {
        val zFill = if (a.length >= 2) d(a, 1) else 0.0
        // rebuild through 3D WKT to guarantee Z storage
        GeomIO.readWkt(new org.locationtech.jts.io.WKTWriter(3).write {
          val ed = new org.locationtech.jts.geom.util.GeometryEditor(GeomIO.factory)
          ed.edit(g0(a), new org.locationtech.jts.geom.util.GeometryEditor.CoordinateOperation {
            override def edit(coords: Array[Coordinate], g: Geometry): Array[Coordinate] =
              coords.map(cc => new Coordinate(cc.x, cc.y,
                if (java.lang.Double.isNaN(cc.getZ)) zFill else cc.getZ))
          })
        })
      })),
    // polygon tessellation: ear-clipping triangulation
    fn("st_tessellate", BinaryType, Seq(Geom))(a =>
      org.locationtech.jts.triangulate.polygon.PolygonTriangulator.triangulate(g0(a))),
    // s2-tessellator edge splitting (reference ST_TessellateGeog/Geom,
    // c/sedona-s2geography; behavior pinned case-for-case by
    // python/sedonadb/tests/geography/test_tessellate.py): recursively
    // split every edge while the distance between its chart (lon/lat
    // linear) midpoint and its geodesic (great-circle) midpoint exceeds
    // the tolerance in meters. Geog inserts chart midpoints (output
    // follows the planar edge, ready to be treated as geography); Geom
    // inserts geodesic midpoints (output follows the great circle).
    fn("st_tessellategeog", BinaryType, Seq(Geom, Dbl))(a =>
      tessellateEdges(g0(a), d(a, 1), toGeography = true)),
    fn("st_tessellategeom", BinaryType, Seq(Geom, Dbl))(a =>
      tessellateEdges(g0(a), d(a, 1), toGeography = false)),
    // measured-coordinate forcing (st_force_dim.rs 3DM/4D): coordinates
    // rebuilt as XYM / XYZM, existing ordinates preserved
    // default fill values (m=0 / z=0,m=0) when the short arities are used
    // (reference test_st_force3dm / test_st_force4d)
    "st_force3dm" -> ((children: Seq[Expression]) => GeomScalar("st_force3dm", children,
      BinaryType, if (children.length >= 2) Seq(Geom, Dbl) else Seq(Geom),
      a => {
        val mFill = if (a.length >= 2) d(a, 1) else 0.0
        GeomScalars.mapCoords3D(g0(a), c => new CoordinateXYM(c.x, c.y,
          if (java.lang.Double.isNaN(c.getM)) mFill else c.getM))
      })),
    "st_force4d" -> ((children: Seq[Expression]) => GeomScalar("st_force4d", children,
      BinaryType, if (children.length >= 3) Seq(Geom, Dbl, Dbl) else Seq(Geom),
      a => {
        val zFill = if (a.length >= 3) d(a, 1) else 0.0
        val mFill = if (a.length >= 3) d(a, 2) else 0.0
        GeomScalars.mapCoords3D(g0(a), c => new CoordinateXYZM(c.x, c.y,
          if (java.lang.Double.isNaN(c.getZ)) zFill else c.getZ,
          if (java.lang.Double.isNaN(c.getM)) mFill else c.getM))
      })),
    fn("st_pointm", BinaryType, Seq(Dbl, Dbl, Dbl))(a =>
      GeomIO.factory.createPoint(new CoordinateXYM(d(a, 0), d(a, 1), d(a, 2)))),
    fn("st_pointzm", BinaryType, Seq(Dbl, Dbl, Dbl, Dbl))(a =>
      GeomIO.factory.createPoint(new CoordinateXYZM(d(a, 0), d(a, 1), d(a, 2), d(a, 3)))),
    // geography/geometry casts: the reference flips the Edges flag
    // (st_togeomgeog.rs); our WKB model carries no edge flag, so these are
    // identity re-tags kept for API parity
    fn("st_togeography", BinaryType, Seq(Geom))(a => g0(a)),
    fn("st_togeometry", BinaryType, Seq(Geom))(a => g0(a)),
    // S2 cell ids (s2_cellidfrompoint.qmd / s2_coveringcellids.qmd):
    // leaf id at level 30; NULL for empty points
    fn("s2_cellidfrompoint", LongType, Seq(Geom))(a => g0(a) match {
      case p: Point if !p.isEmpty => S2Cells.leafCellId(p.getX, p.getY)
      case _ => null
    }),
    // covering with optional min_level / max_level / max_cells
    // (defaults 0 / 30 / 8)
    "s2_coveringcellids" -> ((children: Seq[Expression]) =>
      GeomScalar("s2_coveringcellids", children,
        ArrayType(LongType, containsNull = false),
        Seq(ArgKind.Geom) ++ Seq.fill(children.length - 1)(ArgKind.Int_),
        a => {
          val minL = if (a.length > 1) a(1).asInstanceOf[Int] else 0
          val maxL = if (a.length > 2) a(2).asInstanceOf[Int] else 30
          val maxC = if (a.length > 3) a(3).asInstanceOf[Int] else 8
          new GenericArrayData(S2Cells.covering(g0(a), minL, maxL, maxC))
        })),
    // optional 2nd arg: JSON options with a width_hint bounding the
    // rendered length (docs/reference/sql/sd_format.qmd). Matches
    // sd_format.rs:73-100: malformed options JSON is an ERROR (not a
    // silent default), the options parse happens once per distinct
    // string (it is effectively a scalar), and truncation stops
    // mid-render with no ellipsis (LimitedSizeOutput).
    "sd_format" -> ((children: Seq[Expression]) => {
      val widthCache = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      GeomScalar("sd_format", children, StringType,
        Seq(Geom) ++ Seq(Str).take(children.length - 1),
        a => {
          val width: Int =
            if (a.length < 2) Int.MaxValue
            else widthCache.computeIfAbsent(a(1).asInstanceOf[String], opts => {
              val node =
                try new com.fasterxml.jackson.databind.ObjectMapper().readTree(opts)
                catch { case e: Exception => throw new IllegalArgumentException(
                  s"sd_format: invalid options JSON: ${e.getMessage}") }
              if (node != null && node.has("width_hint"))
                math.max(node.get("width_hint").asInt(Int.MaxValue), 0)
              else Int.MaxValue
            })
          val wkt = GeomIO.writeWkt(g0(a))
          if (wkt.length > width) wkt.take(width) else wkt
        })
    }),
    fn("st_hausdorffdistancedensify", DoubleType, Seq(Geom, Geom, Dbl))(a => {
      val h = new DiscreteHausdorffDistance(g0(a), g1(a))
      h.setDensifyFraction(d(a, 2)); h.distance()
    }),

    // ---- CRS (st_transform.rs; PROJ replaced by hand-coded math) ----
    // 3-arg (geom, src, dst), or the reference's 2-arg form where the
    // source comes from the geometry's own CRS (SRID / item-CRS string)
    "st_transform" -> ((children: Seq[Expression]) => {
      // NTv2 registrations live in a driver-JVM static map; capture them
      // HERE (expression construction runs on the driver) so the closure
      // ships the (datum -> grid path) entries to executor JVMs, which
      // install them before the first transform. Without this, distributed
      // st_transform would silently fall back to the meters-level Helmert
      // leg while local-mode tests (same JVM) keep passing.
      val gridSnap = CrsTransform.gridRegistrySnapshot()
      GeomScalar("st_transform", children,
      BinaryType, if (children.length >= 3) Seq(Geom, Str, Str) else Seq(Geom, Str),
      a => {
        if (gridSnap.nonEmpty) CrsTransform.installGridRegistry(gridSnap)
        if (a.length >= 3) CrsTransform.transform(g0(a), s(a, 1), s(a, 2))
        else {
          val srid = g0(a).getSRID
          require(srid != 0, "st_transform: geometry carries no CRS " +
            "(the 2-arg form needs ST_SetSRID/ST_SetCrs or an item-CRS column)")
          CrsTransform.transform(g0(a), s"EPSG:$srid", s(a, 1))
        }
      })
    }),

    // ---- spherical (geography) subset — s2 kernel analogs
    // (c/sedona-s2geography/src/kernels.rs:68-226) ----
    fn("st_distancesphere", DoubleType, Seq(Geom, Geom))(a =>
      Spherical.distance(g0(a), g1(a))),
    fn("st_dwithinsphere", BooleanType, Seq(Geom, Geom, Dbl))(a =>
      Spherical.distance(g0(a), g1(a)) match {
        case null => null
        case dd: Double => java.lang.Boolean.valueOf(dd <= d(a, 2))
      }),
    fn("st_areasphere", DoubleType, Seq(Geom))(a => Spherical.area(g0(a))),
    fn("st_lengthsphere", DoubleType, Seq(Geom))(a => Spherical.length(g0(a))),
    fn("st_perimetersphere", DoubleType, Seq(Geom))(a => Spherical.perimeter(g0(a))),
    // s2 closest-point/shortest-line analogs: planar-nearest pair, same
    // approximation contract as st_distancesphere's general case
    fn("st_centroidsphere", BinaryType, Seq(Geom))(a =>
      GeomIO.write(Spherical.centroid(g0(a)))),
    fn("st_convexhullsphere", BinaryType, Seq(Geom))(a =>
      GeomIO.write(Spherical.convexHull(g0(a)))),
    fn("st_pointonsurfacesphere", BinaryType, Seq(Geom))(a =>
      GeomIO.write(Spherical.pointOnSurface(g0(a)))),
    // exact for crossing geodesic arcs / shared vertices; containment
    // (no boundary crossing) goes through the chart test inside
    // Spherical.distance — same contract as the other _sphere kernels
    fn("st_intersectssphere", BooleanType, Seq(Geom, Geom))(a => {
      val ga = g0(a); val gb = g1(a)
      // empty never intersects (reference geography pin); null propagates
      // via the null-in null-out wrapper
      if (ga.isEmpty || gb.isEmpty) java.lang.Boolean.FALSE
      else Spherical.distance(ga, gb) match {
        case null => null
        case d: Double => java.lang.Boolean.valueOf(d == 0.0)
      }
    }),
    // geography containment family over the winding/cover kernels —
    // the S2 surface's st_contains/within/disjoint/equals on geography
    // (c/sedona-s2geography/src/kernels.rs:68-226)
    fn("st_containssphere", BooleanType, Seq(Geom, Geom))(a =>
      java.lang.Boolean.valueOf(Spherical.containsGeom(g0(a), g1(a)))),
    fn("st_withinsphere", BooleanType, Seq(Geom, Geom))(a =>
      java.lang.Boolean.valueOf(Spherical.containsGeom(g1(a), g0(a)))),
    fn("st_coverssphere", BooleanType, Seq(Geom, Geom))(a =>
      java.lang.Boolean.valueOf(Spherical.coversGeom(g0(a), g1(a)))),
    fn("st_coveredbysphere", BooleanType, Seq(Geom, Geom))(a =>
      java.lang.Boolean.valueOf(Spherical.coversGeom(g1(a), g0(a)))),
    // winding-aware (oriented=true) variants: the authored ring order
    // defines the interior, so polygons LARGER than a hemisphere (cap
    // complements) are expressible — beyond the smaller-side contract
    // the rest of the _sphere family shares with S2geography's
    // oriented=false ingestion. Containment takes any second geometry
    // (point fast path, else the vertex + arc-crossing + reverse-nesting
    // kernel); intersects is the symmetric closed-region test.
    fn("st_containssphereoriented", BooleanType, Seq(Geom, Geom))(a =>
      g1(a) match {
        case p: org.locationtech.jts.geom.Point if !p.isEmpty =>
          java.lang.Boolean.valueOf(
            Spherical.coversPointOriented(g0(a), p.getX, p.getY))
        case other =>
          java.lang.Boolean.valueOf(Spherical.coversGeomOriented(g0(a), other))
      }),
    fn("st_intersectssphereoriented", BooleanType, Seq(Geom, Geom))(a =>
      java.lang.Boolean.valueOf(Spherical.intersectsOriented(g0(a), g1(a)))),
    fn("st_areasphereoriented", DoubleType, Seq(Geom))(a =>
      Spherical.areaOriented(g0(a))),
    // oriented boolean ops: arc split + midpoint classify + stitch;
    // union via the reverse-rings complement duality (full-sphere
    // unions have no boundary and throw)
    fn("st_intersectionsphereoriented", BinaryType, Seq(Geom, Geom))(a =>
      GeomIO.write(Spherical.intersectionOriented(g0(a), g1(a)))),
    fn("st_unionsphereoriented", BinaryType, Seq(Geom, Geom))(a =>
      GeomIO.write(Spherical.unionOriented(g0(a), g1(a)))),
    fn("st_differencesphereoriented", BinaryType, Seq(Geom, Geom))(a =>
      GeomIO.write(Spherical.differenceOriented(g0(a), g1(a)))),
    fn("st_disjointsphere", BooleanType, Seq(Geom, Geom))(a => {
      val ga = g0(a); val gb = g1(a)
      if (ga.isEmpty || gb.isEmpty) java.lang.Boolean.TRUE
      else Spherical.distance(ga, gb) match {
        case null => null
        case d: Double => java.lang.Boolean.valueOf(d != 0.0)
      }
    }),
    fn("st_equalssphere", BooleanType, Seq(Geom, Geom))(a =>
      java.lang.Boolean.valueOf(Spherical.equalsGeom(g0(a), g1(a)))),
    // ---- S2 LngLatRect surface: wrap-aware geography bounds
    // (tests/geography/test_bounds.py — ST_XMin/ST_XMax on a geography
    // crossing the antimeridian return the WRAPPED interval endpoints,
    // xmin > xmax; ST_Envelope splits into a MULTIPOLYGON at ±180) ----
    // exact spherical max distance via the antipode identity:
    // max d(A, B) = pi*R - min d(A, antipode(B)) — reuses the exact
    // geodesic min-distance kernel (geography/test_geog_distance.py
    // test_st_max_distance*, incl. the antipodal-linestring case)
    fn("st_maxdistancesphere", DoubleType, Seq(Geom, Geom))(a => {
      if (g0(a).isEmpty || g1(a).isEmpty) null
      else {
        val anti = GeomScalars.mapCoords3D(g1(a), c => {
          val lon = c.x + 180.0
          val n = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
          new Coordinate(n, -c.y, c.getZ)
        })
        math.Pi * Spherical.R - Spherical.distance(g0(a), anti).asInstanceOf[Double]
      }
    }),
    // the LINE achieving the spherical max distance — the antipode
    // identity again: the farthest pair (a*, b*) is the closest pair of
    // (A, antipode(B)) with b* mapped back (same chart-level
    // approximation contract as st_closestpointsphere)
    fn("st_longestlinesphere", BinaryType, Seq(Geom, Geom))(a => {
      if (g0(a).isEmpty || g1(a).isEmpty) null
      else {
        def flip(c: Coordinate): Coordinate = {
          val lon = c.x + 180.0
          val n = ((lon + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
          new Coordinate(n, -c.y, c.getZ)
        }
        val anti = GeomScalars.mapCoords3D(g1(a), flip)
        Spherical.closestPoints(g0(a), anti)
          .map(p => GeomIO.factory.createLineString(Array(p._1, flip(p._2))))
          .orNull
      }
    }),
    fn("st_xminsphere", DoubleType, Seq(Geom))(a =>
      Spherical.lngLatRect(g0(a)).map(_._1).orNull),
    fn("st_yminsphere", DoubleType, Seq(Geom))(a =>
      Spherical.lngLatRect(g0(a)).map(_._2).orNull),
    fn("st_xmaxsphere", DoubleType, Seq(Geom))(a =>
      Spherical.lngLatRect(g0(a)).map(_._3).orNull),
    fn("st_ymaxsphere", DoubleType, Seq(Geom))(a =>
      Spherical.lngLatRect(g0(a)).map(_._4).orNull),
    fn("st_envelopesphere", BinaryType, Seq(Geom))(a =>
      Spherical.lngLatRect(g0(a)) match {
        case None => GeomIO.factory.createPolygon()
        case Some((lo, latLo, hi, latHi)) =>
          // antimeridian wrap splits into east [lo, 180] + west
          // [-180, hi] pieces (Spherical.rectGeometry)
          Spherical.rectGeometry(lo, latLo, hi, latHi)
      }),

    // geodesic segmentize (S2 geography st_segmentize: subdivision along
    // great circles, not chart chords)
    fn("st_segmentizesphere", BinaryType, Seq(Geom, Dbl))(a =>
      Spherical.segmentize(g0(a), d(a, 1))),
    fn("st_linelocatepointsphere", DoubleType, Seq(Geom, Geom))(a => (g0(a), g1(a)) match {
      case (l: org.locationtech.jts.geom.LineString, p: org.locationtech.jts.geom.Point)
          if !l.isEmpty && !p.isEmpty =>
        Spherical.lineLocatePoint(l, p.getX, p.getY)
      case (l, p) => throw new IllegalArgumentException(
        "st_linelocatepointsphere: arguments must be a LineString and a Point, got " +
          s"${l.getGeometryType} / ${p.getGeometryType}")
    }),
    // exact spherical closest pair (Spherical.closestPoints) — correct
    // at any separation, unlike a chart DistanceOp proxy
    fn("st_closestpointsphere", BinaryType, Seq(Geom, Geom))(a =>
      Spherical.closestPoints(g0(a), g1(a))
        .map(p => GeomIO.factory.createPoint(p._1)).orNull),
    fn("st_shortestlinesphere", BinaryType, Seq(Geom, Geom))(a =>
      Spherical.closestPoints(g0(a), g1(a))
        .map(p => GeomIO.factory.createLineString(Array(p._1, p._2))).orNull),
    // spherical overlay subset (s2 geography st_intersection/union/
    // difference/symdifference, c/sedona-s2geography/src/kernels.rs:
    // 110-118): azimuthal-equidistant tangent-plane OverlayNG, see
    // Spherical.overlay for the approximation contract
    fn("st_intersectionsphere", BinaryType, Seq(Geom, Geom))(a =>
      Spherical.overlay(g0(a), g1(a), 1)),
    fn("st_unionsphere", BinaryType, Seq(Geom, Geom))(a =>
      Spherical.overlay(g0(a), g1(a), 2)),
    fn("st_differencesphere", BinaryType, Seq(Geom, Geom))(a =>
      Spherical.overlay(g0(a), g1(a), 3)),
    fn("st_symdifferencesphere", BinaryType, Seq(Geom, Geom))(a =>
      Spherical.overlay(g0(a), g1(a), 4)),
    fn("st_buffersphere", BinaryType, Seq(Geom, Dbl))(a =>
      Spherical.buffer(g0(a), d(a, 1))),
    fn("st_lineinterpolatepointsphere", BinaryType, Seq(Geom, Dbl))(a =>
      Spherical.lineInterpolatePoint(g0(a), d(a, 1))),
    // wrap-safe lat-lon grid cover of the radius-expanded envelope
    // (S2-covering analog, rust/sedona-spatial-join-geography)
    "st_gridcells_sphere" -> ((children: Seq[Expression]) =>
      GeomScalar("st_gridcells_sphere", children, ArrayType(LongType, containsNull = false),
        Seq(Geom, Dbl, Int_, Int_), a =>
          new GenericArrayData(Spherical.gridCells(
            Spherical.latLngBound(g0(a)), d(a, 1), i(a, 2), i(a, 3))))),

    // ---- KNN join stub: only valid inside a join condition, where
    // SpatialJoinStrategy plans it into KnnJoinExec (reference pattern:
    // rust/sedona-functions/src/st_knn.rs:30-44). Arity 2-4: k defaults
    // to 1 when omitted (test_knnjoin.py test_knn_join_default_k) ----
    "st_knn" -> ((children: Seq[Expression]) =>
      GeomScalar("st_knn", children, BooleanType,
        Seq(Geom, Geom) ++ Seq(Int_, Raw).take(children.length - 2),
        _ => throw new IllegalStateException(
          "st_knn(query_geom, object_geom[, k[, use_spheroid]]) " +
            "can only be used as a join condition"))),

    // ---- spatial sort keys (sd_order.rs) ----
    fn("sd_order", LongType, Seq(Geom))(a => SpaceCurve.hilbertLonLat(g0(a))),
    fn("sd_hilbert", LongType, Seq(Geom, Dbl, Dbl, Dbl, Dbl))(a =>
      SpaceCurve.hilbert(g0(a), d(a, 1), d(a, 2), d(a, 3), d(a, 4))),
    fn("sd_zorder", LongType, Seq(Geom, Dbl, Dbl, Dbl, Dbl))(a =>
      SpaceCurve.morton(g0(a), d(a, 1), d(a, 2), d(a, 3), d(a, 4))),

    // ---- grid-partitioning support for the shuffle spatial join
    // (reference: KDB partitioning, rust/sedona-spatial-join/src/
    //  partitioning/kdb.rs — here a uniform grid; cells an envelope
    //  overlaps, and the reference-point cell for pair dedup) ----
    // one-parse envelope accessor for the shuffle join: [xmin,ymin,xmax,ymax].
    // Lets gridJoin carry envelope doubles as columns so bbox overlap and
    // reference-cell dedup are pure codegen'd arithmetic (no per-pair WKB
    // parse). Null for empty geometries, matching st_gridcells.
    fn("sd_envelope4", ArrayType(DoubleType, containsNull = false), Seq(Geom))(a => {
      val e = g0(a).getEnvelopeInternal
      if (e.isNull) null
      else new GenericArrayData(Array(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
    }),
    // grid cells from an sd_envelope4 array — same math as st_gridcells
    // without re-parsing the WKB
    fn("sd_gridcells4", ArrayType(LongType, containsNull = false),
        Seq(ArgKind.Raw, Dbl, Dbl, Dbl, Dbl, Int_, Int_))(a => {
      val e = a(0).asInstanceOf[ArrayData]
      new GenericArrayData(Grid.cellsOf(
        e.getDouble(0), e.getDouble(1), e.getDouble(2), e.getDouble(3),
        d(a, 1), d(a, 2), d(a, 3), d(a, 4), i(a, 5), i(a, 6)))
    }),
    "st_gridcells" -> ((children: Seq[Expression]) =>
      GeomScalar("st_gridcells", children, ArrayType(LongType, containsNull = false),
        Seq(Geom, Dbl, Dbl, Dbl, Dbl, Int_, Int_), a => {
          val e = g0(a).getEnvelopeInternal
          if (e.isNull) null
          else new GenericArrayData(Grid.cellsOf(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY,
            d(a, 1), d(a, 2), d(a, 3), d(a, 4), i(a, 5), i(a, 6)))
        })),
    fn("st_refcell", LongType, Seq(Geom, Geom, Dbl, Dbl, Dbl, Dbl, Int_, Int_))(a => {
      val e1 = g0(a).getEnvelopeInternal
      val e2 = g1(a).getEnvelopeInternal
      if (e1.isNull || e2.isNull) null
      else Grid.cellOf(math.max(e1.getMinX, e2.getMinX), math.max(e1.getMinY, e2.getMinY),
        d(a, 2), d(a, 3), d(a, 4), d(a, 5), i(a, 6), i(a, 7))
    })
  )

  /** Alternate SQL names the reference registers for existing kernels
    * (rust/sedona-functions/src/register.rs + c/sedona-s2geography/src/
    * kernels.rs name lists). `st_geomfromwkbunchecked` maps to the checked
    * parser — JTS validates cheaply on read, and silent acceptance of
    * malformed WKB is never the behavior we want at scale. Geography
    * (`geog`/`tessellategeog`) aliases share the planar kernel: our
    * geography support is the `_sphere` function family. */
  private val aliases: Seq[(String, String)] = Seq(
    "st_aswkt" -> "st_astext",
    "st_aswkb" -> "st_asbinary",
    "st_convex_hull" -> "st_convexhull",
    "st_sym_difference" -> "st_symdifference",
    "st_unary_union" -> "st_unaryunion",
    "st_geometryfromtext" -> "st_geomfromtext",
    "st_linestringfromtext" -> "st_linefromtext",
    "st_geogfromtext" -> "st_geogfromwkt",
    "st_geogfromwkb" -> "st_geomfromwkb",
    "st_geomfromwkbunchecked" -> "st_geomfromwkb")

  val registry: Map[String, B] =
    core ++ aliases.map { case (alias, canonical) => alias -> core(canonical) }
}
