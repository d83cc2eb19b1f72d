package graft.geom

import org.locationtech.jts.geom._
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

/** WKB <-> JTS bridge. The engine's geometry model mirrors the reference
  * (SedonaDB `SedonaType::Wkb`, rust/sedona-schema/src/datatypes.rs:33-49):
  * geometry travels through Spark as EWKB bytes in a plain BinaryType
  * column, SRID carried in the EWKB header. No UDT — expressions decode
  * per-row exactly like the reference's per-batch WkbExecutor
  * (rust/sedona-functions/src/executor.rs:83).
  *
  * All readers/writers are thread-local: JTS parser objects are not
  * thread-safe and Spark evaluates expressions on many task threads.
  */
object GeomIO {
  val factory = new GeometryFactory(new PrecisionModel(), 0)

  private val wkbReader = ThreadLocal.withInitial[WKBReader](() => new WKBReader(factory))
  private val wktReader = ThreadLocal.withInitial[WKTReader](() => {
    val r = new WKTReader(factory); r.setIsOldJtsCoordinateSyntaxAllowed(false); r
  })
  import org.locationtech.jts.io.Ordinate
  private def wkb(dim: Int, srid: Boolean, ords: java.util.EnumSet[Ordinate]) =
    ThreadLocal.withInitial[WKBWriter](() => {
      // NDR (little-endian) — the byte order the reference and PostGIS
      // emit (geography/test_constructors_parsers_formatters.py pins the
      // exact bytes); JTS defaults to XDR
      val w = new WKBWriter(dim,
        org.locationtech.jts.io.ByteOrderValues.LITTLE_ENDIAN, srid)
      w.setOutputOrdinates(ords); w
    })
  private def wkt(dim: Int, ords: java.util.EnumSet[Ordinate]) =
    ThreadLocal.withInitial[WKTWriter](() => {
      val w = new WKTWriter(dim); w.setOutputOrdinates(ords); w
    })
  private val XY = java.util.EnumSet.of(Ordinate.X, Ordinate.Y)
  private val XYZ = java.util.EnumSet.of(Ordinate.X, Ordinate.Y, Ordinate.Z)
  private val XYM = java.util.EnumSet.of(Ordinate.X, Ordinate.Y, Ordinate.M)
  private val XYZM = java.util.EnumSet.allOf(classOf[Ordinate])
  private val wkbWriters = Array(wkb(2, true, XY), wkb(3, true, XYZ),
    wkb(3, true, XYM), wkb(4, true, XYZM))
  private val wkbWritersPlain = Array(wkb(2, false, XY), wkb(3, false, XYZ),
    wkb(3, false, XYM), wkb(4, false, XYZM))
  private val wktWriters = Array(wkt(2, XY), wkt(3, XYZ), wkt(3, XYM), wkt(4, XYZM))

  /** First coordinate sequence reachable in the geometry (empty
    * geometries still carry their declared dimension/measures there). */
  private def firstSeq(g: Geometry): CoordinateSequence = g match {
    case p: Point => p.getCoordinateSequence
    case l: LineString => l.getCoordinateSequence
    case p: Polygon => p.getExteriorRing.getCoordinateSequence
    case c: GeometryCollection if c.getNumGeometries > 0 => firstSeq(c.getGeometryN(0))
    case _ => null
  }

  @inline def hasZ(g: Geometry): Boolean = {
    val c = g.getCoordinate
    if (c != null) !java.lang.Double.isNaN(c.getZ)
    else { // empty: the declared dims live on the sequence. JTS builds
      // its own empties as dim-3 CoordinateArraySequences by default, so
      // plain dim-3 is NOT evidence of Z — only our packed marker
      // sequences (see emptyWithFlavor) or an explicit 4th dim are.
      val s = firstSeq(g)
      if (s == null) { val f = emptyFlavorTag(g); f == 1 || f == 3 }
      else s.getDimension >= 4 ||
        (s.getDimension - s.getMeasures >= 3 &&
          s.isInstanceOf[org.locationtech.jts.geom.impl.PackedCoordinateSequence])
    }
  }

  @inline def hasM(g: Geometry): Boolean = {
    val c = g.getCoordinate
    if (c != null) !java.lang.Double.isNaN(c.getM)
    else {
      val s = firstSeq(g)
      if (s == null) { val f = emptyFlavorTag(g); f == 2 || f == 3 }
      else s.getMeasures >= 1
    }
  }

  /** 0 = XY, 1 = XYZ, 2 = XYM, 3 = XYZM. */
  @inline private def dimIdx(g: Geometry): Int =
    (if (hasZ(g)) 1 else 0) + (if (hasM(g)) 2 else 0)

  def read(bytes: Array[Byte]): Geometry = {
    val g = wkbReader.get.read(bytes)
    // JTS's WKBReader drops the declared Z/M flavor of EMPTY geometries
    // (it builds dimension-less empty sequences); restore it from the
    // ISO type code so `POINT ZM EMPTY` keeps its flag through storage
    if (g.isEmpty && bytes.length >= 5 &&
        (!g.isInstanceOf[GeometryCollection] || g.getNumGeometries == 0)) {
      val le = bytes(0) == 1
      val code =
        if (le) (bytes(1) & 0xff) | ((bytes(2) & 0xff) << 8) |
          ((bytes(3) & 0xff) << 16) | ((bytes(4) & 0xff) << 24)
        else (bytes(4) & 0xff) | ((bytes(3) & 0xff) << 8) |
          ((bytes(2) & 0xff) << 16) | ((bytes(1) & 0xff) << 24)
      // dims live either in EWKB flag bits or in the ISO +1000/+2000 code
      val iso = (code & 0xffff) / 1000
      val z = (code & 0x80000000) != 0 || iso == 1 || iso == 3
      val m = (code & 0x40000000) != 0 || iso == 2 || iso == 3
      val flavor = (if (z) 1 else 0) + (if (m) 2 else 0) match {
        case 0 => 0; case 1 => 1; case 2 => 2; case _ => 3
      }
      emptyWithFlavor(g, flavor) // flavor 0 too: JTS empties default dim 3
    } else g
  }

  /** Rebuild an empty geometry whose leaf sequences declare the given
    * ISO flavor (0 = XY, 1 = Z, 2 = M, 3 = ZM). */
  private def emptyWithFlavor(g: Geometry, flavor: Int): Geometry = {
    val (dim, meas) = flavor match {
      case 0 => (2, 0)
      case 1 => (3, 0)
      case 2 => (3, 1)
      case _ => (4, 1)
    }
    // Z-flavored empties use a packed sequence as the marker hasZ keys
    // on (plain dim-3 array sequences are JTS's dimension-less default)
    val seq =
      if (flavor == 1)
        org.locationtech.jts.geom.impl.PackedCoordinateSequenceFactory.DOUBLE_FACTORY
          .create(0, dim, meas)
      else factory.getCoordinateSequenceFactory.create(0, dim, meas)
    val out = g match {
      case _: Point => factory.createPoint(seq)
      case _: LinearRing => factory.createLinearRing(seq)
      case _: LineString => factory.createLineString(seq)
      case _: Polygon => factory.createPolygon(factory.createLinearRing(seq))
      case _: MultiPoint => factory.createMultiPoint(
        Array.empty[org.locationtech.jts.geom.Point])
      case _: MultiLineString => factory.createMultiLineString(
        Array.empty[org.locationtech.jts.geom.LineString])
      case _: MultiPolygon => factory.createMultiPolygon(
        Array.empty[org.locationtech.jts.geom.Polygon])
      case _: GeometryCollection =>
        factory.createGeometryCollection(Array.empty[Geometry])
      case other => other
    }
    // empty collections (incl. the Multi* subclasses) have no leaf
    // sequence to tag — carry the flavor out-of-band on userData, which
    // hasZ/hasM consult for empties; WKT/WKB readers restore it from the
    // declared tag/type code (reference test_functions.py:1258,1652 pins
    // 'MULTIPOINT Z EMPTY' / 'GEOMETRYCOLLECTION Z EMPTY' round-trips)
    if (out.isInstanceOf[GeometryCollection] && flavor != 0)
      out.setUserData(Integer.valueOf(flavor))
    out.setSRID(g.getSRID)
    out
  }

  /** Out-of-band flavor of a typed empty collection (0 when untagged). */
  @inline private def emptyFlavorTag(g: Geometry): Int = g.getUserData match {
    case i: java.lang.Integer => i.intValue
    case _ => 0
  }

  def write(g: Geometry): Array[Byte] = wkbWriters(dimIdx(g)).get.write(g)

  /** Plain WKB without the EWKB SRID flag, JTS (EWKB-style Z/M flag
    * bits) dialect — internal use where readers accept either. */
  def writePlain(g: Geometry): Array[Byte] = wkbWritersPlain(dimIdx(g)).get.write(g)

  /** ISO WKB (ST_AsBinary semantics): NDR byte order, ISO type codes
    * (base + 1000·Z + 2000·M — JTS's writer can only emit the EWKB flag
    * bits), empty points as NaN ordinates. Byte-for-byte what the
    * reference and PostGIS emit
    * (geography/test_constructors_parsers_formatters.py pins). */
  def writeIso(g: Geometry): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(64)
    val out = new java.io.DataOutputStream(bos)
    def putInt(v: Int): Unit = out.writeInt(Integer.reverseBytes(v))
    def putDouble(v: Double): Unit =
      out.writeLong(java.lang.Long.reverseBytes(java.lang.Double.doubleToLongBits(v)))
    def putCoords(seq: CoordinateSequence, z: Boolean, m: Boolean): Unit = {
      var i = 0
      while (i < seq.size) {
        putDouble(seq.getX(i)); putDouble(seq.getY(i))
        if (z) putDouble(seq.getOrdinate(i, 2))
        if (m) putDouble(seq.getOrdinate(i, if (z) 3 else 2))
        i += 1
      }
    }
    def emit(geom: Geometry, z: Boolean, m: Boolean): Unit = {
      out.writeByte(1) // NDR
      val base = geom match {
        case _: Point => 1
        case _: LineString => 2
        case _: Polygon => 3
        case _: MultiPoint => 4
        case _: MultiLineString => 5
        case _: MultiPolygon => 6
        case _: GeometryCollection => 7
      }
      putInt(base + (if (z && m) 3000 else if (m) 2000 else if (z) 1000 else 0))
      geom match {
        case p: Point =>
          if (p.isEmpty) {
            val n = 2 + (if (z) 1 else 0) + (if (m) 1 else 0)
            var i = 0
            while (i < n) { putDouble(Double.NaN); i += 1 }
          } else putCoords(p.getCoordinateSequence, z, m)
        case l: LineString =>
          putInt(l.getNumPoints)
          putCoords(l.getCoordinateSequence, z, m)
        case p: Polygon =>
          if (p.isEmpty) putInt(0)
          else {
            putInt(1 + p.getNumInteriorRing)
            putInt(p.getExteriorRing.getNumPoints)
            putCoords(p.getExteriorRing.getCoordinateSequence, z, m)
            var r = 0
            while (r < p.getNumInteriorRing) {
              putInt(p.getInteriorRingN(r).getNumPoints)
              putCoords(p.getInteriorRingN(r).getCoordinateSequence, z, m)
              r += 1
            }
          }
        case c: GeometryCollection =>
          putInt(c.getNumGeometries)
          var i = 0
          while (i < c.getNumGeometries) { emit(c.getGeometryN(i), z, m); i += 1 }
      }
    }
    emit(g, hasZ(g), hasM(g))
    out.flush()
    bos.toByteArray
  }

  private val EmptyTag =
    java.util.regex.Pattern.compile("(?i)^\\s*[a-z]+\\s+(ZM|Z|M)\\s+EMPTY\\s*$")

  def readWkt(s: String): Geometry = {
    val g = wktReader.get.read(s)
    // JTS parses every EMPTY into a legacy dim-3 sequence, erasing the
    // declared flavor (and inventing Z on plain empties) — restore it
    // from the WKT tag so `POINT ZM EMPTY` keeps its ZM flag
    // rebuild only truly-empty geometries: 'MULTIPOINT (EMPTY)' has a
    // child and must keep it
    if (g.isEmpty && (!g.isInstanceOf[GeometryCollection] ||
        g.getNumGeometries == 0)) {
      val m = EmptyTag.matcher(s)
      val flavor =
        if (m.matches()) m.group(1).toUpperCase match {
          case "Z" => 1
          case "M" => 2
          case _ => 3
        } else 0
      emptyWithFlavor(g, flavor)
    } else g
  }

  def writeWkt(g: Geometry): String = {
    val idx = dimIdx(g)
    val s = wktWriters(idx).get.write(g)
    // JTS's writer derives the Z/M tag from visited coordinates, so an
    // EMPTY never gets one — restore it from the declared flavor
    if (g.isEmpty && idx > 0 && s.endsWith("EMPTY") && !s.contains(" Z ") &&
      !s.contains(" M ") && !s.contains(" ZM ")) {
      val tag = idx match { case 1 => "Z"; case 2 => "M"; case _ => "ZM" }
      s.replaceFirst(" EMPTY$", s" $tag EMPTY")
    } else s
  }

  def point(x: Double, y: Double): Geometry =
    factory.createPoint(new Coordinate(x, y))

  def pointZ(x: Double, y: Double, z: Double): Geometry =
    factory.createPoint(new Coordinate(x, y, z))

  /** Axis-aligned rectangle polygon (ST_MakeEnvelope). */
  def envelope(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Geometry =
    factory.toGeometry(new Envelope(xmin, xmax, ymin, ymax))

  // ---- WKB without JTS: the constructors' bytes and the index bounds ----

  private val EwkbSrid = 0x20000000

  /** `write(point(x, y))`, written directly: NDR, the SRID flag, SRID 0. */
  def pointBytes(x: Double, y: Double): Array[Byte] = {
    val out = new Array[Byte](25)
    header(out, 1)
    putDouble(out, 9, x); putDouble(out, 17, y)
    out
  }

  /** `write(envelope(xmin, ymin, xmax, ymax))`: written directly for a
    * rectangle with width and height; JTS's point, line or empty point
    * for the degenerate and NaN envelopes. */
  def envelopeBytes(xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Byte] = {
    // Envelope's normalization: min and max by `<`, as JTS orders them
    val (x0, x1) = if (xmin < xmax) (xmin, xmax) else (xmax, xmin)
    val (y0, y1) = if (ymin < ymax) (ymin, ymax) else (ymax, ymin)
    if (!(x0 < x1 && y0 < y1)) write(envelope(xmin, ymin, xmax, ymax))
    else {
      val out = new Array[Byte](97)
      header(out, 3)
      putInt(out, 9, 1); putInt(out, 13, 5)
      // factory.toGeometry's ring: min corner, up, across, down, closed
      val xs = Array(x0, x0, x1, x1, x0)
      val ys = Array(y0, y1, y1, y0, y0)
      var i = 0
      while (i < 5) { putDouble(out, 17 + 16 * i, xs(i)); putDouble(out, 25 + 16 * i, ys(i)); i += 1 }
      out
    }
  }

  /** NDR byte, 2D type code with the SRID flag, SRID 0. */
  private def header(out: Array[Byte], tpe: Int): Unit = {
    out(0) = 1
    putInt(out, 1, tpe | EwkbSrid)
    putInt(out, 5, 0)
  }

  private def putInt(out: Array[Byte], at: Int, v: Int): Unit = {
    var i = 0
    while (i < 4) { out(at + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  private def putDouble(out: Array[Byte], at: Int, d: Double): Unit = {
    val v = java.lang.Double.doubleToLongBits(d)
    var i = 0
    while (i < 8) { out(at + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  /** Shape tags of [[bounds]]: an empty geometry; a 2D point with finite
    * coordinates; a 2D rectangle with finite corners that JTS's
    * `Polygon.isRectangle` accepts and whose ring visits four distinct
    * corners; anything else. */
  final val EmptyShape = 0
  final val PointShape = 1
  final val RectShape = 2
  final val OtherShape = 3

  /** The planar envelope of the (E)WKB geometry `bytes`, read from the
    * bytes: `read(bytes).getEnvelopeInternal`, as minX, minY, maxX, maxY
    * into `out` from `at`, and its shape tag. Either byte order, ISO or
    * EWKB Z/M, the SRID flag, nested collections. Nothing is written for
    * an empty geometry. A 2D little-endian point takes no allocation. */
  def bounds(bytes: Array[Byte], out: Array[Double], at: Int): Int = {
    // the probe's case first: a 2D NDR point, with or without SRID
    if (bytes.length >= 21 && bytes(0) == 1 && bytes(2) == 0 && bytes(3) == 0 &&
        bytes(1) == 1 && (bytes(4) == 0 || bytes(4) == 0x20)) {
      val p = if (bytes(4) == 0) 5 else 9
      if (bytes.length < p + 16) throw new IllegalArgumentException("truncated WKB point")
      val x = java.lang.Double.longBitsToDouble(WkbBounds.long(bytes, p, le = true))
      val y = java.lang.Double.longBitsToDouble(WkbBounds.long(bytes, p + 8, le = true))
      if (java.lang.Double.isNaN(x) || java.lang.Double.isNaN(y)) EmptyShape
      else {
        out(at) = x; out(at + 1) = y; out(at + 2) = x; out(at + 3) = y
        if (java.lang.Double.isInfinite(x) || java.lang.Double.isInfinite(y)) OtherShape
        else PointShape
      }
    } else new WkbBounds(bytes).top(out, at)
  }

  /** The general walk of [[bounds]]. It follows JTS's reader (a byte
    * order other than 0 or 1 keeps the current one; empty points are NaN)
    * and JTS's envelopes: a polygon's is its shell's, a collection's the
    * union of its non-null children's, each built by
    * `Envelope.expandToInclude`, NaN comparisons included. */
  private final class WkbBounds(b: Array[Byte]) {
    private var pos = 0
    private var le = false
    // the envelope of the geometry just read; null while maxX < minX
    private var minX, minY = 0.0
    private var maxX, maxY = -1.0
    private var empty = true
    private var rect = false
    private var point2d = false

    def top(out: Array[Double], at: Int): Int = {
      geometry()
      if (empty) EmptyShape
      else {
        out(at) = minX; out(at + 1) = minY; out(at + 2) = maxX; out(at + 3) = maxY
        val finite = java.lang.Double.isFinite(minX) && java.lang.Double.isFinite(minY) &&
          java.lang.Double.isFinite(maxX) && java.lang.Double.isFinite(maxY)
        if (!finite) OtherShape
        else if (point2d) PointShape
        else if (rect) RectShape
        else OtherShape
      }
    }

    private def int(): Int = {
      val v = WkbBounds.int(b, pos, le); pos += 4; v
    }
    private def double(): Double = {
      val v = java.lang.Double.longBitsToDouble(WkbBounds.long(b, pos, le)); pos += 8; v
    }

    private def setNull(): Unit = { minX = 0.0; minY = 0.0; maxX = -1.0; maxY = -1.0 }

    private def expand(x: Double, y: Double): Unit =
      if (maxX < minX) { minX = x; maxX = x; minY = y; maxY = y }
      else {
        if (x < minX) minX = x
        if (x > maxX) maxX = x
        if (y < minY) minY = y
        if (y > maxY) maxY = y
      }

    /** Reads `n` coordinates of `dim` ordinates into the envelope. */
    private def coords(n: Int, dim: Int): Unit = {
      var i = 0
      while (i < n) {
        val x = double(); val y = double()
        pos += 8 * (dim - 2)
        expand(x, y)
        i += 1
      }
    }

    private def count(): Int = {
      val n = int()
      if (n < 0) throw new IllegalArgumentException(s"negative WKB count $n")
      n
    }

    /** Reads one geometry at `pos` into the envelope and the flags. */
    private def geometry(): Unit = {
      b(pos) match {
        case 1 => le = true
        case 0 => le = false
        case _ =>
      }
      pos += 1
      val code = int()
      val iso = (code & 0xffff) / 1000
      val z = (code & 0x80000000) != 0 || iso == 1 || iso == 3
      val m = (code & 0x40000000) != 0 || iso == 2 || iso == 3
      if ((code & EwkbSrid) != 0) pos += 4
      val dim = 2 + (if (z) 1 else 0) + (if (m) 1 else 0)
      setNull()
      empty = true; rect = false; point2d = false
      (code & 0xffff) % 1000 match {
        case 1 =>
          val x = double(); val y = double()
          pos += 8 * (dim - 2)
          if (!java.lang.Double.isNaN(x) && !java.lang.Double.isNaN(y)) {
            expand(x, y); empty = false; point2d = dim == 2
          }
        case 2 =>
          val n = count()
          coords(n, dim)
          empty = n == 0
        case 3 =>
          val rings = count()
          if (rings > 0) {
            val n = count()
            val start = pos
            coords(n, dim)
            empty = n == 0
            rect = rings == 1 && n == 5 && dim == 2 && isRectangle(start)
            var r = 1
            while (r < rings) { val holes = count(); pos += 8 * dim * holes; r += 1 }
          }
        case 4 | 5 | 6 | 7 =>
          val n = count()
          var cMinX, cMinY = 0.0
          var cMaxX, cMaxY = -1.0
          var cEmpty = true
          var i = 0
          while (i < n) {
            geometry()
            if (!empty) cEmpty = false
            if (!(maxX < minX)) {
              if (cMaxX < cMinX) { cMinX = minX; cMinY = minY; cMaxX = maxX; cMaxY = maxY }
              else {
                if (minX < cMinX) cMinX = minX
                if (maxX > cMaxX) cMaxX = maxX
                if (minY < cMinY) cMinY = minY
                if (maxY > cMaxY) cMaxY = maxY
              }
            }
            i += 1
          }
          minX = cMinX; minY = cMinY; maxX = cMaxX; maxY = cMaxY
          empty = cEmpty; rect = false; point2d = false
        case t => throw new IllegalArgumentException(s"unknown WKB geometry type $t")
      }
    }

    /** `Polygon.isRectangle` over the 2D ring of 5 points at `start`, with
      * the envelope just read: every vertex on a corner, each edge moving
      * along one axis; and besides, a closed ring over four distinct
      * corners, so the rectangle has width and height. */
    private def isRectangle(start: Int): Boolean = {
      val xs = new Array[Double](5)
      val ys = new Array[Double](5)
      var i = 0
      while (i < 5) {
        xs(i) = java.lang.Double.longBitsToDouble(WkbBounds.long(b, start + 16 * i, le))
        ys(i) = java.lang.Double.longBitsToDouble(WkbBounds.long(b, start + 16 * i + 8, le))
        if (!(xs(i) == minX || xs(i) == maxX) || !(ys(i) == minY || ys(i) == maxY)) return false
        if (i > 0 && (xs(i) != xs(i - 1)) == (ys(i) != ys(i - 1))) return false
        i += 1
      }
      minX < maxX && minY < maxY && xs(4) == xs(0) && ys(4) == ys(0) &&
        xs(2) != xs(0) && ys(2) != ys(0) && (xs(1) != xs(3) || ys(1) != ys(3))
    }
  }

  private object WkbBounds {
    def int(b: Array[Byte], at: Int, le: Boolean): Int = {
      if (at + 4 > b.length) throw new IllegalArgumentException("truncated WKB")
      val v = (b(at) & 0xff) | ((b(at + 1) & 0xff) << 8) | ((b(at + 2) & 0xff) << 16) |
        ((b(at + 3) & 0xff) << 24)
      if (le) v else Integer.reverseBytes(v)
    }
    def long(b: Array[Byte], at: Int, le: Boolean): Long = {
      if (at + 8 > b.length) throw new IllegalArgumentException("truncated WKB")
      val v = org.apache.spark.unsafe.Platform.getLong(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + at)
      if (le == NativeLE) v else java.lang.Long.reverseBytes(v)
    }
    private val NativeLE = java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN
  }

  def setSrid(g: Geometry, srid: Int): Geometry = {
    val c = g.copy(); c.setSRID(srid); c
  }

  /** GeoJSON reader via Jackson (ships with Spark) — reference:
    * ST_GeomFromGeoJSON. Supports all seven geometry types. */
  def fromGeoJson(json: String): Geometry = {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val root = new ObjectMapper().readTree(json)
    def coord(n: JsonNode): Coordinate =
      if (n.size() > 2) new Coordinate(n.get(0).asDouble, n.get(1).asDouble, n.get(2).asDouble)
      else new Coordinate(n.get(0).asDouble, n.get(1).asDouble)
    def coords(n: JsonNode): Array[Coordinate] =
      (0 until n.size()).map(i => coord(n.get(i))).toArray
    def ring(n: JsonNode): LinearRing = factory.createLinearRing(coords(n))
    def polygon(n: JsonNode): Polygon = {
      val shell = ring(n.get(0))
      val holes = (1 until n.size()).map(i => ring(n.get(i))).toArray
      factory.createPolygon(shell, holes)
    }
    def build(node: JsonNode): Geometry = {
      val c = node.get("coordinates")
      node.get("type").asText match {
        case "Point" =>
          if (c.size() == 0) factory.createPoint() else factory.createPoint(coord(c))
        case "LineString" => factory.createLineString(coords(c))
        case "Polygon" =>
          if (c.size() == 0) factory.createPolygon() else polygon(c)
        case "MultiPoint" =>
          factory.createMultiPoint(
            (0 until c.size()).map(i => factory.createPoint(coord(c.get(i)))).toArray)
        case "MultiLineString" =>
          factory.createMultiLineString(
            (0 until c.size()).map(i => factory.createLineString(coords(c.get(i)))).toArray)
        case "MultiPolygon" =>
          factory.createMultiPolygon(
            (0 until c.size()).map(i => polygon(c.get(i))).toArray)
        case "GeometryCollection" =>
          val gs = node.get("geometries")
          factory.createGeometryCollection(
            (0 until gs.size()).map(i => build(gs.get(i))).toArray)
        case other => throw new IllegalArgumentException(s"unknown GeoJSON type $other")
      }
    }
    build(root)
  }

  /** Minimal GeoJSON writer (geometry only) — reference: ST_AsGeoJSON in
    * rust/sedona-geo/src/register.rs. */
  def toGeoJson(g: Geometry): String = {
    def fmtNum(d: Double): String =
      if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    def coord(c: Coordinate): String = s"[${fmtNum(c.x)},${fmtNum(c.y)}]"
    def coords(cs: Array[Coordinate]): String = cs.map(coord).mkString("[", ",", "]")
    g match {
      case p: Point => s"""{"type":"Point","coordinates":${coord(p.getCoordinate)}}"""
      case l: LineString => s"""{"type":"LineString","coordinates":${coords(l.getCoordinates)}}"""
      case p: Polygon =>
        val rings = (Seq(p.getExteriorRing) ++
          (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
          .map(r => coords(r.getCoordinates)).mkString("[", ",", "]")
        s"""{"type":"Polygon","coordinates":$rings}"""
      case m: MultiPoint =>
        val cs = (0 until m.getNumGeometries).map(i => coord(m.getGeometryN(i).getCoordinate))
        s"""{"type":"MultiPoint","coordinates":${cs.mkString("[", ",", "]")}}"""
      case m: MultiLineString =>
        val ls = (0 until m.getNumGeometries)
          .map(i => coords(m.getGeometryN(i).getCoordinates))
        s"""{"type":"MultiLineString","coordinates":${ls.mkString("[", ",", "]")}}"""
      case m: MultiPolygon =>
        val ps = (0 until m.getNumGeometries).map { i =>
          val p = m.getGeometryN(i).asInstanceOf[Polygon]
          (Seq(p.getExteriorRing) ++
            (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
            .map(r => coords(r.getCoordinates)).mkString("[", ",", "]")
        }
        s"""{"type":"MultiPolygon","coordinates":${ps.mkString("[", ",", "]")}}"""
      case gc: GeometryCollection =>
        val gs = (0 until gc.getNumGeometries).map(i => toGeoJson(gc.getGeometryN(i)))
        s"""{"type":"GeometryCollection","geometries":${gs.mkString("[", ",", "]")}}"""
    }
  }
}
