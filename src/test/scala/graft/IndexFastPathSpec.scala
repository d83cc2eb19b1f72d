package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types.BinaryType
import org.locationtech.jts.geom.{Geometry, Point, Polygon}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Spherical
import graft.geom.GeomIO
import graft.joins.{BroadcastIndexSpatialJoinExec, KnnJoinExec, PackedIndex}
import graft.joins.BroadcastIndexSpatialJoinExec._

/** Seeded differential checks of the index joins' fast paths against
  * JTS: WKB bounds, the direct constructors, the coordinate refine, the
  * packed index's query and the KNN radius. Fixed seeds; no Spark
  * session. */
class IndexFastPathSpec extends AnyFunSuite {

  // ---- a raw (E)WKB writer: every byte order, type code style and dim ----

  private final class Wkb(rnd: java.util.Random) {
    private val out = new java.io.ByteArrayOutputStream()
    private var le = true
    def bytes: Array[Byte] = out.toByteArray
    private def int(v: Int): Unit = {
      val w = if (le) Integer.reverseBytes(v) else v
      (0 until 4).foreach(i => out.write(w >>> (24 - 8 * i)))
    }
    def double(d: Double): Unit = {
      val b = java.lang.Double.doubleToRawLongBits(d)
      val w = if (le) java.lang.Long.reverseBytes(b) else b
      (0 until 8).foreach(i => out.write((w >>> (56 - 8 * i)).toInt))
    }
    /** A header for `tpe` with dims `z`, `m`: ISO codes or EWKB flags,
      * with or without an SRID. */
    def header(tpe: Int, z: Boolean, m: Boolean): Unit = {
      le = rnd.nextBoolean()
      out.write(if (le) 1 else 0)
      val iso = rnd.nextBoolean()
      val srid = !iso && rnd.nextBoolean()
      val code =
        if (iso) tpe + (if (z && m) 3000 else if (z) 1000 else if (m) 2000 else 0)
        else tpe | (if (z) 0x80000000 else 0) | (if (m) 0x40000000 else 0) |
          (if (srid) 0x20000000 else 0)
      int(code)
      if (srid) int(4326)
    }
    def count(n: Int): Unit = int(n)
    def coord(x: Double, y: Double, dims: Int): Unit = {
      double(x); double(y)
      (2 until dims).foreach(_ => double(rnd.nextInt(5).toDouble))
    }
  }

  private def ord(rnd: java.util.Random): Double = rnd.nextInt(100) match {
    case 0 => Double.NaN
    case 1 => -0.0
    case 2 => Double.PositiveInfinity
    case 3 => 1e300
    case n if n < 50 => (rnd.nextInt(21) - 10).toDouble
    case _ => rnd.nextDouble() * 200 - 100
  }

  /** Writes one random geometry of type `tpe` (0: any) at `depth`. */
  private def geometry(w: Wkb, rnd: java.util.Random, depth: Int, tpe: Int = 0): Unit = {
    val t = if (tpe != 0) tpe else if (depth >= 2) 1 + rnd.nextInt(3) else 1 + rnd.nextInt(7)
    val (z, m) = (rnd.nextInt(4) == 0, rnd.nextInt(4) == 0)
    val dims = 2 + (if (z) 1 else 0) + (if (m) 1 else 0)
    w.header(t, z, m)
    t match {
      case 1 =>
        if (rnd.nextInt(8) == 0) w.coord(Double.NaN, Double.NaN, dims)
        else w.coord(ord(rnd), ord(rnd), dims)
      case 2 =>
        val n = if (rnd.nextInt(6) == 0) 0 else 2 + rnd.nextInt(5)
        w.count(n)
        (0 until n).foreach(_ => w.coord(ord(rnd), ord(rnd), dims))
      case 3 =>
        val rings = if (rnd.nextInt(6) == 0) 0 else 1 + rnd.nextInt(2)
        w.count(rings)
        (0 until rings).foreach { _ =>
          val ring = if (rnd.nextBoolean()) rectRing(rnd) else randomRing(rnd)
          w.count(ring.length)
          ring.foreach { case (x, y) => w.coord(x, y, dims) }
        }
      case _ =>
        val n = if (rnd.nextInt(5) == 0) 0 else 1 + rnd.nextInt(3)
        w.count(n)
        val child = t match { case 4 => 1; case 5 => 2; case 6 => 3; case _ => 0 }
        (0 until n).foreach(_ => geometry(w, rnd, depth + 1, child))
    }
  }

  /** A closed 5-point ring over rectangle corners: proper, rotated or
    * reversed, or one of the degenerate rings `isRectangle` accepts. */
  private def rectRing(rnd: java.util.Random): Array[(Double, Double)] = {
    val x0 = (rnd.nextInt(21) - 10).toDouble
    val y0 = (rnd.nextInt(21) - 10).toDouble
    val x1 = x0 + rnd.nextInt(3)
    val y1 = y0 + rnd.nextInt(3)
    val corners = Array((x0, y0), (x0, y1), (x1, y1), (x1, y0))
    rnd.nextInt(4) match {
      case 0 => Array((x0, y0), (x0, y1), (x1, y1), (x0, y1), (x0, y0)) // back and forth
      case 1 => Array((x0, y0), (x0, y1), (x0, y0), (x0, y1), (x0, y0))
      case _ =>
        val s = rnd.nextInt(4)
        val seq = (0 until 4).map(i => corners((s + i) % 4))
        val ring = if (rnd.nextBoolean()) seq else seq.reverse
        (ring :+ ring.head).toArray
    }
  }

  private def randomRing(rnd: java.util.Random): Array[(Double, Double)] = {
    val n = 3 + rnd.nextInt(4)
    val pts = Array.fill(n)((ord(rnd), ord(rnd)))
    pts :+ pts.head
  }

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  test("GeomIO.bounds is JTS's envelope over every type, Z/M, SRID, byte order and empties") {
    val rnd = new java.util.Random(20261019L)
    val out = new Array[Double](6)
    var (checked, points, rects, empties) = (0, 0, 0, 0)
    (0 until 20000).foreach { _ =>
      val w = new Wkb(rnd)
      geometry(w, rnd, 0)
      val b = w.bytes
      val g = scala.util.Try(GeomIO.read(b)).toOption
      g.foreach { g =>
        checked += 1
        val hint = GeomIO.writeWkt(g) + " " + b.map("%02x".format(_)).mkString
        val tag = try GeomIO.bounds(b, out, 2) catch { case e: Exception => fail(hint, e) }
        if (g.isEmpty) { assert(tag == GeomIO.EmptyShape, hint); empties += 1 }
        else {
          val e = g.getEnvelopeInternal
          assert(same(out(2), e.getMinX) && same(out(3), e.getMinY) &&
            same(out(4), e.getMaxX) && same(out(5), e.getMaxY),
            s"$hint: ${out.drop(2).mkString(",")} vs $e")
          val twoD = !GeomIO.hasZ(g) && !GeomIO.hasM(g)
          val finite = Seq(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
            .forall(java.lang.Double.isFinite)
          g match {
            case _: Point =>
              assert((tag == GeomIO.PointShape) == (twoD && finite), hint)
              if (tag == GeomIO.PointShape) points += 1
            case p: Polygon if tag == GeomIO.RectShape =>
              // a rectangle by JTS's rule, with its envelope's area
              assert(twoD && p.isRectangle && p.getArea == e.getArea && e.getArea > 0, hint)
              rects += 1
            case p: Polygon =>
              assert(tag == GeomIO.OtherShape, hint)
              if (twoD && finite && p.getNumInteriorRing == 0 && p.isRectangle)
                assert(p.getArea != e.getArea || e.getArea == 0, s"missed rectangle $hint")
            case _ => assert(tag == GeomIO.OtherShape, hint)
          }
        }
      }
    }
    assert(checked > 15000 && points > 500 && rects > 50 && empties > 500,
      s"coverage: $checked checked, $points points, $rects rectangles, $empties empties")
  }

  test("direct constructors write GeomIO.write's bytes, NaN, -0.0 and degenerate envelopes too") {
    val rnd = new java.util.Random(7L)
    def v(): Double = rnd.nextInt(8) match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 => 0.0
      case 3 => Double.NegativeInfinity
      case 4 => java.lang.Double.longBitsToDouble(0x7ff8000000000123L) // a non-canonical NaN
      case _ => (rnd.nextInt(7) - 3).toDouble
    }
    (0 until 5000).foreach { _ =>
      val (x, y) = (v(), v())
      assert(GeomIO.pointBytes(x, y).sameElements(GeomIO.write(GeomIO.point(x, y))), s"($x, $y)")
      val (a, b, c, d) = (v(), v(), v(), v())
      // JTS rejects some NaN envelopes (an unclosed ring): so must the writer
      val direct = scala.util.Try(GeomIO.envelopeBytes(a, b, c, d).toSeq)
      val jts = scala.util.Try(GeomIO.write(GeomIO.envelope(a, b, c, d)).toSeq)
      assert(direct.toOption == jts.toOption, s"($a, $b, $c, $d)")
    }
  }

  private def shapeOf(g: Geometry): Shape = {
    val s = new Shape(BoundReference(0, BinaryType, nullable = true))
    s.set(new GenericInternalRow(Array[Any](GeomIO.write(g))))
    s
  }

  test("coordinate refine is JTS's for points and rectangles on edges, corners and distance ties") {
    val rnd = new java.util.Random(11L)
    def c(): Double = (rnd.nextInt(9) - 4) * 0.5
    def shape(): Geometry =
      if (rnd.nextBoolean()) GeomIO.point(c(), c())
      else {
        val (x, y) = (c(), c())
        GeomIO.envelope(x, y, x + 0.5 * (1 + rnd.nextInt(4)), y + 0.5 * (1 + rnd.nextInt(4)))
      }
    var (fast, hits) = (0, 0)
    (0 until 20000).foreach { _ =>
      val (sg, bg) = (shape(), shape())
      val (s, b) = (shapeOf(sg), shapeOf(bg))
      val got = refineShapes(IntersectsMode, s.tag, s.bound, 0, b.tag, b.bound, 0, 0.0)
      assert(got >= 0)
      val direct = refineDirect(sg, "st_intersects", bg)
      val prepared = refine(PreparedGeometryFactory.prepare(sg), "st_intersects", bg)
      assert((got == 1) == direct && direct == prepared, s"$sg ∩ $bg")
      fast += 1
      if (direct) hits += 1
      // distance: lattice points, the exact distance, one ulp either side
      val (p, q) = (GeomIO.point(c(), c()), GeomIO.point(c(), c()))
      val (ps, qs) = (shapeOf(p), shapeOf(q))
      val exact = p.distance(q)
      Seq(exact, Math.nextDown(exact), Math.nextUp(exact), rnd.nextDouble() * 4).foreach { d =>
        val r = refineShapes(DWithinMode, ps.tag, ps.bound, 0, qs.tag, qs.bound, 0, d)
        assert((r == 1) == p.isWithinDistance(q, d), s"$p $q $d")
      }
      assert(pointDistance(ps.bound(0), ps.bound(1), qs.bound(0), qs.bound(1)) == exact)
      // the sphere: lon/lat points at the haversine and beside it
      val (a, bb) = (GeomIO.point(c() * 40, c() * 20), GeomIO.point(c() * 40, c() * 20))
      val (as, bs) = (shapeOf(a), shapeOf(bb))
      val h = Spherical.haversine(a.getCoordinate.x, a.getCoordinate.y,
        bb.getCoordinate.x, bb.getCoordinate.y)
      Seq(h, Math.nextDown(h), Math.nextUp(h)).foreach { d =>
        val r = refineShapes(DWithinSphereMode, as.tag, as.bound, 0, bs.tag, bs.bound, 0, d)
        assert((r == 1) == refineSphere(a, "st_dwithinsphere", bb, d), s"$a $bb $d")
      }
    }
    // pairs the fast path must leave to JTS
    val line = GeomIO.readWkt("LINESTRING (0 0, 1 1)")
    val pt = shapeOf(GeomIO.point(0, 0))
    val ln = shapeOf(line)
    assert(refineShapes(IntersectsMode, pt.tag, pt.bound, 0, ln.tag, ln.bound, 0, 0) == -1)
    val box = shapeOf(GeomIO.envelope(0, 0, 1, 1))
    assert(refineShapes(DWithinMode, pt.tag, pt.bound, 0, box.tag, box.bound, 0, 1) == -1)
    assert(refineShapes(OtherMode, pt.tag, pt.bound, 0, pt.tag, pt.bound, 0, 0) == -1)
    assert(hits > 2000 && hits < fast - 2000, s"$hits of $fast intersect")
  }

  /** A build index over `geoms` through the join's own build. */
  private def index(geoms: Seq[Geometry], spherical: Boolean): BuildIndex =
    buildIndex(geoms.iterator.map(g => new GenericInternalRow(Array[Any](GeomIO.write(g))): InternalRow),
      BoundReference(0, BinaryType, nullable = true), spherical)

  test("PackedIndex.query is the brute-force closed-box set, planar and at the sphere's shifts") {
    val rnd = new java.util.Random(3L)
    Seq(0, 1, 15, 16, 17, 300, 3000).foreach { n =>
      val bounds = Array.fill(4 * n)(0.0)
      (0 until n).foreach { i =>
        val (x, y) = (rnd.nextInt(200) - 100.0, rnd.nextInt(200) - 100.0)
        bounds(4 * i) = x; bounds(4 * i + 1) = y
        bounds(4 * i + 2) = x + rnd.nextInt(3); bounds(4 * i + 3) = y + rnd.nextInt(3)
      }
      val tree = PackedIndex(bounds, Array.range(0, n))
      (0 until 300).foreach { _ =>
        val (x, y) = (rnd.nextInt(220) - 110.0, rnd.nextInt(220) - 110.0)
        val (x1, y1) = (x + rnd.nextInt(30), y + rnd.nextInt(30))
        val got = scala.collection.mutable.ArrayBuffer[Int]()
        tree.query(x, y, x1, y1, i => got += i)
        val want = (0 until n).filter(i => bounds(4 * i) <= x1 && x <= bounds(4 * i + 2) &&
          bounds(4 * i + 1) <= y1 && y <= bounds(4 * i + 3))
        assert(got.sorted == want, s"n=$n box ($x $y, $x1 $y1)")
      }
    }
    // the sphere: boxes and points across the antimeridian and a polar cap
    val geoms = (0 until 400).map { _ =>
      val (x, y) = (rnd.nextInt(360) - 180.0, rnd.nextInt(160) - 80.0)
      rnd.nextInt(3) match {
        case 0 => GeomIO.point(x, y)
        case 1 => GeomIO.envelope(x, y, x + rnd.nextInt(20), y + rnd.nextInt(10))
        case _ => GeomIO.readWkt(s"LINESTRING ($x $y, ${x + 200} ${y / 2})")
      }
    } :+ GeomIO.readWkt("POLYGON ((-180 80, -60 80, 60 80, 180 80, -180 80))")
    val sphere = index(geoms, spherical = true)
    val e = geoms.map(Spherical.latLngBound)
    (0 until 500).foreach { _ =>
      val (x, y) = (rnd.nextInt(400) - 200.0, rnd.nextInt(170) - 85.0)
      val q = Spherical.radiusBound(new org.locationtech.jts.geom.Envelope(x, x, y, y),
        rnd.nextInt(4) * 300000.0)
      val qa = Array(q.getMinX, q.getMinY, q.getMaxX, q.getMaxY)
      val got = scala.collection.mutable.ArrayBuffer[Int]()
      sphere.querySphere(qa, i => got += i)
      val want = e.indices.filter { i =>
        val lat = e(i).getMinY <= q.getMaxY && q.getMinY <= e(i).getMaxY
        lat && (e(i).getWidth >= 180.0 || q.getWidth >= 180.0 || Seq(0.0, 360.0, -360.0).exists(s =>
          e(i).getMinX <= q.getMaxX + s && q.getMinX + s <= e(i).getMaxX))
      }
      assert(got.sorted == want, s"probe $q")
    }
  }

  test("the packed KNN radius is never below JTS's exact kth distance") {
    val rnd = new java.util.Random(5L)
    def c(): Double = rnd.nextInt(41) - 20.0 + (if (rnd.nextBoolean()) 0.0 else rnd.nextDouble())
    Seq(true, false).foreach { allPoints =>
      val objs = (0 until 500).map { _ =>
        if (allPoints || rnd.nextBoolean()) GeomIO.point(c(), c())
        else if (rnd.nextBoolean()) { val (x, y) = (c(), c()); GeomIO.envelope(x, y, x + 1, y + 2) }
        else GeomIO.readWkt(s"LINESTRING (${c()} ${c()}, ${c()} ${c()})")
      }
      val rows = objs.map(g => new GenericInternalRow(Array[Any](GeomIO.write(g))): InternalRow)
      val side = KnnJoinExec.ObjectSide(Seq(BinaryType), BoundReference(0, BinaryType, nullable = true),
        None, spheroid = false)
      val search = new KnnJoinExec.Search(side.index(rows.iterator, copy = false))
      (0 until 300).foreach { i =>
        val qg =
          if (i % 3 != 0) GeomIO.point(c(), c())
          else GeomIO.readWkt(s"LINESTRING (${c()} ${c()}, ${c()} ${c()})")
        val k = 1 + rnd.nextInt(8)
        val exact = objs.map(qg.distance).sorted.apply(k - 1)
        val r = search.kthDistance(shapeOf(qg), k)
        assert(r >= exact, s"$qg k=$k: $r < $exact")
        assert(r <= exact * (1 + 1e-12) + 1e-300, s"$qg k=$k: $r loose against $exact")
      }
    }
  }
}
