package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import org.locationtech.jts.geom.{Coordinate, Geometry}
import graft.geom.GeomIO
import graft.functions.{CrsTransform, SpaceCurve}

/** Property layer (SURVEY.md §5): WKB/WKT round-trips, predicate
  * symmetry/inversion (the reference's invert table,
  * rust/sedona-query-planner/src/spatial_predicate.rs:223-240), transform
  * round-trips, curve monotonicity — over ScalaCheck-generated geometry.
  */
class GeomPropertySpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val coord: Gen[Coordinate] = for {
    x <- Gen.chooseNum(-1000.0, 1000.0)
    y <- Gen.chooseNum(-1000.0, 1000.0)
  } yield new Coordinate(math.rint(x * 100) / 100, math.rint(y * 100) / 100)

  private val point: Gen[Geometry] = coord.map(GeomIO.factory.createPoint)

  private val line: Gen[Geometry] = for {
    n <- Gen.chooseNum(2, 8)
    cs <- Gen.listOfN(n, coord)
  } yield GeomIO.factory.createLineString(cs.toArray)

  private val box: Gen[Geometry] = for {
    c <- coord
    w <- Gen.chooseNum(0.5, 50.0)
    h <- Gen.chooseNum(0.5, 50.0)
  } yield GeomIO.envelope(c.x, c.y, c.x + w, c.y + h)

  private val geometry: Gen[Geometry] = Gen.oneOf(point, line, box)

  test("WKB round-trip is identity") {
    check(Prop.forAll(geometry) { g =>
      GeomIO.read(GeomIO.write(g)).equalsExact(g)
    })
  }

  test("WKT round-trip preserves coordinates") {
    // coordinate-wise compare: equalsTopo would run relate(), which can
    // throw on degenerate self-intersecting random lines
    check(Prop.forAll(geometry) { g =>
      GeomIO.readWkt(GeomIO.writeWkt(g)).equalsExact(g, 1e-9)
    })
  }

  test("predicate inversion: within(a,b) == contains(b,a), coveredby == covers") {
    check(Prop.forAll(box, box) { (a, b) =>
      a.within(b) == b.contains(a) &&
        a.coveredBy(b) == b.covers(a) &&
        a.intersects(b) == b.intersects(a) &&
        a.touches(b) == b.touches(a) &&
        a.intersects(b) == !a.disjoint(b)
    })
  }

  test("distance is symmetric and consistent with dwithin") {
    check(Prop.forAll(geometry, geometry) { (a, b) =>
      val d = a.distance(b)
      math.abs(d - b.distance(a)) < 1e-9 &&
        a.isWithinDistance(b, d + 1e-9)
    })
  }

  test("buffer grows area; envelope contains geometry") {
    check(Prop.forAll(box, Gen.chooseNum(0.1, 10.0)) { (g, r) =>
      g.buffer(r).getArea > g.getArea &&
        g.getEnvelope.covers(g)
    })
  }

  test("union area <= sum of areas; intersection <= min area") {
    check(Prop.forAll(box, box) { (a, b) =>
      val u = a.union(b).getArea
      val i = a.intersection(b).getArea
      u <= a.getArea + b.getArea + 1e-9 &&
        i <= math.min(a.getArea, b.getArea) + 1e-9 &&
        math.abs(u + i - (a.getArea + b.getArea)) < 1e-6
    })
  }

  test("mercator transform round-trips") {
    val lonlat = for {
      lon <- Gen.chooseNum(-179.0, 179.0)
      lat <- Gen.chooseNum(-84.0, 84.0)
    } yield (lon, lat)
    check(Prop.forAll(lonlat) { case (lon, lat) =>
      val p = GeomIO.point(lon, lat)
      val rt = CrsTransform.transform(
        CrsTransform.transform(p, "EPSG:4326", "EPSG:3857"),
        "EPSG:3857", "EPSG:4326").getCoordinate
      math.abs(rt.x - lon) < 1e-9 && math.abs(rt.y - lat) < 1e-9
    })
  }

  test("hilbert index stays within bounds and matches morton cell count") {
    check(Prop.forAll(Gen.chooseNum(0, 65535), Gen.chooseNum(0, 65535)) { (x, y) =>
      val h = SpaceCurve.hilbertIndex(x, y)
      val m = SpaceCurve.mortonIndex(x, y)
      h >= 0 && h < (1L << 32) && m >= 0 && m < (1L << 32)
    })
  }

  test("FlatBuffers wire: random feature tables roundtrip") {
    // fuzz the hand-rolled builder/reader pair directly: random property
    // bytes and geometry envelopes through a size-prefixed Feature table
    import graft.sources.fgb.FlatBuf
    val bytesGen = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    val strGen = Gen.oneOf(Gen.alphaNumStr, Gen.const(""),
      Gen.const("géo-ツ-€"), Gen.asciiPrintableStr)
    check(Prop.forAll(bytesGen, strGen, Gen.listOf(Gen.chooseNum(-1e12, 1e12)),
        Gen.listOf(Gen.chooseNum(Int.MinValue, Int.MaxValue))) {
      (props, s, doubles, uints) =>
        val b = new FlatBuf.Builder(16) // tiny initial => exercises grow()
        val pv = if (props.nonEmpty) b.createByteVector(props) else 0
        val sv = b.createString(s)
        val dv = b.createDoubleVector(doubles.toArray)
        val uv = b.createUIntVector(uints.toArray)
        b.startTable()
        b.slotRef(0, pv); b.slotRef(1, sv); b.slotRef(2, dv); b.slotRef(3, uv)
        b.slotByte(6, 5)
        val buf = b.finishSizePrefixed(b.endTable())
        val (t, consumed) = FlatBuf.rootSizePrefixed(buf, 0)
        val backProps = Option(t.getByteVector(0)).getOrElse(Array.empty[Byte])
        val backD = Option(t.getDoubleVector(2)).getOrElse(Array.empty[Double])
        val backU = Option(t.getUIntVector(3)).getOrElse(Array.empty[Int])
        consumed == buf.length &&
          java.util.Arrays.equals(backProps, props) &&
          t.getString(1) == s &&
          backD.toSeq == doubles &&
          backU.toSeq == uints &&
          t.getByte(6, 0) == 5
    })
  }

  test("wrap-aware lng/lat rect covers every vertex; span is minimal-ish") {
    import graft.functions.Spherical
    val lonlat: Gen[Coordinate] = for {
      lon <- Gen.chooseNum(-179.99, 179.99)
      lat <- Gen.chooseNum(-85.0, 85.0)
    } yield new Coordinate(lon, lat)
    // lines with modest per-edge spans (short-arc contract)
    val sphLine: Gen[Geometry] = for {
      c0 <- lonlat
      n <- Gen.chooseNum(2, 6)
      steps <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(-60.0, 60.0), Gen.chooseNum(-20.0, 20.0)))
    } yield {
      var lon = c0.x; var lat = c0.y
      val cs = scala.collection.mutable.ArrayBuffer(new Coordinate(lon, lat))
      steps.foreach { case (dl, dp) =>
        lon = ((lon + dl + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
        lat = math.max(-85.0, math.min(85.0, lat + dp))
        cs += new Coordinate(lon, lat)
      }
      GeomIO.factory.createLineString(cs.toArray)
    }
    def containsLon(lo: Double, hi: Double, l: Double): Boolean =
      if (lo <= hi) l >= lo - 1e-9 && l <= hi + 1e-9
      else l >= lo - 1e-9 || l <= hi + 1e-9
    check(Prop.forAll(sphLine) { g =>
      Spherical.lngLatRect(g) match {
        case None => g.isEmpty
        case Some((lo, latLo, hi, latHi)) =>
          g.getCoordinates.forall(c =>
            containsLon(lo, hi, c.x) && c.y >= latLo - 1e-9 && c.y <= latHi + 1e-9)
      }
    })
  }

  test("spherical max distance: >= min distance, symmetric, bounded by pi*R") {
    import graft.functions.Spherical
    val lonlat: Gen[Geometry] = for {
      lon <- Gen.chooseNum(-179.0, 179.0)
      lat <- Gen.chooseNum(-85.0, 85.0)
    } yield GeomIO.point(lon, lat)
    def maxD(a: Geometry, b: Geometry): Double = {
      val c = b.getCoordinate
      val l = ((c.x + 180.0 + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      val anti = GeomIO.point(l, -c.y)
      math.Pi * Spherical.R - Spherical.distance(a, anti).asInstanceOf[Double]
    }
    check(Prop.forAll(lonlat, lonlat) { (a, b) =>
      val mx = maxD(a, b)
      val mn = Spherical.distance(a, b).asInstanceOf[Double]
      math.abs(mx - maxD(b, a)) < 1e-6 &&
        mx >= mn - 1e-6 && mx <= math.Pi * Spherical.R + 1e-6
    })
  }

  test("spherical winding containment: pole caps, dateline rings, holes, antipodes") {
    import graft.functions.Spherical
    def poly(wkt: String): Geometry = GeomIO.readWkt(wkt)
    val northCap = poly("POLYGON ((0 73, 30 73, 60 73, 90 73, 120 73, 150 73, 180 73, -150 73, -120 73, -90 73, -60 73, -30 73, 0 73))")
    // same ring drawn the other way (CW): interior is still the cap
    val northCapCw = poly("POLYGON ((0 73, -30 73, -60 73, -90 73, -120 73, -150 73, 180 73, 150 73, 120 73, 90 73, 60 73, 30 73, 0 73))")
    val southCap = poly("POLYGON ((0 -73, 30 -73, 60 -73, 90 -73, 120 -73, 150 -73, 180 -73, -150 -73, -120 -73, -90 -73, -60 -73, -30 -73, 0 -73))")
    for (cap <- Seq(northCap, northCapCw)) {
      assert(Spherical.coversPoint(cap, 12.0, 90.0))
      assert(Spherical.coversPoint(cap, -170.0, 80.0))
      assert(!Spherical.coversPoint(cap, 10.0, 60.0))
      assert(!Spherical.coversPoint(cap, 10.0, -90.0)) // antipodal cap excluded
      assert(!Spherical.coversPoint(cap, -170.0, -80.0))
    }
    assert(Spherical.coversPoint(southCap, 45.0, -90.0))
    assert(!Spherical.coversPoint(southCap, 45.0, 90.0))
    // dateline-crossing quad: short-arc edges span lon [179, -179]
    val dlQuad = poly("POLYGON ((179 10, -179 10, -179 20, 179 20, 179 10))")
    assert(Spherical.coversPoint(dlQuad, 180.0, 15.0))
    assert(Spherical.coversPoint(dlQuad, -179.5, 12.0))
    assert(Spherical.coversPoint(dlQuad, 179.5, 18.0))
    assert(!Spherical.coversPoint(dlQuad, 178.0, 15.0))
    assert(!Spherical.coversPoint(dlQuad, 0.0, 15.0))
    assert(!Spherical.coversPoint(dlQuad, -178.0, 15.0))
    // hole subtracts
    val holed = poly("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    assert(Spherical.coversPoint(holed, 2.0, 2.0))
    assert(!Spherical.coversPoint(holed, 5.0, 5.0))
    assert(!Spherical.coversPoint(holed, 15.0, 5.0))
    // point exactly antipodal to a ring vertex: the azimuth degeneracy
    // must not misclassify (regression: lattice data hits this exactly)
    val quad0 = poly("POLYGON ((57 19, 57 24, 62 24, 62 19, 57 19))")
    assert(!Spherical.coversPoint(quad0, -118.0, -19.0))
    assert(!Spherical.coversPoint(quad0, -123.0, -24.0))
    assert(Spherical.coversPoint(quad0, 59.0, 21.0))
    // distance reaches 0 through containment for cap and dateline cases
    assert(Spherical.distance(northCap, GeomIO.point(33.0, 88.0)) == 0.0)
    assert(Spherical.distance(dlQuad, GeomIO.point(-179.9, 15.0)) == 0.0)
    assert(Spherical.distance(GeomIO.point(179.9, 15.0), dlQuad) == 0.0)
    // a far point keeps a positive distance
    assert(Spherical.distance(northCap, GeomIO.point(0.0, 0.0)).asInstanceOf[Double] > 1e6)
    // polar bounds widen: cap's grid cover reaches the pole band
    val env = Spherical.latLngBound(northCap)
    assert(env.getMaxY == 90.0)
    Spherical.lngLatRect(northCap) match {
      case Some((lo, _, hi, latHi)) =>
        assert(latHi == 90.0); assert(lo == -180.0 && hi == 180.0)
      case None => fail("rect expected")
    }
  }

  test("spherical overlay handles dateline-crossing and pole-covering inputs") {
    import graft.functions.Spherical
    import org.locationtech.jts.operation.overlayng.OverlayNG._
    def poly(wkt: String) = GeomIO.readWkt(wkt)
    def area(g: Geometry): Double = Spherical.area(g).asInstanceOf[Double]
    // dateline quads with partial overlap (short-arc edges)
    val qa = poly("POLYGON ((179 10, -179 10, -179 20, 179 20, 179 10))")
    val qb = poly("POLYGON ((179.5 12, -178.5 12, -178.5 22, 179.5 22, 179.5 12))")
    val inter = Spherical.overlay(qa, qb, INTERSECTION)
    val union = Spherical.overlay(qa, qb, UNION)
    assert(!inter.isEmpty && !union.isEmpty)
    // inclusion-exclusion on spherical areas (1e-3 relative: densification)
    val aA = area(qa); val aB = area(qb)
    assert(math.abs(area(inter) + area(union) - (aA + aB)) < 1e-3 * (aA + aB))
    assert(area(inter) < math.min(aA, aB))
    assert(Spherical.coversPoint(inter, 180.0, 15.0))
    assert(!Spherical.coversPoint(inter, -178.8, 15.0)) // in B only
    assert(!Spherical.coversPoint(inter, 180.0, 21.0)) // in B only (lat)
    assert(Spherical.coversPoint(union, -178.7, 21.0))
    // nested polar caps: the 75-cap lies strictly inside the 71-cap
    val capA = poly("POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, -150 71, -120 71, -90 71, -60 71, -30 71, 0 71))")
    val capB = poly("POLYGON ((0 75, 30 75, 60 75, 90 75, 120 75, 150 75, 180 75, -150 75, -120 75, -90 75, -60 75, -30 75, 0 75))")
    val ci = Spherical.overlay(capA, capB, INTERSECTION)
    val cu = Spherical.overlay(capA, capB, UNION)
    val cd = Spherical.overlay(capA, capB, DIFFERENCE)
    assert(math.abs(area(ci) - area(capB)) < 1e-3 * area(capB), "cap inter != inner cap")
    assert(math.abs(area(cu) - area(capA)) < 1e-3 * area(capA), "cap union != outer cap")
    assert(math.abs(area(cd) - (area(capA) - area(capB))) < 1e-3 * area(capA))
    assert(Spherical.coversPoint(ci, 45.0, 90.0))
    assert(Spherical.coversPoint(cd, 45.0, 72.5) && !Spherical.coversPoint(cd, 45.0, 80.0))
    // disjoint wrap inputs short-circuit with correct op semantics
    val far = poly("POLYGON ((0 -10, 5 -10, 5 -5, 0 -5, 0 -10))")
    assert(Spherical.overlay(qa, far, INTERSECTION).isEmpty)
    assert(area(Spherical.overlay(qa, far, UNION)) > aA)
    assert(math.abs(area(Spherical.overlay(qa, far, DIFFERENCE)) - aA) < 1e-9)
  }

  test("spherical covers/contains family: caps, dateline, holes, identity") {
    import graft.functions.Spherical
    def poly(wkt: String) = GeomIO.readWkt(wkt)
    val cap = poly("POLYGON ((0 71, 30 71, 60 71, 90 71, 120 71, 150 71, 180 71, -150 71, -120 71, -90 71, -60 71, -30 71, 0 71))")
    val innerCap = poly("POLYGON ((0 80, 60 80, 120 80, 180 80, -120 80, -60 80, 0 80))")
    val dlq = poly("POLYGON ((179 10, 181 10, 181 20, 179 20, 179 10))")
    val dlqInner = poly("POLYGON ((179.5 12, 180.5 12, 180.5 18, 179.5 18, 179.5 12))")
    val dlqShift = poly("POLYGON ((180 12, 182 12, 182 18, 180 18, 180 12))")
    assert(Spherical.coversGeom(cap, innerCap))
    assert(!Spherical.coversGeom(innerCap, cap))
    assert(Spherical.coversGeom(dlq, dlqInner))
    assert(!Spherical.coversGeom(dlq, dlqShift)) // pokes past lon 181
    assert(!Spherical.coversGeom(dlqInner, dlq))
    // linestring crossing out and back: both endpoints inside, not covered
    val inOut = poly("LINESTRING (179.5 12, 183 15, 180.5 18)")
    assert(!Spherical.coversGeom(dlq, inOut))
    assert(Spherical.coversGeom(dlq, poly("LINESTRING (179.5 12, 180.5 18)")))
    // identity through equals (vertices on boundary ride the tolerance)
    assert(Spherical.coversGeom(dlq, poly("POLYGON ((179 10, 181 10, 181 20, 179 20, 179 10))")))
    // hole poke: region with a hole does not cover a quad over the hole
    val holed = poly("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (8 8, 12 8, 12 12, 8 12, 8 8))")
    assert(!Spherical.coversGeom(holed, poly("POLYGON ((7 7, 13 7, 13 13, 7 13, 7 7))")))
    assert(Spherical.coversGeom(holed, poly("POLYGON ((1 1, 6 1, 6 6, 1 6, 1 1))")))
    // a quad strictly inside the hole is not covered
    assert(!Spherical.coversGeom(holed, poly("POLYGON ((9 9, 11 9, 11 11, 9 11, 9 9))")))
  }

  test("new sphere kernels never throw on degenerate inputs") {
    import graft.functions.Spherical
    import org.locationtech.jts.operation.overlayng.OverlayNG._
    val lonlat: Gen[Coordinate] = for {
      lon <- Gen.oneOf(Gen.chooseNum(-180.0, 180.0), Gen.oneOf(-180.0, 0.0, 180.0))
      lat <- Gen.oneOf(Gen.chooseNum(-90.0, 90.0), Gen.oneOf(-90.0, 0.0, 90.0))
    } yield new Coordinate(lon, lat)
    val anyGeom: Gen[Geometry] = Gen.oneOf(
      lonlat.map(GeomIO.factory.createPoint),
      for { a <- lonlat; b <- lonlat } yield
        GeomIO.factory.createLineString(Array(a, b)),
      for { a <- lonlat } yield // zero-length degenerate line
        GeomIO.factory.createLineString(Array(a, new Coordinate(a.x, a.y))),
      for { c <- lonlat; w <- Gen.chooseNum(0.0, 40.0); h <- Gen.chooseNum(0.0, 40.0) }
        yield GeomIO.envelope(c.x, c.y,
          math.min(180.0, c.x + w), math.min(90.0, c.y + h)),
      Gen.const(GeomIO.factory.createPolygon()),
      Gen.const(GeomIO.readWkt(
        "POLYGON ((0 71, 120 71, -120 71, 0 71))"))) // sparse pole cap
    check(Prop.forAll(anyGeom, anyGeom, lonlat) { (a, b, p) =>
      Spherical.coversPoint(a, p.x, p.y)
      Spherical.coversGeom(a, b); Spherical.containsGeom(a, b)
      Spherical.equalsGeom(a, b); Spherical.distance(a, b)
      Spherical.closestPoints(a, b)
      Spherical.lngLatRect(a); Spherical.latLngBound(a)
      Spherical.overlay(a, b, INTERSECTION); Spherical.overlay(a, b, UNION)
      Spherical.overlay(a, b, DIFFERENCE); Spherical.overlay(a, b, SYMDIFFERENCE)
      Spherical.buffer(a, 50000.0)
      Spherical.centroid(a); Spherical.convexHull(a); Spherical.pointOnSurface(a)
      if (!a.isEmpty) Spherical.segmentize(a, 500000.0)
      a match {
        case l: org.locationtech.jts.geom.LineString if !l.isEmpty =>
          Spherical.lineLocatePoint(l, p.x, p.y)
        case _ =>
      }
      true
    })
  }

  test("containment family agrees with JTS planar semantics away from wrap/poles") {
    // for small mid-latitude quads the geodesic model and the chart
    // agree (bulge << the 0.3-degree guard band): coversGeom/containsGeom
    // must match JTS covers/contains, equalsGeom must match equalsTopo
    import graft.functions.Spherical
    val pair: Gen[(Geometry, Geometry)] = for {
      x0 <- Gen.chooseNum(-150.0, 140.0)
      y0 <- Gen.chooseNum(-60.0, 50.0)
      w <- Gen.chooseNum(2.0, 10.0)
      h <- Gen.chooseNum(2.0, 10.0)
      dx <- Gen.chooseNum(-12.0, 12.0)
      dy <- Gen.chooseNum(-12.0, 12.0)
      w2 <- Gen.chooseNum(1.0, 10.0)
      h2 <- Gen.chooseNum(1.0, 10.0)
    } yield (GeomIO.envelope(x0, y0, x0 + w, y0 + h),
      GeomIO.envelope(x0 + dx, y0 + dy, x0 + dx + w2, y0 + dy + h2))
    check(Prop.forAll(pair) { case (a, b) =>
      val ea = a.getEnvelopeInternal; val eb = b.getEnvelopeInternal
      // skip configurations within the geodesic-bulge ambiguity band of
      // any edge alignment
      def near(u: Double, v: Double) = math.abs(u - v) < 0.3
      val ambiguous =
        near(ea.getMinX, eb.getMinX) || near(ea.getMaxX, eb.getMaxX) ||
        near(ea.getMinY, eb.getMinY) || near(ea.getMaxY, eb.getMaxY) ||
        near(ea.getMinX, eb.getMaxX) || near(ea.getMaxX, eb.getMinX) ||
        near(ea.getMinY, eb.getMaxY) || near(ea.getMaxY, eb.getMinY)
      ambiguous || {
        Spherical.coversGeom(a, b) == a.covers(b) &&
          Spherical.containsGeom(a, b) == a.contains(b) &&
          Spherical.equalsGeom(a, b) == a.equalsTopo(b)
      }
    })
  }

  test("wrap overlay differential: dateline inputs == rotated chart overlay rotated back") {
    // rotating the sphere in longitude commutes with overlay; a pair of
    // quads straddling the dateline must therefore produce (up to
    // densification) the same area and containment classifications as
    // the same pair rotated to lon 0 and run through the chart branch
    import graft.functions.Spherical
    import org.locationtech.jts.operation.overlayng.OverlayNG._
    def area(g: Geometry): Double = Spherical.area(g).asInstanceOf[Double]
    val quadPair = for {
      y0 <- Gen.chooseNum(-60.0, 50.0)
      h <- Gen.chooseNum(2.0, 8.0)
      dx <- Gen.chooseNum(-3.0, 3.0)
      dy <- Gen.chooseNum(-3.0, 3.0)
      w <- Gen.chooseNum(2.0, 8.0)
      op <- Gen.oneOf(INTERSECTION, UNION, DIFFERENCE, SYMDIFFERENCE)
    } yield (y0, h, dx, dy, w, op)
    def mkQuad(x0: Double, y0: Double, w: Double, h: Double): Geometry = {
      def n(l: Double) = ((l + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      GeomIO.readWkt(s"POLYGON ((${n(x0)} $y0, ${n(x0 + w)} $y0, " +
        s"${n(x0 + w)} ${y0 + h}, ${n(x0)} ${y0 + h}, ${n(x0)} $y0))")
    }
    check(Prop.forAllNoShrink(quadPair) { case (y0, h, dx, dy, w, op) =>
      // wrap pair: first quad centered on the dateline
      val wa = mkQuad(180.0 - w / 2, y0, w, h)
      val wb = mkQuad(180.0 - w / 2 + dx, y0 + dy, w, h)
      // chart pair: same shapes rotated to lon 0
      val ca = mkQuad(-w / 2, y0, w, h)
      val cb = mkQuad(-w / 2 + dx, y0 + dy, w, h)
      val aw = area(Spherical.overlay(wa, wb, op))
      val ac = area(Spherical.overlay(ca, cb, op))
      // the branches differ in edge model (chart chords vs geodesics):
      // the top/bottom bulge lenses reach ~2.2% of quad area for 8-deg
      // spans at |lat|~52 (lens ~ (2/3)*bulge*w*cos(lat) with bulge =
      // atan(tan(lat)/cos(w/2)) - lat); 5% headroom still catches the
      // wrong-center / wrong-interval bug class, which errs by ~100%
      val scale = math.max(1.0, math.max(area(wa), area(wb)))
      math.abs(aw - ac) <= 5e-2 * scale
    })
  }

  test("spherical containment agrees with chart containment away from poles/dateline") {
    import graft.functions.Spherical
    val quad: Gen[(Geometry, Double, Double)] = for {
      x0 <- Gen.chooseNum(-170.0, 160.0)
      y0 <- Gen.chooseNum(-80.0, 70.0)
      w <- Gen.chooseNum(1.0, 9.0)
      h <- Gen.chooseNum(1.0, 9.0)
      px <- Gen.chooseNum(-178.0, 178.0)
      py <- Gen.chooseNum(-88.0, 88.0)
    } yield (GeomIO.envelope(x0, y0, x0 + w, y0 + h), px, py)
    check(Prop.forAll(quad) { case (g, px, py) =>
      val env = g.getEnvelopeInternal
      // skip the geodesic-bulge ambiguity band near horizontal edges
      val nearEdge = math.abs(py - env.getMinY) < 0.2 || math.abs(py - env.getMaxY) < 0.2 ||
        math.abs(px - env.getMinX) < 0.2 || math.abs(px - env.getMaxX) < 0.2
      nearEdge || {
        val chart = px > env.getMinX && px < env.getMaxX &&
          py > env.getMinY && py < env.getMaxY
        Spherical.coversPoint(g, px, py) == chart
      }
    })
  }

  test("spherical grid cover: within-radius pairs always share a cell") {
    // the invariant behind the grid KNN covers — the lon bound
    // sin(dlam/2) <= sin(r/2R)/cos(phi) plus pole/antimeridian handling
    // must guarantee cell-set overlap for every within-radius pair
    import graft.functions.Spherical
    val lonlat: Gen[(Double, Double)] = for {
      lon <- Gen.chooseNum(-180.0, 180.0)
      lat <- Gen.oneOf(Gen.chooseNum(-89.99, 89.99), Gen.chooseNum(85.0, 89.999),
        Gen.chooseNum(-89.999, -85.0), Gen.chooseNum(-180.0, 180.0).map(_ / 2))
    } yield (lon, lat)
    val radius: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(1.0, 1e5), Gen.chooseNum(1e5, 2e6), Gen.chooseNum(1e6, 1e7))
    check(Prop.forAll(lonlat, lonlat, radius,
        Gen.chooseNum(4, 360), Gen.chooseNum(2, 180)) {
      case ((lo1, la1), (lo2, la2), r, nx, ny) =>
        val d = Spherical.haversine(lo1, la1, lo2, la2)
        if (d > r) true // only within-radius pairs carry the obligation
        else {
          val a = GeomIO.point(lo1, la1).getEnvelopeInternal
          val b = GeomIO.point(lo2, la2).getEnvelopeInternal
          val ca = Spherical.gridCells(a, r, nx, ny).toSet
          val cb = Spherical.gridCells(b, 0.0, nx, ny).toSet
          ca.intersect(cb).nonEmpty
        }
    })
  }

  test("spherical closest pair compares isolated point components of mixed collections") {
    import graft.functions.Spherical
    def g(wkt: String): Geometry = GeomIO.readWkt(wkt)
    // b's POINT is not an arc endpoint, so vertex-arc loops alone miss it
    val a = g("POINT (0 0)")
    val b = g("GEOMETRYCOLLECTION (POINT (1 0), LINESTRING (50 0, 60 0))")
    val near = Spherical.distance(a, g("POINT (1 0)")).asInstanceOf[Double]
    assert(math.abs(Spherical.distance(a, b).asInstanceOf[Double] - near) < 1e-6)
    assert(math.abs(Spherical.distance(b, a).asInstanceOf[Double] - near) < 1e-6)
    val (_, cb) = Spherical.closestPoints(a, b).get
    assert(math.abs(cb.x - 1.0) < 1e-9 && math.abs(cb.y) < 1e-9)
    val (ca2, _) = Spherical.closestPoints(b, a).get
    assert(math.abs(ca2.x - 1.0) < 1e-9 && math.abs(ca2.y) < 1e-9)
  }

  test("spherical contains is reflexive for concave polygons (pointOnSurface witness)") {
    import graft.functions.Spherical
    // horseshoe: the centroid falls in the notch, outside the polygon
    val h = GeomIO.readWkt(
      "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 8, 8 8, 8 2, 0 2, 0 0))")
    assert(Spherical.coversGeom(h, h))
    assert(Spherical.containsGeom(h, h))
  }

  test("spherical covers/contains with linear and point containers") {
    import graft.functions.Spherical
    def g(wkt: String): Geometry = GeomIO.readWkt(wkt)
    val line = g("LINESTRING (0 0, 10 0, 20 0)")
    assert(Spherical.coversGeom(line, g("POINT (5 0)")))
    // sub-line spanning the collinear vertex at lon 10 (interval union)
    assert(Spherical.coversGeom(line, g("LINESTRING (5 0, 15 0)")))
    assert(Spherical.coversGeom(line, line))
    assert(!Spherical.coversGeom(line, g("POINT (5 1)")))
    assert(!Spherical.coversGeom(line, g("LINESTRING (5 0, 15 1)")))
    assert(!Spherical.coversGeom(line, g("LINESTRING (5 0, 25 0)"))) // runs past the end
    // mod-2 boundary: interior point contained, endpoint not
    assert(Spherical.containsGeom(line, g("POINT (5 0)")))
    assert(!Spherical.containsGeom(line, g("POINT (0 0)")))
    assert(Spherical.containsGeom(line, line))
    // a closed ring has no boundary: its start vertex is contained
    val ring = g("LINESTRING (0 0, 10 0, 10 10, 0 0)")
    assert(Spherical.containsGeom(ring, g("POINT (0 0)")))
    // point containers
    assert(Spherical.coversGeom(g("MULTIPOINT (0 0, 5 5)"), g("POINT (5 5)")))
    assert(Spherical.containsGeom(g("POINT (5 5)"), g("POINT (5 5)")))
    assert(!Spherical.coversGeom(g("POINT (5 5)"), g("POINT (5 6)")))
    assert(!Spherical.coversGeom(g("POINT (5 5)"), g("LINESTRING (5 5, 5 6)")))
    assert(!Spherical.coversGeom(line, g("POLYGON ((0 0, 1 0, 1 1, 0 0))")))
  }

  test("oriented overlay degenerate contact: shared edges, T-contacts, vertex crossings") {
    import graft.functions.Spherical
    def g(wkt: String): Geometry =
      new org.locationtech.jts.io.WKTReader(GeomIO.factory).read(wkt)
    def areaO(x: Geometry): Double =
      if (x.isEmpty) 0.0 else Spherical.areaOriented(x).asInstanceOf[Double]
    val sphere = 4 * math.Pi * Spherical.R * Spherical.R

    // 1. adjacent quads sharing a full meridian edge (coincident arcs,
    //    opposite direction): intersection is empty area, union merges
    //    across the seam with no internal boundary
    val adjA = g("POLYGON ((0 0, 20 0, 20 30, 0 30, 0 0))")
    val adjB = g("POLYGON ((20 0, 40 0, 40 30, 20 30, 20 0))")
    val adjI = Spherical.intersectionOriented(adjA, adjB)
    assert(adjI.isEmpty || math.abs(areaO(adjI)) <= 1e-9 * sphere,
      s"adjacent quads must intersect empty, got $adjI")
    val adjU = Spherical.unionOriented(adjA, adjB)
    assert(math.abs(areaO(adjU) - (areaO(adjA) + areaO(adjB))) <= 1e-9 * sphere,
      "adjacent union area must be the sum")
    assert(Spherical.coversPointOriented(adjU, 10, 10))
    assert(Spherical.coversPointOriented(adjU, 30, 10))
    assert(Spherical.coversPointOriented(adjU, 20, 10), "seam interior is inside")
    assert(!Spherical.coversPointOriented(adjU, -5, 10))
    assert(!Spherical.coversPointOriented(adjU, 45, 10))

    // 2. contained polygon sharing a boundary SEGMENT (coincident arcs,
    //    same direction, T-contact vertices (10,0)/(30,0) on A's equator
    //    edge): intersection = B, union = A, difference = A minus B
    val cntA = g("POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0))")
    val cntB = g("POLYGON ((10 0, 30 0, 30 15, 10 15, 10 0))")
    val cntI = Spherical.intersectionOriented(cntA, cntB)
    assert(math.abs(areaO(cntI) - areaO(cntB)) <= 1e-9 * sphere,
      "contained-tangent intersection must equal B")
    assert(Spherical.coversPointOriented(cntI, 20, 7))
    assert(!Spherical.coversPointOriented(cntI, 20, 22))
    assert(!Spherical.coversPointOriented(cntI, 5, 5))
    val cntU = Spherical.unionOriented(cntA, cntB)
    assert(math.abs(areaO(cntU) - areaO(cntA)) <= 1e-9 * sphere,
      "contained-tangent union must equal A")
    val cntD = Spherical.differenceOriented(cntA, cntB)
    assert(math.abs(areaO(cntD) - (areaO(cntA) - areaO(cntB))) <= 1e-9 * sphere,
      "contained-tangent difference area")
    assert(Spherical.coversPointOriented(cntD, 5, 5))
    assert(!Spherical.coversPointOriented(cntD, 20, 7))
    assert(Spherical.coversPointOriented(cntD, 20, 22))

    // 3. overlap sticking out: B shares part of A's equator edge and
    //    extends past A's right meridian (coincident sub-arc + one
    //    regular crossing) — full inclusion-exclusion must hold
    val ovA = cntA
    val ovB = g("POLYGON ((10 0, 50 0, 50 15, 10 15, 10 0))")
    val ovI = Spherical.intersectionOriented(ovA, ovB)
    val ovU = Spherical.unionOriented(ovA, ovB)
    assert(math.abs((areaO(ovA) + areaO(ovB)) - (areaO(ovI) + areaO(ovU))) <=
      1e-9 * sphere, "stick-out overlap incl-excl")
    assert(Spherical.coversPointOriented(ovI, 20, 7))
    assert(!Spherical.coversPointOriented(ovI, 45, 7)) // B only
    assert(Spherical.coversPointOriented(ovU, 45, 7))
    assert(Spherical.coversPointOriented(ovU, 20, 22)) // A only
    val ovD = Spherical.differenceOriented(ovA, ovB)
    assert(math.abs(areaO(ovD) - (areaO(ovA) - areaO(ovI))) <= 1e-9 * sphere)
    assert(Spherical.coversPointOriented(ovD, 20, 22))
    assert(!Spherical.coversPointOriented(ovD, 20, 7))

    // 4. boundary crossing AT a vertex: B's vertex (10,20) lies exactly
    //    on A's right meridian edge with B extending to both sides
    val vxA = g("POLYGON ((-20 0, 10 0, 10 40, -20 40, -20 0))")
    val vxB = g("POLYGON ((-10 10, 10 20, 30 10, 30 30, -10 30, -10 10))")
    val vxI = Spherical.intersectionOriented(vxA, vxB)
    val vxU = Spherical.unionOriented(vxA, vxB)
    assert(math.abs((areaO(vxA) + areaO(vxB)) - (areaO(vxI) + areaO(vxU))) <=
      1e-9 * sphere, "vertex-crossing incl-excl")
    assert(Spherical.coversPointOriented(vxI, 0, 26))   // in both
    assert(!Spherical.coversPointOriented(vxI, 0, 12))  // A only
    assert(!Spherical.coversPointOriented(vxI, 20, 25)) // B only
    val vxD = Spherical.differenceOriented(vxA, vxB)
    assert(Spherical.coversPointOriented(vxD, 0, 12))
    assert(!Spherical.coversPointOriented(vxD, 0, 26))

    // 5. T-vertex tangency (vertex on edge, region entirely one side):
    //    intersection empty, union area = sum
    val tA = vxA
    val tB = g("POLYGON ((10 20, 30 10, 30 30, 10 20))")
    val tI = Spherical.intersectionOriented(tA, tB)
    assert(tI.isEmpty || math.abs(areaO(tI)) <= 1e-9 * sphere,
      s"T-tangent intersection must be empty, got $tI")
    val tU = Spherical.unionOriented(tA, tB)
    assert(math.abs(areaO(tU) - (areaO(tA) + areaO(tB))) <= 1e-9 * sphere,
      "T-tangent union area must be the sum")
    assert(Spherical.coversPointOriented(tU, 0, 20))
    assert(Spherical.coversPointOriented(tU, 25, 20))
    assert(!Spherical.coversPointOriented(tU, 40, 20))
  }

  test("oriented overlay property: random caps, membership + inclusion-exclusion") {
    import graft.functions.Spherical
    def circle(cx: Double, cy: Double, rhoDeg: Double, cw: Boolean): Geometry = {
      val rho = math.toRadians(rhoDeg)
      val (ux, uy, uz) = (math.cos(math.toRadians(cy)) * math.cos(math.toRadians(cx)),
        math.cos(math.toRadians(cy)) * math.sin(math.toRadians(cx)),
        math.sin(math.toRadians(cy)))
      val (e1x, e1y, e1z) =
        (-math.sin(math.toRadians(cx)), math.cos(math.toRadians(cx)), 0.0)
      val (e2x, e2y, e2z) =
        (uy * e1z - uz * e1y, uz * e1x - ux * e1z, ux * e1y - uy * e1x)
      val open = (0 until 36).map { i =>
        val t = 2 * math.Pi * i / 36.0 * (if (cw) -1 else 1)
        val px = math.cos(rho) * ux +
          math.sin(rho) * (math.cos(t) * e1x + math.sin(t) * e2x)
        val py = math.cos(rho) * uy +
          math.sin(rho) * (math.cos(t) * e1y + math.sin(t) * e2y)
        val pz = math.cos(rho) * uz +
          math.sin(rho) * (math.cos(t) * e1z + math.sin(t) * e2z)
        new Coordinate(math.toDegrees(math.atan2(py, px)),
          math.toDegrees(math.asin(pz)))
      }
      GeomIO.factory.createPolygon((open :+ open.head.copy()).toArray)
    }
    def areaO(g: Geometry): Double =
      if (g.isEmpty) 0.0 else Spherical.areaOriented(g).asInstanceOf[Double]
    val sphere = 4 * math.Pi * 6371008.7714 * 6371008.7714
    val rnd = new scala.util.Random(0x0B9L)
    var unions = 0
    for (cfg <- 0 until 30) {
      val a = circle(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 130 - 65,
        8 + rnd.nextDouble() * 32, rnd.nextBoolean())
      val b = circle(rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 130 - 65,
        8 + rnd.nextDouble() * 32, rnd.nextBoolean())
      val inter = Spherical.intersectionOriented(a, b)
      // inclusion-exclusion whenever the union has a boundary
      try {
        val uni = Spherical.unionOriented(a, b)
        unions += 1
        val lhs = areaO(a) + areaO(b)
        val rhs = areaO(inter) + areaO(uni)
        assert(math.abs(lhs - rhs) <= 1e-9 * sphere,
          s"cfg $cfg incl-excl: $lhs vs $rhs")
      } catch { case _: IllegalArgumentException => () } // full-sphere union
      // membership of the constructed intersection == AND of the inputs,
      // at neighborhood-stable lattice points (skip the float-sensitive
      // band near any boundary)
      for (lon <- -170 to 170 by 20; lat <- -80 to 80 by 16) {
        def e(lo: Double, la: Double): Boolean =
          Spherical.coversPointOriented(a, lo, la) &&
            Spherical.coversPointOriented(b, lo, la)
        val e0 = e(lon, lat)
        val stable = Seq((2.0, 0.0), (-2.0, 0.0), (0.0, 2.0), (0.0, -2.0))
          .forall { case (dl, dp) => e(lon + dl, lat + dp) == e0 }
        if (stable) {
          val got = !inter.isEmpty &&
            Spherical.coversPointOriented(inter, lon, lat)
          assert(got == e0, s"cfg $cfg membership at ($lon, $lat)")
        }
      }
    }
    assert(unions > 10, s"fixture mix must produce representable unions ($unions)")

    // single-ring inputs always intersect into ONE component (caps and
    // cap complements are connected with connected complements), so the
    // multi-component assembly branch needs a holed fixture: a frame
    // crossed by a strip splits into two pieces — grouping must emit a
    // MultiPolygon, and the union must bridge the hole
    def g(wkt: String): Geometry =
      new org.locationtech.jts.io.WKTReader(GeomIO.factory).read(wkt)
    val frame = g("POLYGON ((0 0, 40 0, 40 40, 0 40, 0 0), " +
      "(10 10, 10 30, 30 30, 30 10, 10 10))")
    val strip = g("POLYGON ((15 -5, 25 -5, 25 45, 15 45, 15 -5))")
    val inter = Spherical.intersectionOriented(frame, strip)
    assert(inter.getNumGeometries == 2 && inter.getGeometryType == "MultiPolygon",
      s"frame x strip must split into two components, got $inter")
    assert(Spherical.coversPointOriented(inter, 20, 5))   // bottom piece
    assert(Spherical.coversPointOriented(inter, 20, 35))  // top piece
    assert(!Spherical.coversPointOriented(inter, 20, 20)) // the hole
    assert(!Spherical.coversPointOriented(inter, 5, 5))   // outside the strip
    val uni = Spherical.unionOriented(frame, strip)
    assert(Spherical.coversPointOriented(uni, 20, -3))    // strip below frame
    assert(Spherical.coversPointOriented(uni, 5, 5))      // frame-only ground
    assert(Spherical.coversPointOriented(uni, 20, 20))    // strip crosses hole
    val lhs2 = areaO(frame) + areaO(strip)
    val rhs2 = areaO(inter) + areaO(uni)
    assert(math.abs(lhs2 - rhs2) <= 1e-9 * sphere, s"incl-excl $lhs2 vs $rhs2")
    // difference: frame \ strip — membership = in frame AND NOT in strip,
    // and area(frame) = area(frame \ strip) + area(frame ∩ strip)
    val diff = Spherical.differenceOriented(frame, strip)
    assert(Spherical.coversPointOriented(diff, 5, 5))    // frame-only ground
    assert(!Spherical.coversPointOriented(diff, 20, 5))  // in both
    assert(!Spherical.coversPointOriented(diff, 20, 20)) // the hole
    assert(!Spherical.coversPointOriented(diff, 20, -3)) // strip-only
    assert(math.abs(areaO(frame) - (areaO(diff) + areaO(inter))) <= 1e-9 * sphere,
      "difference + intersection must partition the frame")
  }
}
