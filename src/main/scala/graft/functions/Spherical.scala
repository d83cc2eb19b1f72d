package graft.functions

import org.locationtech.jts.geom.{Coordinate, Geometry, LineString, MultiPoint, MultiPolygon, Point, Polygon}

/** Spherical (geography) kernels — the common subset of the reference's
  * S2-backed geography functions (c/sedona-s2geography/src/kernels.rs:68-226)
  * on a mean-radius sphere. Input coordinates are lon/lat degrees
  * (EPSG:4326). No S2 offline; haversine + spherical excess cover
  * distance/dwithin/length/area/perimeter.
  */
object Spherical {
  /** IUGG mean Earth radius, meters (same constant the oracle SQL uses). */
  final val R = 6371008.8

  /** Great-circle distance in meters, in the atan2 form (Vincenty's
    * formula on the sphere): the central angle is atan2 of the norm of the
    * two unit vectors' cross product and their dot product, well
    * conditioned at every angle. The haversine's asin(sqrt(a)) loses
    * about 1e-6 m near antipodes, where asin is flat. */
  def haversine(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val p1 = math.toRadians(lat1); val p2 = math.toRadians(lat2)
    val dlam = math.toRadians(lon2 - lon1)
    val (s1, c1) = (math.sin(p1), math.cos(p1))
    val (s2, c2) = (math.sin(p2), math.cos(p2))
    val cl = math.cos(dlam)
    val cross = math.hypot(c2 * math.sin(dlam), c1 * s2 - s1 * c2 * cl)
    R * math.atan2(cross, s1 * s2 + c1 * c2 * cl)
  }

  // ---- exact great-circle distance between geometries (S2-style edge
  // model: every segment is a geodesic arc). Point pairs are haversine;
  // mixed shapes decompose into vertices + arcs: the minimum over
  // vertex-to-arc distances is exact for disjoint arc sets (as in the
  // plane, the min between disjoint segments is attained at an
  // endpoint), arcs that cross -> 0, and spherical winding-number
  // containment (point in polygon) -> 0. Containment is computed on the
  // sphere (coversPoint below), so pole-covering and antimeridian-
  // crossing rings work; the one remaining exclusion is a ring whose
  // intended interior is MORE than a hemisphere — like S2geography's
  // oriented=false ingestion, the interior is taken to be the smaller
  // side. ----

  @inline private def angV(ax: Double, ay: Double, az: Double,
      bx: Double, by: Double, bz: Double): Double = {
    val dx = ax - bx; val dy = ay - by; val dz = az - bz
    2 * math.asin(math.min(1.0, math.sqrt(dx * dx + dy * dy + dz * dz) / 2))
  }

  /** Central angle from point P to geodesic arc AB (all unit vectors). */
  private def pointArcAngle(px: Double, py: Double, pz: Double,
      ax: Double, ay: Double, az: Double,
      bx: Double, by: Double, bz: Double): Double = {
    val nx = ay * bz - az * by
    val ny = az * bx - ax * bz
    val nz = ax * by - ay * bx
    val nn = math.sqrt(nx * nx + ny * ny + nz * nz)
    val endMin = math.min(angV(px, py, pz, ax, ay, az), angV(px, py, pz, bx, by, bz))
    if (nn < 1e-18) return endMin // degenerate arc
    val pn = (px * nx + py * ny + pz * nz) / nn
    // foot of P on the arc's great circle
    var fx = px - pn * nx / nn
    var fy = py - pn * ny / nn
    var fz = pz - pn * nz / nn
    val fn = math.sqrt(fx * fx + fy * fy + fz * fz)
    if (fn < 1e-18) return endMin // P at the circle's pole
    fx /= fn; fy /= fn; fz /= fn
    val arc = angV(ax, ay, az, bx, by, bz)
    val within = angV(ax, ay, az, fx, fy, fz) +
      angV(fx, fy, fz, bx, by, bz) <= arc + 1e-12
    if (within) math.asin(math.min(1.0, math.abs(pn))) else endMin
  }

  /** Closest point on geodesic arc AB to P: the foot of P on the arc's
    * great circle when it lands inside the arc, else the nearer
    * endpoint. (angle, point) — the argmin companion of pointArcAngle. */
  private def pointArcClosest(px: Double, py: Double, pz: Double,
      a: Array[Double], b: Array[Double]): (Double, Array[Double]) = {
    val ax = a(0); val ay = a(1); val az = a(2)
    val bx = b(0); val by = b(1); val bz = b(2)
    val nx = ay * bz - az * by
    val ny = az * bx - ax * bz
    val nz = ax * by - ay * bx
    val nn = math.sqrt(nx * nx + ny * ny + nz * nz)
    val dA = angV(px, py, pz, ax, ay, az)
    val dB = angV(px, py, pz, bx, by, bz)
    val end: (Double, Array[Double]) = if (dA <= dB) (dA, a) else (dB, b)
    if (nn < 1e-18) return end
    val pn = (px * nx + py * ny + pz * nz) / nn
    var fx = px - pn * nx / nn
    var fy = py - pn * ny / nn
    var fz = pz - pn * nz / nn
    val fn = math.sqrt(fx * fx + fy * fy + fz * fz)
    if (fn < 1e-18) return end
    fx /= fn; fy /= fn; fz /= fn
    val arc = angV(ax, ay, az, bx, by, bz)
    val within = angV(ax, ay, az, fx, fy, fz) +
      angV(fx, fy, fz, bx, by, bz) <= arc + 1e-12
    if (within) (math.asin(math.min(1.0, math.abs(pn))), Array(fx, fy, fz))
    else end
  }

  @inline private def lonLatOf(v: Array[Double]): Coordinate =
    new Coordinate(math.toDegrees(math.atan2(v(1), v(0))),
      math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, v(2))))))

  /** Exact spherical closest pair (first on a, second on b): the argmin
    * companion of distance() — vertex/arc minimization, crossing arcs'
    * intersection point, and the contained component's representative
    * for interior overlap. None for empty inputs. Unlike a chart
    * DistanceOp proxy this is correct at any separation, including
    * near-antipodal configurations (where st_longestlinesphere routes
    * through it via the antipode identity). */
  def closestPoints(a: Geometry, b: Geometry): Option[(Coordinate, Coordinate)] = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return None
    (a, b) match {
      case (p: Point, q: Point) =>
        return Some((new Coordinate(p.getX, p.getY), new Coordinate(q.getX, q.getY)))
      case _ =>
    }
    // interior overlap: the covered representative is a shared point
    componentReps(b).find(c => coversPoint(a, c.x, c.y)) match {
      case Some(c) => return Some((new Coordinate(c.x, c.y), new Coordinate(c.x, c.y)))
      case None =>
    }
    componentReps(a).find(c => coversPoint(b, c.x, c.y)) match {
      case Some(c) => return Some((new Coordinate(c.x, c.y), new Coordinate(c.x, c.y)))
      case None =>
    }
    val (va, aa) = decompose(a)
    val (vb, ab) = decompose(b)
    var best = Double.MaxValue
    var bestA: Array[Double] = null
    var bestB: Array[Double] = null
    // vertex-vertex always runs: vertex-arc only subsumes it for
    // vertices that are arc ENDPOINTS, so isolated point components of
    // a mixed collection would otherwise never be compared
    var i = 0
    while (i < va.length) {
      val p = va(i)
      var j = 0
      while (j < vb.length) {
        val q = vb(j)
        val d = angV(p(0), p(1), p(2), q(0), q(1), q(2))
        if (d < best) { best = d; bestA = p; bestB = q }
        j += 1
      }
      j = 0
      while (j < ab.length) {
        val (u, v) = ab(j)
        val (d, cp) = pointArcClosest(p(0), p(1), p(2), u, v)
        if (d < best) { best = d; bestA = p; bestB = cp }
        j += 1
      }
      i += 1
    }
    i = 0
    while (i < vb.length && aa.nonEmpty) {
      val p = vb(i)
      var j = 0
      while (j < aa.length) {
        val (u, v) = aa(j)
        val (d, cp) = pointArcClosest(p(0), p(1), p(2), u, v)
        if (d < best) { best = d; bestA = cp; bestB = p }
        j += 1
      }
      i += 1
    }
    if (best > 0) {
      var i2 = 0
      while (i2 < aa.length) {
        var j = 0
        while (j < ab.length) {
          val (u1, v1) = aa(i2); val (u2, v2) = ab(j)
          if (arcsCross(u1, v1, u2, v2)) {
            val x = crossingPoint(u1, v1, u2, v2)
            if (x != null) { best = 0.0; bestA = x; bestB = x }
          }
          j += 1
        }
        i2 += 1
      }
    }
    if (bestA == null) None else Some((lonLatOf(bestA), lonLatOf(bestB)))
  }

  /** The great-circle intersection point lying on both arcs (null when
    * the coplanar guard fired — callers treat it as no-crossing). */
  private def crossingPoint(a: Array[Double], b: Array[Double],
      c: Array[Double], d: Array[Double]): Array[Double] = {
    val n1x = a(1) * b(2) - a(2) * b(1); val n1y = a(2) * b(0) - a(0) * b(2)
    val n1z = a(0) * b(1) - a(1) * b(0)
    val n2x = c(1) * d(2) - c(2) * d(1); val n2y = c(2) * d(0) - c(0) * d(2)
    val n2z = c(0) * d(1) - c(1) * d(0)
    var tx = n1y * n2z - n1z * n2y
    var ty = n1z * n2x - n1x * n2z
    var tz = n1x * n2y - n1y * n2x
    val tn = math.sqrt(tx * tx + ty * ty + tz * tz)
    if (tn < 1e-18) return null
    tx /= tn; ty /= tn; tz /= tn
    def onArc(px: Double, py: Double, pz: Double,
        u: Array[Double], v: Array[Double]): Boolean =
      angV(u(0), u(1), u(2), px, py, pz) + angV(px, py, pz, v(0), v(1), v(2)) <=
        angV(u(0), u(1), u(2), v(0), v(1), v(2)) + 1e-12
    if (onArc(tx, ty, tz, a, b) && onArc(tx, ty, tz, c, d)) Array(tx, ty, tz)
    else if (onArc(-tx, -ty, -tz, a, b) && onArc(-tx, -ty, -tz, c, d))
      Array(-tx, -ty, -tz)
    else null
  }

  /** Do geodesic arcs AB and CD cross? (great-circle intersection point
    * inside both arcs) */
  private def arcsCross(a: Array[Double], b: Array[Double],
      c: Array[Double], d: Array[Double],
      excludeEndpoints: Boolean = false): Boolean = {
    val n1x = a(1) * b(2) - a(2) * b(1); val n1y = a(2) * b(0) - a(0) * b(2)
    val n1z = a(0) * b(1) - a(1) * b(0)
    val n2x = c(1) * d(2) - c(2) * d(1); val n2y = c(2) * d(0) - c(0) * d(2)
    val n2z = c(0) * d(1) - c(1) * d(0)
    var tx = n1y * n2z - n1z * n2y
    var ty = n1z * n2x - n1x * n2z
    var tz = n1x * n2y - n1y * n2x
    val tn = math.sqrt(tx * tx + ty * ty + tz * tz)
    if (tn < 1e-18) return false // coplanar: endpoint distances cover it
    tx /= tn; ty /= tn; tz /= tn
    def onArc(px: Double, py: Double, pz: Double,
        u: Array[Double], v: Array[Double]): Boolean =
      angV(u(0), u(1), u(2), px, py, pz) + angV(px, py, pz, v(0), v(1), v(2)) <=
        angV(u(0), u(1), u(2), v(0), v(1), v(2)) + 1e-12
    // proper-crossing mode (coversGeom): contact AT an endpoint of
    // either arc is boundary touch, not an interior crossing
    def nearEnd(px: Double, py: Double, pz: Double): Boolean =
      Seq(a, b, c, d).exists { e =>
        val dx = e(0) - px; val dy = e(1) - py; val dz = e(2) - pz
        dx * dx + dy * dy + dz * dz < 1e-18
      }
    def hit(px: Double, py: Double, pz: Double): Boolean =
      onArc(px, py, pz, a, b) && onArc(px, py, pz, c, d) &&
        (!excludeEndpoints || !nearEnd(px, py, pz))
    hit(tx, ty, tz) || hit(-tx, -ty, -tz)
  }

  private def vecOf(c: Coordinate): Array[Double] = {
    val (x, y, z) = unitVec(c.x, c.y); Array(x, y, z)
  }

  /** (vertices, arcs) of a geometry: arcs as consecutive vertex pairs. */
  private def decompose(g: Geometry)
    : (Array[Array[Double]], Array[(Array[Double], Array[Double])]) = {
    val verts = Array.newBuilder[Array[Double]]
    val arcs = Array.newBuilder[(Array[Double], Array[Double])]
    def addSeq(cs: Array[Coordinate]): Unit = {
      var prev: Array[Double] = null
      var i = 0
      while (i < cs.length) {
        val v = vecOf(cs(i))
        verts += v
        if (prev != null) arcs += ((prev, v))
        prev = v
        i += 1
      }
    }
    def walk(geom: Geometry): Unit = geom match {
      case _ if geom.isEmpty =>
      case p: Point => verts += vecOf(p.getCoordinate)
      case l: LineString => addSeq(l.getCoordinates)
      case p: Polygon =>
        addSeq(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach(i =>
          addSeq(p.getInteriorRingN(i).getCoordinates))
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case other => addSeq(other.getCoordinates)
    }
    walk(g)
    (verts.result(), arcs.result())
  }

  // ---- spherical point-in-polygon (winding number). Per ring edge the
  // signed azimuth change at unit vector P between directions to A and B
  // is atan2(P·(A×B), A·B − (P·A)(P·B)) — the angle between the
  // tangent-plane projections, wrapped to (−π, π]. Summing over a closed
  // ring gives ±2π when the ring winds around P (sign = its orientation
  // as seen from P) and 0 when it does not — the spherical analog of the
  // planar winding formula, valid for rings crossing the antimeridian or
  // enclosing a pole because it never charts. ----

  /** Is the point inside the closed ring, interior taken as the ring's
    * SMALLER side (S2geography oriented=false semantics)? The winding
    * sum at an interior point is +2π for a CCW ring and −2π for a CW
    * ring; at the ANTIPODE of an interior point it is the negation, and
    * elsewhere 0 — so orienting by the ring makes sgn·sum ≈ +2π exactly
    * on the smaller side. Orientation comes from the shoelace sum
    * projected on the vertex-sum direction (Σ C·(vᵢ×vᵢ₊₁)) — the sign of
    * the spherical excess for rings within a hemisphere of their vertex
    * mean, at a fraction of the l'Huilier fan's trig cost. Points on the
    * boundary (sum ≈ ±π) classify as outside here; distance() reaches 0
    * for them through the vertex/arc terms. A vertex within ~1e-9 rad of
    * P or its antipode makes the azimuth atan2(~0,~0)-degenerate (seen
    * with lattice data, where a point can be EXACTLY antipodal to a
    * polygon corner): the caller nudges P and retries. Returns 1 (in),
    * 0 (out), -1 (degenerate — nudge needed). */
  private def ringSide(cs: Array[Coordinate],
      px: Double, py: Double, pz: Double): Int = {
    val n = cs.length - 1
    if (n < 3) return 0
    val vx = new Array[Double](n + 1)
    val vy = new Array[Double](n + 1)
    val vz = new Array[Double](n + 1)
    var i = 0
    while (i <= n) {
      val (x, y, z) = unitVec(cs(i).x, cs(i).y)
      vx(i) = x; vy(i) = y; vz(i) = z
      val dm = (x - px) * (x - px) + (y - py) * (y - py) + (z - pz) * (z - pz)
      val dp = (x + px) * (x + px) + (y + py) * (y + py) + (z + pz) * (z + pz)
      if (dm < 1e-18 || dp < 1e-18) return -1
      i += 1
    }
    var cxs = 0.0; var cys = 0.0; var czs = 0.0
    i = 0
    while (i < n) { cxs += vx(i); cys += vy(i); czs += vz(i); i += 1 }
    var sum = 0.0
    var shoelace = 0.0
    i = 0
    while (i < n) {
      val ax = vx(i); val ay = vy(i); val az = vz(i)
      val bx = vx(i + 1); val by = vy(i + 1); val bz = vz(i + 1)
      val crx = ay * bz - az * by
      val cry = az * bx - ax * bz
      val crz = ax * by - ay * bx
      sum += math.atan2(px * crx + py * cry + pz * crz,
        (ax * bx + ay * by + az * bz) - (px * ax + py * ay + pz * az) * (px * bx + py * by + pz * bz))
      shoelace += cxs * crx + cys * cry + czs * crz
      i += 1
    }
    // near-hemisphere rings have a vanishing vertex sum, making the
    // projected shoelace unreliable — fall back to the signed excess fan
    val cn = math.sqrt(cxs * cxs + cys * cys + czs * czs)
    val sgn =
      if (cn > 0.1 * n) { if (shoelace >= 0) 1.0 else -1.0 }
      else { if (signedRingExcess(cs) >= 0) 1.0 else -1.0 }
    if (sgn * sum > math.Pi) 1 else 0
  }

  /** Spherical covers(point): true when (lon, lat) lies inside some
    * polygonal component — inside its shell (smaller side) and outside
    * every hole. Matches the reference's S2 containment kernels
    * (c/sedona-s2geography/src/kernels.rs:68-226) for polygons up to a
    * hemisphere, including pole caps and dateline-crossing rings. */
  def coversPoint(g: Geometry, lon: Double, lat: Double): Boolean = {
    var (px, py, pz) = unitVec(lon, lat)
    // ringSide reports -1 when a ring vertex sits within ~1e-9 rad of P
    // or its antipode: nudge P by 1e-9 rad (~6 mm on Earth) along a
    // fixed tangent and retry — classification changes only for points
    // that close to the degeneracy, which the distance terms already
    // treat as boundary contact.
    def nudge(guard: Int): Unit = {
      val (ax, ay, az): (Double, Double, Double) =
        if (guard == 0 && math.abs(px) < 0.9) (1.0, 0.0, 0.0)
        else if (guard <= 1 && math.abs(py) < 0.9) (0.0, 1.0, 0.0)
        else (0.0, 0.0, 1.0)
      var tx = py * az - pz * ay
      var ty = pz * ax - px * az
      var tz = px * ay - py * ax
      val tn = math.sqrt(tx * tx + ty * ty + tz * tz)
      tx /= tn; ty /= tn; tz /= tn
      val nx = px + 1e-9 * tx; val ny = py + 1e-9 * ty; val nz = pz + 1e-9 * tz
      val nn = math.sqrt(nx * nx + ny * ny + nz * nz)
      px = nx / nn; py = ny / nn; pz = nz / nn
    }
    def ringIn(cs: Array[Coordinate]): Boolean = {
      var guard = 0
      var s = ringSide(cs, px, py, pz)
      while (s < 0 && guard < 3) { nudge(guard); guard += 1; s = ringSide(cs, px, py, pz) }
      s > 0
    }
    def walk(geom: Geometry): Boolean = geom match {
      case _ if geom.isEmpty => false
      case p: Polygon =>
        ringIn(p.getExteriorRing.getCoordinates) &&
          (0 until p.getNumInteriorRing).forall(i =>
            !ringIn(p.getInteriorRingN(i).getCoordinates))
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).exists(i => walk(c.getGeometryN(i)))
      case _ => false
    }
    walk(g)
  }

  /** Raw winding sum of the closed ring around unit vector P (+2π when
    * the ring winds CCW around P as authored, −2π CW, ~0 outside; ±π on
    * the boundary). NaN when a vertex is degenerate-close to P or its
    * antipode (caller nudges and retries). */
  private def ringWinding(cs: Array[Coordinate],
      px: Double, py: Double, pz: Double): Double = {
    val n = cs.length - 1
    if (n < 3) return 0.0
    var sum = 0.0
    var (ax, ay, az) = unitVec(cs(0).x, cs(0).y)
    var i = 0
    while (i < n) {
      val dm = (ax - px) * (ax - px) + (ay - py) * (ay - py) + (az - pz) * (az - pz)
      val dp = (ax + px) * (ax + px) + (ay + py) * (ay + py) + (az + pz) * (az + pz)
      if (dm < 1e-18 || dp < 1e-18) return Double.NaN
      val (bx, by, bz) = unitVec(cs(i + 1).x, cs(i + 1).y)
      val crx = ay * bz - az * by
      val cry = az * bx - ax * bz
      val crz = ax * by - ay * bx
      sum += math.atan2(px * crx + py * cry + pz * crz,
        (ax * bx + ay * by + az * bz) - (px * ax + py * ay + pz * az) * (px * bx + py * by + pz * bz))
      ax = bx; ay = by; az = bz
      i += 1
    }
    sum
  }

  /** WINDING-AWARE spherical point containment (S2geography
    * oriented=true ingestion): each ring's authored vertex order defines
    * its region as the side to the LEFT of travel, and the polygon is
    * the INTERSECTION of its rings' left regions (OGC winding: shells
    * keep the interior left, holes — wound oppositely — keep it left
    * too). A clockwise-authored cap ring thus denotes the cap's
    * COMPLEMENT, an interior larger than a hemisphere, which the
    * smaller-side family cannot express.
    *
    * Membership per ring: the spherical winding sum at P is ±2π inside
    * the ring's SMALL side, the negation inside its antipodal mirror,
    * and 0 elsewhere (unlike the plane, "outside" is not a single
    * 0-region) — so the left-region test must fold in the ring's
    * authored orientation σ around its small side (sign of the spherical
    * excess): P is left of the ring iff sum > π·σ. Boundary points
    * classify outside. */
  def coversPointOriented(g: Geometry, lon: Double, lat: Double): Boolean = {
    var (px, py, pz) = unitVec(lon, lat)
    def nudge(guard: Int): Unit = {
      val (ax, ay, az): (Double, Double, Double) =
        if (guard == 0 && math.abs(px) < 0.9) (1.0, 0.0, 0.0)
        else if (guard <= 1 && math.abs(py) < 0.9) (0.0, 1.0, 0.0)
        else (0.0, 0.0, 1.0)
      var tx = py * az - pz * ay
      var ty = pz * ax - px * az
      var tz = px * ay - py * ax
      val tn = math.sqrt(tx * tx + ty * ty + tz * tz)
      tx /= tn; ty /= tn; tz /= tn
      val nx = px + 1e-9 * tx; val ny = py + 1e-9 * ty; val nz = pz + 1e-9 * tz
      val nn = math.sqrt(nx * nx + ny * ny + nz * nz)
      px = nx / nn; py = ny / nn; pz = nz / nn
    }
    def leftOf(cs: Array[Coordinate]): Boolean = {
      val sigma = if (signedRingExcess(cs) >= 0) 1.0 else -1.0
      var guard = 0
      var s = ringWinding(cs, px, py, pz)
      while (s.isNaN && guard < 3) {
        nudge(guard); guard += 1
        s = ringWinding(cs, px, py, pz)
      }
      !s.isNaN && s > math.Pi * sigma
    }
    def polyIn(p: Polygon): Boolean =
      leftOf(p.getExteriorRing.getCoordinates) &&
        (0 until p.getNumInteriorRing).forall(i =>
          leftOf(p.getInteriorRingN(i).getCoordinates))
    def walk(geom: Geometry): Boolean = geom match {
      case _ if geom.isEmpty => false
      case p: Polygon => polyIn(p)
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).exists(i => walk(c.getGeometryN(i)))
      case _ => false
    }
    walk(g)
  }

  /** WINDING-AWARE spherical area: the polygon is the intersection of
    * its rings' left regions, and each ring's left-region area is its
    * signed excess E normalized to [0, 4π) (E when authored CCW around
    * its small side, 4π+E when CW — the complement). Intersecting k
    * nested left regions overcounts the full sphere k−1 times, so
    * area = Σ leftArea(ring) − (k−1)·4π — which reduces to the usual
    * shell-minus-holes for conventionally-wound polygons and to 4π−A
    * for a lone clockwise (complement) shell. */
  def areaOriented(g: Geometry): Any = g match {
    case p: Polygon =>
      def leftArea(cs: Array[org.locationtech.jts.geom.Coordinate]): Double = {
        val e = signedRingExcess(cs)
        if (e < 0) 4 * math.Pi + e else e
      }
      var a = leftArea(p.getExteriorRing.getCoordinates)
      var i = 0
      while (i < p.getNumInteriorRing) {
        a += leftArea(p.getInteriorRingN(i).getCoordinates) - 4 * math.Pi
        i += 1
      }
      math.max(0.0, a) * R * R
    case m: MultiPolygon =>
      (0 until m.getNumGeometries).map(i =>
        areaOriented(m.getGeometryN(i)).asInstanceOf[Double]).sum
    case gc: org.locationtech.jts.geom.GeometryCollection =>
      (0 until gc.getNumGeometries).map(i =>
        areaOriented(gc.getGeometryN(i)).asInstanceOf[Double]).sum
    case _ => 0.0
  }

  /** WINDING-AWARE spherical intersects: do the oriented regions of `a`
    * and `b` meet (closed-region contact counts)? Non-areal `b` is its
    * own point/arc set. Complete by the no-crossing argument: if the
    * interiors overlap and no boundary arcs cross, some whole ring of
    * one boundary lies inside the other region's closure, so its
    * vertices witness the overlap; partial (Venn) overlaps are caught by
    * the arc-crossing sweep even when every vertex is outside. */
  def intersectsOriented(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    def vertexIn(container: Geometry, g: Geometry): Boolean = {
      val cs = g.getCoordinates
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        if (coversPointOriented(container, c.x, c.y) ||
            boundaryAngle(container, c.x, c.y) <= 1e-9) return true
        i += 1
      }
      false
    }
    if (vertexIn(a, b)) return true
    if (b.getDimension == 2 && vertexIn(b, a)) return true
    val (_, aa) = decompose(a)
    val (_, ab) = decompose(b)
    var i = 0
    while (i < aa.length) {
      var j = 0
      while (j < ab.length) {
        if (arcsCross(aa(i)._1, aa(i)._2, ab(j)._1, ab(j)._2)) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** WINDING-AWARE spherical covers: `b` lies within the closed oriented
    * region of `a`. Conditions: every `b` vertex inside-or-on `a`, no
    * proper boundary crossings, and no `a`-boundary vertex STRICTLY
    * interior to an areal oriented `b` — a ring of `a` inside `b`'s
    * interior puts ground `a` excludes inside `b` (the band-vs-cap case
    * vertex tests alone would miss). Boundary-coincident contact
    * classifies covered (~1e-9 rad tolerance, as coversGeom). */
  def coversGeomOriented(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    val cs = b.getCoordinates
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (!coversPointOriented(a, c.x, c.y) && boundaryAngle(a, c.x, c.y) > 1e-9)
        return false
      i += 1
    }
    val (_, aa) = decompose(a)
    val (_, ab) = decompose(b)
    i = 0
    while (i < aa.length) {
      var j = 0
      while (j < ab.length) {
        if (arcsCross(aa(i)._1, aa(i)._2, ab(j)._1, ab(j)._2,
            excludeEndpoints = true)) return false
        j += 1
      }
      i += 1
    }
    if (b.getDimension == 2) {
      val as = a.getCoordinates
      i = 0
      while (i < as.length) {
        val c = as(i)
        if (coversPointOriented(b, c.x, c.y) && boundaryAngle(b, c.x, c.y) > 1e-9)
          return false
        i += 1
      }
    }
    true
  }

  // ---- oriented boolean ops: arc split + midpoint classify + stitch ----

  /** Geodesic arc crossing POINT (transversal INTERIOR crossing of both
    * arcs — endpoint contact excluded, unlike [[crossingPoint]]), or
    * None. Returns the shared point so both arcs split at the
    * bit-identical vector. */
  private def transversalCrossing(a: Array[Double], b: Array[Double],
      c: Array[Double], d: Array[Double]): Option[Array[Double]] = {
    val n1x = a(1) * b(2) - a(2) * b(1); val n1y = a(2) * b(0) - a(0) * b(2)
    val n1z = a(0) * b(1) - a(1) * b(0)
    val n2x = c(1) * d(2) - c(2) * d(1); val n2y = c(2) * d(0) - c(0) * d(2)
    val n2z = c(0) * d(1) - c(1) * d(0)
    var tx = n1y * n2z - n1z * n2y
    var ty = n1z * n2x - n1x * n2z
    var tz = n1x * n2y - n1y * n2x
    val tn = math.sqrt(tx * tx + ty * ty + tz * tz)
    if (tn < 1e-18) return None
    tx /= tn; ty /= tn; tz /= tn
    def onArc(px: Double, py: Double, pz: Double,
        u: Array[Double], v: Array[Double]): Boolean =
      angV(u(0), u(1), u(2), px, py, pz) + angV(px, py, pz, v(0), v(1), v(2)) <=
        angV(u(0), u(1), u(2), v(0), v(1), v(2)) + 1e-12
    def nearEnd(px: Double, py: Double, pz: Double): Boolean =
      Seq(a, b, c, d).exists { e =>
        val dx = e(0) - px; val dy = e(1) - py; val dz = e(2) - pz
        dx * dx + dy * dy + dz * dz < 1e-18
      }
    def hit(px: Double, py: Double, pz: Double): Option[Array[Double]] =
      if (onArc(px, py, pz, a, b) && onArc(px, py, pz, c, d) &&
        !nearEnd(px, py, pz)) Some(Array(px, py, pz)) else None
    hit(tx, ty, tz).orElse(hit(-tx, -ty, -tz))
  }

  private def toLonLat(v: Array[Double]): (Double, Double) =
    (math.toDegrees(math.atan2(v(1), v(0))),
      math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, v(2))))))

  private def ringEdgeVecs(g: Geometry): Array[(Array[Double], Array[Double])] = {
    val edges = Array.newBuilder[(Array[Double], Array[Double])]
    def addRing(cs: Array[Coordinate]): Unit = {
      // one vector per DISTINCT vertex, the closing edge reusing the
      // first instance — adjacency keys stay bit-exact around the seam
      val n = cs.length - 1
      val vs = Array.tabulate(n)(i => vecOf(cs(i)))
      var i = 0
      while (i < n) { edges += ((vs(i), vs((i + 1) % n))); i += 1 }
    }
    def walk(geom: Geometry): Unit = geom match {
      case p: Polygon =>
        addRing(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach(i =>
          addRing(p.getInteriorRingN(i).getCoordinates))
      case mp: MultiPolygon =>
        (0 until mp.getNumGeometries).foreach(i => walk(mp.getGeometryN(i)))
      case _ => throw new IllegalArgumentException(
        "oriented overlay: POLYGON/MULTIPOLYGON inputs only")
    }
    walk(g)
    edges.result()
  }

  /** A point a hair to the LEFT of the ring (just inside the region it
    * bounds): midpoint of the longest edge, offset by 1e-6 rad along
    * m̂ × t̂ (the left normal of travel). Used to group stitched rings
    * into connected components. */
  private def justInside(cs: Array[Coordinate]): (Double, Double) = {
    val n = cs.length - 1
    var best = -1.0; var bi = 0
    var i = 0
    while (i < n) {
      val (ax, ay, az) = unitVec(cs(i).x, cs(i).y)
      val (bx, by, bz) = unitVec(cs(i + 1).x, cs(i + 1).y)
      val d = angV(ax, ay, az, bx, by, bz)
      if (d > best) { best = d; bi = i }
      i += 1
    }
    val (ax, ay, az) = unitVec(cs(bi).x, cs(bi).y)
    val (bx, by, bz) = unitVec(cs(bi + 1).x, cs(bi + 1).y)
    var mx = ax + bx; var my = ay + by; var mz = az + bz
    val mn = math.sqrt(mx * mx + my * my + mz * mz)
    mx /= mn; my /= mn; mz /= mn
    // tangent along travel at the midpoint: b projected off m
    var tx = bx - (mx * bx + my * by + mz * bz) * mx
    var ty = by - (mx * bx + my * by + mz * bz) * my
    var tz = bz - (mx * bx + my * by + mz * bz) * mz
    val tn = math.sqrt(tx * tx + ty * ty + tz * tz)
    tx /= tn; ty /= tn; tz /= tn
    val lx = my * tz - mz * ty
    val ly = mz * tx - mx * tz
    val lz = mx * ty - my * tx
    val px = mx + 1e-6 * lx; val py = my + 1e-6 * ly; val pz = mz + 1e-6 * lz
    val pn = math.sqrt(px * px + py * py + pz * pz)
    toLonLat(Array(px / pn, py / pn, pz / pn))
  }

  /** Group stitched rings into connected components: each ring's
    * just-inside sample collects the set of rings whose left region
    * contains it (always including the ring itself; redundant rings
    * whose constraint is vacuous over the component are harmless), and
    * identical sets collapse. One group → a single conjunctive Polygon;
    * several → a MultiPolygon (membership = exists over components). */
  private def assemble(gf: org.locationtech.jts.geom.GeometryFactory,
      rs: Array[Array[Coordinate]]): Geometry = {
    if (rs.isEmpty) return gf.createPolygon()
    if (rs.length == 1)
      return gf.createPolygon(gf.createLinearRing(rs.head))
    val singles = rs.map(r => gf.createPolygon(gf.createLinearRing(r)))
    val groups = rs.indices.map { i =>
      val (lon, lat) = justInside(rs(i))
      rs.indices.filter(j => coversPointOriented(singles(j), lon, lat)).toList
    }.distinct
    if (groups.length == 1)
      gf.createPolygon(gf.createLinearRing(rs(groups.head.head)),
        groups.head.tail.map(j => gf.createLinearRing(rs(j))).toArray)
    else gf.createMultiPolygon(groups.map { g =>
      gf.createPolygon(gf.createLinearRing(rs(g.head)),
        g.tail.map(j => gf.createLinearRing(rs(j))).toArray)
    }.toArray)
  }

  /** Oriented boolean INTERSECTION of two oriented polygons. Every
    * boundary arc splits at its transversal crossings with the other
    * boundary (crossing points computed ONCE and shared, so stitch keys
    * are bit-exact); a sub-arc survives iff its midpoint lies inside the
    * other ORIENTED region; kept sub-arcs stitch into rings by endpoint
    * adjacency. The construction needs no case analysis: whole rings
    * inside the other region survive intact (nesting, bands,
    * complement∩complement), redundant rings drop because their
    * midpoints test outside, and kept arcs keep their authored travel
    * direction so result rings carry the correct orientation by
    * construction (the region stays on the LEFT). Degenerate contact —
    * tangencies, crossings at vertices, coincident boundary arcs — is
    * out of contract. Empty intersection returns POLYGON EMPTY. */
  def intersectionOriented(a: Geometry, b: Geometry): Geometry = {
    val gf = graft.geom.GeomIO.factory
    if (a == null || b == null) return null
    if (a.isEmpty || b.isEmpty) return gf.createPolygon()
    val ea = ringEdgeVecs(a)
    val eb = ringEdgeVecs(b)
    val splitsA = Array.fill(ea.length)(List.empty[Array[Double]])
    val splitsB = Array.fill(eb.length)(List.empty[Array[Double]])
    var i = 0
    while (i < ea.length) {
      var j = 0
      while (j < eb.length) {
        transversalCrossing(ea(i)._1, ea(i)._2, eb(j)._1, eb(j)._2).foreach { p =>
          splitsA(i) ::= p; splitsB(j) ::= p
        }
        j += 1
      }
      i += 1
    }
    // DEGENERATE CONTACT (tangencies, T-crossings at vertices, coincident
    // arcs): transversalCrossing deliberately drops crossings at edge
    // endpoints, so a vertex of one polygon lying ON an edge of the other
    // would leave that edge unsplit and its midpoint classification wrong
    // (half in, half out). Snap each such vertex into the edge's split
    // set, REUSING the vertex's exact vector instance — the other
    // polygon's arcs already start/end on that instance, so the stitch
    // adjacency keys stay bit-identical. This also registers the
    // endpoints of coincident-arc overlaps, making coincident sub-arc
    // pairs align exactly (handled below). Contact must be coordinate-
    // exact (shared vertices / points on meridian- or equator-aligned
    // edges); near-miss contact within float noise stays out of contract.
    def snapVertices(verts: Array[Array[Double]],
        edges: Array[(Array[Double], Array[Double])],
        splits: Array[List[Array[Double]]]): Unit =
      edges.indices.foreach { j =>
        val (c, d) = edges(j)
        val span = angV(c(0), c(1), c(2), d(0), d(1), d(2))
        verts.foreach { w =>
          val nearC = {
            val dx = w(0) - c(0); val dy = w(1) - c(1); val dz = w(2) - c(2)
            dx * dx + dy * dy + dz * dz < 1e-18
          }
          val nearD = {
            val dx = w(0) - d(0); val dy = w(1) - d(1); val dz = w(2) - d(2)
            dx * dx + dy * dy + dz * dz < 1e-18
          }
          if (!nearC && !nearD &&
            angV(c(0), c(1), c(2), w(0), w(1), w(2)) +
              angV(w(0), w(1), w(2), d(0), d(1), d(2)) <= span + 1e-12)
            splits(j) ::= w
        }
      }
    snapVertices(ea.map(_._1), eb, splitsB)
    snapVertices(eb.map(_._1), ea, splitsA)
    def subArcs(edges: Array[(Array[Double], Array[Double])],
        splits: Array[List[Array[Double]]]): Array[(Array[Double], Array[Double])] =
      edges.indices.toArray.flatMap { k =>
        val (u, v) = edges(k)
        val chain = (u +: splits(k).sortBy(p =>
          angV(u(0), u(1), u(2), p(0), p(1), p(2))) :+ v).toArray
        (0 until chain.length - 1).flatMap { s =>
          val (p, q) = (chain(s), chain(s + 1))
          // degenerate slivers (crossing ~at an endpoint) drop
          if (angV(p(0), p(1), p(2), q(0), q(1), q(2)) < 1e-12) None
          else Some((p, q))
        }
      }
    def keep(subs: Array[(Array[Double], Array[Double])],
        other: Geometry): Array[(Array[Double], Array[Double])] =
      subs.filter { case (s, e) =>
        val mx = s(0) + e(0); val my = s(1) + e(1); val mz = s(2) + e(2)
        val mn = math.sqrt(mx * mx + my * my + mz * mz)
        if (mn < 1e-12) false // antipodal endpoints: out of contract
        else {
          val (lon, lat) = toLonLat(Array(mx / mn, my / mn, mz / mn))
          coversPointOriented(other, lon, lat)
        }
      }
    // COINCIDENT sub-arcs (shared boundary segments): after the vertex
    // snapping above, an a-sub-arc lying on b's boundary coincides
    // bit-exactly with a b-sub-arc. Same direction = both interiors on
    // the arc's left: it IS intersection boundary — keep exactly one
    // copy (a midpoint test would be a knife-edge on the boundary).
    // Opposite direction = interiors on opposite sides (adjacent
    // regions): the arc bounds no intersection area — keep neither.
    // Under the union-by-de-Morgan route the opposite-direction rule is
    // what merges adjacent polygons without an internal seam.
    def key(v: Array[Double]) = (v(0), v(1), v(2))
    val subsA = subArcs(ea, splitsA)
    val subsB = subArcs(eb, splitsB)
    def k2(s: (Array[Double], Array[Double])) = (key(s._1), key(s._2))
    val aKeys = subsA.map(k2).toSet
    val bKeys = subsB.map(k2).toSet
    def coSame(s: (Array[Double], Array[Double]), o: Set[((Double, Double, Double), (Double, Double, Double))]) =
      o(k2(s))
    def coOpp(s: (Array[Double], Array[Double]), o: Set[((Double, Double, Double), (Double, Double, Double))]) =
      o((key(s._2), key(s._1)))
    val aPlain = subsA.filterNot(s => coSame(s, bKeys) || coOpp(s, bKeys))
    val aShared = subsA.filter(s => coSame(s, bKeys))
    val bPlain = subsB.filterNot(s => coSame(s, aKeys) || coOpp(s, aKeys))
    val kept = keep(aPlain, b) ++ aShared ++ keep(bPlain, a)
    if (kept.isEmpty) return gf.createPolygon()
    // stitch: exact-double adjacency (shared crossing instances + one
    // vector instance per original vertex make keys bit-identical)
    val outgoing = scala.collection.mutable.Map
      .empty[(Double, Double, Double), List[Int]]
    kept.indices.foreach { k =>
      val s = key(kept(k)._1)
      outgoing(s) = k :: outgoing.getOrElse(s, Nil)
    }
    val used = new Array[Boolean](kept.length)
    val rings = Array.newBuilder[Array[Coordinate]]
    kept.indices.foreach { start =>
      if (!used(start)) {
        val pts = Array.newBuilder[Coordinate]
        var cur = start
        val startKey = key(kept(start)._1)
        var guard = 0
        var ok = true
        while (ok && guard <= kept.length) {
          used(cur) = true
          val (s, e) = kept(cur)
          val (lon, lat) = toLonLat(s)
          pts += new Coordinate(lon, lat)
          val ek = key(e)
          if (ek == startKey) ok = false // ring closed
          else outgoing.getOrElse(ek, Nil).find(!used(_)) match {
            case Some(nxt) => cur = nxt
            case None => ok = false; pts.clear() // dangling: degenerate input
          }
          guard += 1
        }
        val ring = pts.result()
        if (ring.length >= 3) rings += (ring :+ ring(0).copy())
      }
    }
    assemble(gf, rings.result())
  }

  /** Oriented complement. A Polygon is the CONJUNCTION of its rings'
    * left regions, so its complement is the DISJUNCTION of the reversed
    * rings — a MultiPolygon of single-ring polygons (de Morgan). A
    * MultiPolygon of single-ring components complements back to the
    * conjunctive Polygon. A MultiPolygon with holed components would
    * complement to an intersection of unions — not representable in
    * this encoding — and throws (loudly, rather than silently wrong). */
  private def complementOriented(g: Geometry): Geometry = {
    val gf = graft.geom.GeomIO.factory
    def rev(r: org.locationtech.jts.geom.LinearRing) =
      gf.createLinearRing(r.getCoordinates.reverse)
    g match {
      case p: Polygon if p.getNumInteriorRing == 0 =>
        gf.createPolygon(rev(p.getExteriorRing))
      case p: Polygon =>
        gf.createMultiPolygon(
          (rev(p.getExteriorRing) +: (0 until p.getNumInteriorRing).map(i =>
            rev(p.getInteriorRingN(i)))).map(gf.createPolygon).toArray)
      case mp: MultiPolygon =>
        val comps = (0 until mp.getNumGeometries)
          .map(mp.getGeometryN(_).asInstanceOf[Polygon])
        if (comps.exists(_.getNumInteriorRing > 0))
          throw new IllegalArgumentException(
            "oriented complement: holed multipolygon components are not " +
              "representable in the oriented encoding")
        val rings = comps.map(c => rev(c.getExteriorRing))
        gf.createPolygon(rings.head, rings.tail.toArray)
      case other => other
    }
  }

  /** Oriented boolean DIFFERENCE: A \ B = A ∩ complement(B). Empty B
    * subtracts nothing; empty A stays empty. */
  def differenceOriented(a: Geometry, b: Geometry): Geometry = {
    if (a == null || b == null) return null
    if (a.isEmpty || b.isEmpty) return a
    intersectionOriented(a, complementOriented(b))
  }

  /** Oriented boolean UNION via de Morgan: A ∪ B =
    * complement(comp(A) ∩ comp(B)), with [[complementOriented]] moving
    * between the conjunctive (Polygon) and disjunctive (MultiPolygon)
    * encodings. A union covering the FULL sphere (e.g. two complements
    * of disjoint caps) has no boundary and is not representable —
    * that case throws. */
  def unionOriented(a: Geometry, b: Geometry): Geometry = {
    if (a == null || b == null) return null
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val r = intersectionOriented(complementOriented(a), complementOriented(b))
    if (r.isEmpty) throw new IllegalArgumentException(
      "st_unionsphereoriented: result covers the full sphere (no boundary)")
    complementOriented(r)
  }

  /** First coordinate of each connected component — the containment
    * representatives for polygon-vs-geometry distance: if a component
    * lies inside a polygon without its boundary crossing the shell, its
    * first vertex is inside. */
  private def componentReps(g: Geometry): Seq[Coordinate] = g match {
    case _ if g.isEmpty => Nil
    case c: org.locationtech.jts.geom.GeometryCollection =>
      (0 until c.getNumGeometries).flatMap(i => componentReps(c.getGeometryN(i)))
    case p: Polygon => Seq(p.getExteriorRing.getCoordinateN(0))
    case _ => g.getCoordinates.headOption.toSeq
  }

  /** Does some polygonal component of `container` spherically cover a
    * representative vertex of `other`? Combined with the arc-crossing
    * test this is a complete interior-overlap check: a component of
    * `other` inside `container` either has its rep vertex inside or its
    * boundary crosses the shell. */
  /** Minimum central angle from (lon, lat) to the boundary arc set of
    * `g` — the on-boundary tolerance for coversGeom's vertex test. */
  private def boundaryAngle(g: Geometry, lon: Double, lat: Double): Double = {
    val (px, py, pz) = unitVec(lon, lat)
    val (va, aa) = decompose(g)
    var best = Double.MaxValue
    if (aa.isEmpty) {
      var i = 0
      while (i < va.length) {
        val v = va(i)
        best = math.min(best, angV(px, py, pz, v(0), v(1), v(2)))
        i += 1
      }
    } else {
      var i = 0
      while (i < aa.length) {
        val (u, v) = aa(i)
        best = math.min(best, pointArcAngle(px, py, pz,
          u(0), u(1), u(2), v(0), v(1), v(2)))
        i += 1
      }
    }
    best
  }

  /** Spherical covers(a, b): b lies within the closed region of `a`.
    * Areal a: every vertex of b inside or on a's boundary (~1e-9 rad
    * tolerance), no geodesic boundary arcs properly crossing, and no
    * interior ring of a poking into an areal b. Linear a: b (dim ≤ 1)
    * lies on a's arc set — exact interval coverage along each b-arc's
    * great circle, so a b-edge spanning several collinear a-edges still
    * covers. Point a: coincident point content. The S2 geography
    * containment surface (c/sedona-s2geography/src/kernels.rs
    * st_contains/within) under the same smaller-side polygon contract as
    * coversPoint. Interiors touching along shared boundary segments ride
    * the arc-crossing test's coplanar exemption; isolated
    * boundary-contact crossings classify conservatively as not-covered. */
  def coversGeom(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null || a.isEmpty || b.isEmpty) return false
    if (a.getDimension == 0) {
      if (b.getDimension != 0) return false
      val (va, _) = decompose(a)
      val cs = b.getCoordinates
      var i = 0
      while (i < cs.length) {
        val (px, py, pz) = unitVec(cs(i).x, cs(i).y)
        var hit = false
        var j = 0
        while (j < va.length && !hit) {
          val v = va(j)
          hit = angV(px, py, pz, v(0), v(1), v(2)) <= 1e-9
          j += 1
        }
        if (!hit) return false
        i += 1
      }
      return true
    }
    if (a.getDimension == 1) return b.getDimension <= 1 && linearCovers(a, b)
    val cs = b.getCoordinates
    var i = 0
    while (i < cs.length) {
      val c = cs(i)
      if (!coversPoint(a, c.x, c.y) && boundaryAngle(a, c.x, c.y) > 1e-9)
        return false
      i += 1
    }
    val (_, aa) = decompose(a)
    val (_, ab) = decompose(b)
    i = 0
    while (i < aa.length) {
      var j = 0
      while (j < ab.length) {
        if (arcsCross(aa(i)._1, aa(i)._2, ab(j)._1, ab(j)._2,
            excludeEndpoints = true)) return false
        j += 1
      }
      i += 1
    }
    if (b.getDimension == 2) {
      // a hole of `a` strictly inside areal b means b covers ground a
      // excludes; a hole crossing b's boundary was caught above
      def holes(geom: Geometry): Boolean = geom match {
        case p: Polygon =>
          (0 until p.getNumInteriorRing).forall { k =>
            val rep = p.getInteriorRingN(k).getCoordinateN(0)
            !coversPoint(b, rep.x, rep.y)
          }
        case c: org.locationtech.jts.geom.GeometryCollection =>
          (0 until c.getNumGeometries).forall(k => holes(c.getGeometryN(k)))
        case _ => true
      }
      if (!holes(a)) return false
    }
    true
  }

  /** Linear covers (dim-1 container): every vertex of b on a's arcs or
    * isolated vertices, and every geodesic arc of b covered by the
    * UNION of a's coplanar arcs — interval arithmetic along the b-arc's
    * great circle (two non-antipodal points on a great circle pin it
    * uniquely, so endpoint-on-plane implies the whole a-arc is on the
    * circle). Closes the ADVICE r7 polygonal-container-only gap. */
  private def linearCovers(a: Geometry, b: Geometry): Boolean = {
    val tol = 1e-9
    val (va, aa) = decompose(a)
    def onA(p: Array[Double]): Boolean = {
      var i = 0
      while (i < aa.length) {
        val (u, v) = aa(i)
        if (pointArcAngle(p(0), p(1), p(2), u(0), u(1), u(2),
            v(0), v(1), v(2)) <= tol) return true
        i += 1
      }
      i = 0
      while (i < va.length) {
        val v = va(i)
        if (angV(p(0), p(1), p(2), v(0), v(1), v(2)) <= tol) return true
        i += 1
      }
      false
    }
    val (vb, ab) = decompose(b)
    var i = 0
    while (i < vb.length) { if (!onA(vb(i))) return false; i += 1 }
    i = 0
    while (i < ab.length) {
      val (u, v) = ab(i)
      val len = angV(u(0), u(1), u(2), v(0), v(1), v(2))
      if (len > tol) {
        var nx = u(1) * v(2) - u(2) * v(1)
        var ny = u(2) * v(0) - u(0) * v(2)
        var nz = u(0) * v(1) - u(1) * v(0)
        val nn = math.sqrt(nx * nx + ny * ny + nz * nz)
        if (nn < 1e-18) return false // near-antipodal b-arc: circle undefined
        nx /= nn; ny /= nn; nz /= nn
        // circle frame: u at angle 0, v at angle `len`, w = n × u
        val wx = ny * u(2) - nz * u(1)
        val wy = nz * u(0) - nx * u(2)
        val wz = nx * u(1) - ny * u(0)
        val ivs = Array.newBuilder[(Double, Double)]
        var j = 0
        while (j < aa.length) {
          val (p, q) = aa(j)
          if (math.abs(p(0) * nx + p(1) * ny + p(2) * nz) <= tol &&
              math.abs(q(0) * nx + q(1) * ny + q(2) * nz) <= tol) {
            val tp = math.atan2(p(0) * wx + p(1) * wy + p(2) * wz,
              p(0) * u(0) + p(1) * u(1) + p(2) * u(2))
            val tq = math.atan2(q(0) * wx + q(1) * wy + q(2) * wz,
              q(0) * u(0) + q(1) * u(1) + q(2) * u(2))
            // the a-arc spans the SHORT way between tp and tq
            if (math.abs(tp - tq) <= math.Pi) {
              ivs += ((math.min(tp, tq), math.max(tp, tq)))
            } else { // wraps across ±π
              ivs += ((math.max(tp, tq), math.Pi))
              ivs += ((-math.Pi, math.min(tp, tq)))
            }
          }
          j += 1
        }
        val sorted = ivs.result()
          .filter(iv => iv._2 >= -tol && iv._1 <= len + tol).sortBy(_._1)
        var reach = 0.0
        var k = 0
        while (k < sorted.length && reach < len - tol) {
          val (s, e) = sorted(k)
          if (s > reach + tol) return false
          if (e > reach) reach = e
          k += 1
        }
        if (reach < len - tol) return false
      }
      i += 1
    }
    true
  }

  /** Odd-degree (mod-2) endpoints of the linear components — the
    * topological boundary of a dim-1 geometry, as unit vectors. Closed
    * rings and even-degree junctions contribute nothing. */
  private def linearBoundaryVecs(g: Geometry): Seq[Array[Double]] = {
    val counts =
      scala.collection.mutable.LinkedHashMap[(Long, Long), (Int, Array[Double])]()
    def add(c: Coordinate): Unit = {
      var lon = ((c.x + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      if (lon == 180.0) lon = -180.0
      if (math.abs(c.y) >= 90.0 - 1e-12) lon = 0.0
      val k = (math.round(lon * 1e9), math.round(c.y * 1e9))
      val (px, py, pz) = unitVec(c.x, c.y)
      val prev = counts.getOrElse(k, (0, Array(px, py, pz)))
      counts(k) = (prev._1 + 1, prev._2)
    }
    def walk(geom: Geometry): Unit = geom match {
      case l: LineString if !l.isEmpty && !l.isClosed =>
        add(l.getCoordinateN(0)); add(l.getCoordinateN(l.getNumPoints - 1))
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case _ =>
    }
    walk(g)
    counts.values.collect { case (n, v) if n % 2 == 1 => v }.toSeq
  }

  /** Spherical contains (the reference's geography ST_Contains,
    * tests/geography/test_geog_predicates.py): covers PLUS an interior
    * witness — some point of b strictly inside a — so a point lying
    * only on a's boundary is NOT contained while a polygon sharing
    * boundary segments (or equal to a) is. Witnesses: b's vertices,
    * geodesic edge midpoints, and pointOnSurface(b) (the identity case,
    * where every vertex sits on the boundary — guaranteed interior even
    * for concave b, unlike the centroid). */
  def containsGeom(a: Geometry, b: Geometry): Boolean = {
    if (!coversGeom(a, b)) return false
    // point container: boundary is empty, contains == covers
    if (a.getDimension == 0) return true
    if (a.getDimension == 1) {
      // linear container: boundary = odd-degree endpoints (mod-2 rule);
      // witness = some point of b clear of that endpoint set
      val bnd = linearBoundaryVecs(a)
      if (bnd.isEmpty) return true // closed rings have no boundary
      def clear(p: Array[Double]): Boolean =
        bnd.forall(e => angV(p(0), p(1), p(2), e(0), e(1), e(2)) > 1e-9)
      val (vb, ab) = decompose(b)
      if (vb.exists(clear)) return true
      return ab.exists { case (u, v) =>
        val mx = u(0) + v(0); val my = u(1) + v(1); val mz = u(2) + v(2)
        val mn = math.sqrt(mx * mx + my * my + mz * mz)
        mn > 1e-12 && clear(Array(mx / mn, my / mn, mz / mn))
      }
    }
    // interior witness: strictly inside AND clear of the boundary (a
    // point AT a ring vertex rides the degeneracy nudge and could
    // classify either way — the boundary-distance check settles it)
    def interior(lon: Double, lat: Double): Boolean =
      coversPoint(a, lon, lat) && boundaryAngle(a, lon, lat) > 1e-9
    val cs = b.getCoordinates
    var i = 0
    while (i < cs.length) {
      if (interior(cs(i).x, cs(i).y)) return true
      i += 1
    }
    // edge midpoints (slerp), then the spherical centroid
    val (_, ab) = decompose(b)
    i = 0
    while (i < ab.length) {
      val (u, v) = ab(i)
      val mx = u(0) + v(0); val my = u(1) + v(1); val mz = u(2) + v(2)
      val mn = math.sqrt(mx * mx + my * my + mz * mz)
      if (mn > 1e-12) {
        val c = lonLatOf(Array(mx / mn, my / mn, mz / mn))
        if (interior(c.x, c.y)) return true
      }
      i += 1
    }
    // final witness: pointOnSurface is guaranteed interior for areal b
    // (the centroid of a concave b falls in the notch — outside b and
    // outside a for a == b, which broke a-contains-a reflexivity)
    pointOnSurface(b) match {
      case p: Point if !p.isEmpty => interior(p.getX, p.getY)
      case _ => false
    }
  }

  /** Spherical equals (geography ST_Equals pins,
    * tests/geography/test_geog_predicates.py): two empties are equal
    * regardless of type; areal pairs compare as covers-both-ways
    * (rotated ring starts ride the boundary tolerance); point/line
    * content compares as canonical component sets — so
    * GEOMETRYCOLLECTION (POINT (0 0)) equals POINT (0 0), and reversed
    * linestrings equal their forward form. */
  def equalsGeom(a: Geometry, b: Geometry): Boolean = {
    if (a == null || b == null) return false
    if (a.isEmpty && b.isEmpty) return true
    if (a.isEmpty || b.isEmpty) return false
    val da = a.getDimension; val db = b.getDimension
    if (da != db) return false
    if (da == 2) coversGeom(a, b) && coversGeom(b, a)
    else canonicalParts(a) == canonicalParts(b)
  }

  /** Canonical (type, normalized-coords) component set for dim ≤ 1
    * geometry content: lon normalized to [-180, 180) (pole points get
    * lon 0), 1e-9-deg quantized; linestrings take the lexicographically
    * smaller of forward/reversed. */
  private def canonicalParts(g: Geometry): Set[(String, Vector[(Long, Long)])] = {
    def n(c: Coordinate): (Long, Long) = {
      var lon = ((c.x + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      if (lon == 180.0) lon = -180.0
      if (math.abs(c.y) >= 90.0 - 1e-12) lon = 0.0
      (math.round(lon * 1e9), math.round(c.y * 1e9))
    }
    val out = scala.collection.mutable.Set[(String, Vector[(Long, Long)])]()
    def walk(geom: Geometry): Unit = geom match {
      case _ if geom.isEmpty =>
      case p: Point => out += (("P", Vector(n(p.getCoordinate))))
      case l: LineString =>
        val fwd = l.getCoordinates.toVector.map(n)
        val rev = fwd.reverse
        out += (("L", Seq(fwd, rev).min(Ordering.Implicits.seqOrdering[Vector, (Long, Long)])))
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case other => out += ((other.getGeometryType, other.getCoordinates.toVector.map(n)))
    }
    walk(g)
    out.toSet
  }

  private def polyCoversRep(container: Geometry, other: Geometry): Boolean = {
    if (container.getDimension < 2) return false
    val reps = componentReps(other)
    reps.exists(c => coversPoint(container, c.x, c.y))
  }

  def distance(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p: Point, q: Point) if !p.isEmpty && !q.isEmpty =>
      haversine(p.getX, p.getY, q.getX, q.getY)
    case _ if !a.isEmpty && !b.isEmpty =>
      // spherical containment/overlap: any shared interior -> 0 (the
      // crossing-arc test below catches boundary crossings; winding
      // containment catches fully-enclosed components, incl. pole caps
      // and dateline-crossing rings)
      if (polyCoversRep(a, b) || polyCoversRep(b, a))
        return 0.0
      val (va, aa) = decompose(a)
      val (vb, ab) = decompose(b)
      var best = Double.MaxValue
      // vertex-vertex always runs (see closestPoints: isolated point
      // components are not arc endpoints, so vertex-arc alone misses them)
      var i = 0
      while (i < va.length) {
        val p = va(i)
        var j = 0
        while (j < vb.length) {
          val q = vb(j)
          best = math.min(best, angV(p(0), p(1), p(2), q(0), q(1), q(2)))
          j += 1
        }
        j = 0
        while (j < ab.length) {
          val (u, v) = ab(j)
          best = math.min(best, pointArcAngle(p(0), p(1), p(2),
            u(0), u(1), u(2), v(0), v(1), v(2)))
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < vb.length && aa.nonEmpty) {
        val p = vb(i)
        var j = 0
        while (j < aa.length) {
          val (u, v) = aa(j)
          best = math.min(best, pointArcAngle(p(0), p(1), p(2),
            u(0), u(1), u(2), v(0), v(1), v(2)))
          j += 1
        }
        i += 1
      }
      if (best > 0) {
        var i2 = 0
        var crossed = false
        while (i2 < aa.length && !crossed) {
          var j = 0
          while (j < ab.length && !crossed) {
            if (arcsCross(aa(i2)._1, aa(i2)._2, ab(j)._1, ab(j)._2)) crossed = true
            j += 1
          }
          i2 += 1
        }
        if (crossed) best = 0.0
      }
      best * R
    case _ => null
  }

  /** Sum of per-segment haversines over linear components (geodesic
    * edges, the S2 edge model). Points and polygons measure 0 — the
    * reference's length/perimeter split (test_geog_measures.py). */
  def length(g: Geometry): Any = g match {
    case l: LineString =>
      val cs = l.getCoordinates
      var s = 0.0
      var i = 1
      while (i < cs.length) {
        s += haversine(cs(i - 1).x, cs(i - 1).y, cs(i).x, cs(i).y); i += 1
      }
      s
    case m: org.locationtech.jts.geom.MultiLineString =>
      (0 until m.getNumGeometries).map(i => length(m.getGeometryN(i)).asInstanceOf[Double]).sum
    case _: Point | _: MultiPoint | _: Polygon | _: MultiPolygon => 0.0
    case gc: org.locationtech.jts.geom.GeometryCollection =>
      (0 until gc.getNumGeometries).map(i => length(gc.getGeometryN(i)).asInstanceOf[Double]).sum
    case _ => 0.0
  }

  /** Geodesic-edge spherical ring area: signed l'Huilier triangle fan
    * from the first vertex — S2's edge model, matching the reference's
    * geography anchors (test_geog_measures.py) after the radius-constant
    * scaling. (The previous chart-edge lon-difference formula is exact
    * only for parallel-following edges and diverged up to ~1.6e-3 on
    * geodesic quads away from the equator.) */
  private def ringArea(cs: Array[org.locationtech.jts.geom.Coordinate]): Double =
    math.abs(signedRingExcess(cs)) * R * R

  /** Signed spherical excess of the ring (steradians), CCW positive —
    * the fan sum without the absolute value. Orientation source for the
    * smaller-side containment rule in inRingSphere. */
  private def signedRingExcess(cs: Array[org.locationtech.jts.geom.Coordinate]): Double = {
    if (cs.length < 4) return 0.0 // closed ring needs >= 3 distinct vertices
    val n = cs.length - 1
    val vx = new Array[Double](n)
    val vy = new Array[Double](n)
    val vz = new Array[Double](n)
    var i = 0
    while (i < n) {
      val lo = math.toRadians(cs(i).x)
      val la = math.toRadians(cs(i).y)
      vx(i) = math.cos(la) * math.cos(lo)
      vy(i) = math.cos(la) * math.sin(lo)
      vz(i) = math.sin(la)
      i += 1
    }
    @inline def ang(p: Int, q: Int): Double = {
      val dx = vx(p) - vx(q); val dy = vy(p) - vy(q); val dz = vz(p) - vz(q)
      2 * math.asin(math.min(1.0, math.sqrt(dx * dx + dy * dy + dz * dz) / 2))
    }
    var total = 0.0
    i = 1
    while (i < n - 1) {
      val a = ang(i, i + 1)
      val b = ang(0, i + 1)
      val c = ang(0, i)
      val s = (a + b + c) / 2
      val t = math.tan(s / 2) * math.tan((s - a) / 2) *
        math.tan((s - b) / 2) * math.tan((s - c) / 2)
      val e = 4 * math.atan(math.sqrt(math.max(0.0, t)))
      // fan-triangle orientation from the scalar triple product
      val sp = vx(0) * (vy(i) * vz(i + 1) - vz(i) * vy(i + 1)) +
        vy(0) * (vz(i) * vx(i + 1) - vx(i) * vz(i + 1)) +
        vz(0) * (vx(i) * vy(i + 1) - vy(i) * vx(i + 1))
      total += (if (sp >= 0) e else -e)
      i += 1
    }
    total
  }

  /** Spherical area of polygonal geometry (holes subtracted; collections
    * sum their polygonal members, everything else measures 0). */
  def area(g: Geometry): Any = g match {
    case p: Polygon =>
      ringArea(p.getExteriorRing.getCoordinates) -
        (0 until p.getNumInteriorRing).map(i => ringArea(p.getInteriorRingN(i).getCoordinates)).sum
    case m: MultiPolygon =>
      (0 until m.getNumGeometries).map(i => area(m.getGeometryN(i)).asInstanceOf[Double]).sum
    case gc: org.locationtech.jts.geom.GeometryCollection =>
      (0 until gc.getNumGeometries).map(i => area(gc.getGeometryN(i)).asInstanceOf[Double]).sum
    case _ => 0.0
  }

  /** `env` (a [[latLngBound]]) widened by `radiusM` meters of
    * great-circle distance: latitudes by r/R, clamped at the poles, and
    * longitudes by the exact spherical bound
    * |sin(dlam/2)| <= sin(r/2R)/cos(phi_max) (from the haversine
    * identity), so no point within the radius of `env` lies outside the
    * result. A box that reaches a pole, or whose widened longitudes span
    * the whole circle, is the full longitude ring, returned with
    * longitudes -inf..inf. The grid cover ([[gridCells]]) and the
    * broadcast index join's spherical probe both widen through here. */
  def radiusBound(env: org.locationtech.jts.geom.Envelope,
      radiusM: Double): org.locationtech.jts.geom.Envelope = {
    val out = new org.locationtech.jts.geom.Envelope()
    if (env.isNull) return out
    val dLat = math.toDegrees(radiusM / R)
    val poleTouch = env.getMaxY + dLat >= 90.0 || env.getMinY - dLat <= -90.0
    val lat0 = math.max(-90.0, env.getMinY - dLat)
    val lat1 = math.min(90.0, env.getMaxY + dLat)
    if (lat0 > lat1) return out
    val cosMax = math.cos(math.toRadians(math.max(math.abs(lat0), math.abs(lat1))))
    val sinHalf = math.sin(math.min(radiusM / (2 * R), math.Pi / 2))
    val fullRing = poleTouch || sinHalf >= cosMax ||
      { val dLon = math.toDegrees(2 * math.asin(sinHalf / cosMax))
        env.getWidth + 2 * dLon >= 360.0 }
    if (fullRing) out.init(Double.NegativeInfinity, Double.PositiveInfinity, lat0, lat1)
    else {
      val dLon = if (radiusM <= 0) 0.0 else math.toDegrees(2 * math.asin(sinHalf / cosMax))
      out.init(env.getMinX - dLon, env.getMaxX + dLon, lat0, lat1)
    }
    out
  }

  /** Compact cell cover of `env` widened by `radiusM` ([[radiusBound]]):
    * lat rows [cy0, cy1] × a circular lon range of `lonLen` cells
    * starting at `lonStart` (lonLen == nx ⇒ full ring; antimeridian wrap
    * is the modulo range). (-1, -1, 0, 0) encodes an empty cover. */
  private def coverOf(env: org.locationtech.jts.geom.Envelope,
      radiusM: Double, nx: Int, ny: Int): (Int, Int, Int, Int) = {
    val b = radiusBound(env, radiusM)
    if (b.isNull) return (-1, -1, 0, 0)
    def latIdx(lat: Double): Int = {
      val i = ((lat + 90.0) / 180.0 * ny).toInt
      if (i < 0) 0 else if (i >= ny) ny - 1 else i
    }
    val cy0 = latIdx(b.getMinY)
    val cy1 = latIdx(b.getMaxY)
    if (b.getWidth.isInfinite) (cy0, cy1, 0, nx)
    else {
      val cx0 = math.floor((b.getMinX + 180.0) / 360.0 * nx).toLong
      val cx1 = math.floor((b.getMaxX + 180.0) / 360.0 * nx).toLong
      val len = math.min(nx.toLong, cx1 - cx0 + 1).toInt
      ((cy0, cy1, (((cx0 % nx) + nx) % nx).toInt, len))
    }
  }

  /** Lat-lon grid cells covered by `env` expanded by `radiusM` meters of
    * great-circle distance — the partitioning kernel for the geography
    * (spherical) grid join, the analog of the reference's S2-covering
    * join (rust/sedona-spatial-join-geography). Grid: `nx` cells over lon
    * [-180,180) x `ny` over lat [-90,90], row-major id = latIdx*nx+lonIdx.
    */
  def gridCells(env: org.locationtech.jts.geom.Envelope,
      radiusM: Double, nx: Int, ny: Int): Array[Long] = {
    val (cy0, cy1, lonStart, lonLen) = coverOf(env, radiusM, nx, ny)
    if (cy1 < cy0) return Array.empty
    val out = new Array[Long]((cy1 - cy0 + 1) * lonLen)
    var k = 0
    var cy = cy0
    while (cy <= cy1) {
      var j = 0
      while (j < lonLen) {
        out(k) = cy.toLong * nx + (lonStart + j) % nx; k += 1; j += 1
      }
      cy += 1
    }
    out
  }

  /** Spherical lat/lng bound (S2 RectBounder): the chart envelope of the
    * vertices widened by each geodesic edge's poleward latitude bulge.
    * A great-circle arc between two points at latitude φ reaches beyond
    * φ between them (up to the circle's extremum latitude acos(|n_z|)),
    * so a chart envelope under-covers long high-latitude edges — and a
    * grid cover built from it could miss within-radius pairs. Longitude
    * is chart-exact for non-wrapping edges (< 180° span, the documented
    * contract), so only latitude needs the edge walk. */
  def latLngBound(g: Geometry): org.locationtech.jts.geom.Envelope = {
    val env = new org.locationtech.jts.geom.Envelope()
    def addEdges(cs: Array[Coordinate]): Unit = {
      var i = 0
      while (i < cs.length) {
        env.expandToInclude(cs(i).x, cs(i).y)
        if (i > 0) {
          val a = cs(i - 1); val b = cs(i)
          val (ax, ay, az) = unitVec(a.x, a.y)
          val (bx, by, bz) = unitVec(b.x, b.y)
          val nx = ay * bz - az * by
          val nyv = az * bx - ax * bz
          val nz = ax * by - ay * bx
          val nn = math.sqrt(nx * nx + nyv * nyv + nz * nz)
          // nz ~ 0 is a meridian-plane edge: latitude is monotonic along
          // it (pole crossings need 180°-apart endpoints, outside the
          // contract), so no bulge — and atan2(0,0) would misfire
          if (nn > 1e-18 && nx * nx + nyv * nyv > 1e-30 && math.abs(nz) > 1e-15) {
            // extremum latitude of the full circle and its longitude
            val latExt = math.toDegrees(math.acos(math.min(1.0, math.abs(nz) / nn)))
            // northernmost point: z - (z·n̂)n̂, i.e. (-nx·nz, -ny·nz, nx²+ny²)
            // (z-component nx²+ny² is positive, so this is the max-z
            // branch for either circle orientation)
            val px = -nx * nz; val py = -nyv * nz
            def norm(l: Double): Double = {
              val x = ((l + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
              if (x == -180.0 && l >= 0) 180.0 else x
            }
            val lonN = norm(math.toDegrees(math.atan2(py, px)))
            // short-arc containment (edges take the shorter great-circle
            // leg): a chart span > 180° means the edge wraps the
            // antimeridian, so the covered lon interval is the COMPLEMENT
            // of [lo, hi]. The previous raw-chart test admitted the
            // opposite extremum for wrapping edges, inflating polar-cap
            // bounds to near-global lat ranges (and their grid covers to
            // ~half the sphere).
            def within(l: Double): Boolean = {
              val lo = math.min(norm(a.x), norm(b.x))
              val hi = math.max(norm(a.x), norm(b.x))
              if (hi - lo <= 180.0) l >= lo && l <= hi else l >= hi || l <= lo
            }
            if (within(lonN)) env.expandToInclude(a.x, latExt)
            if (within(norm(lonN + 180.0))) env.expandToInclude(a.x, -latExt)
          }
        }
        i += 1
      }
    }
    def walk(geom: Geometry): Unit = geom match {
      case _ if geom.isEmpty =>
      case p: Point => env.expandToInclude(p.getX, p.getY)
      case l: LineString => addEdges(l.getCoordinates)
      case p: Polygon =>
        addEdges(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach(i =>
          addEdges(p.getInteriorRingN(i).getCoordinates))
        // a polygon whose interior covers a pole (a polar cap) has no
        // vertex there — widen to ±90 so the grid cover reaches the
        // interior (gridCells' poleTouch then emits the full lon ring).
        // Cheap gate first: under the short-arc edge contract a
        // pole-enclosing ring's vertices span ≥180° of chart longitude
        // (the max lon gap must stay <180°), and the smaller-side
        // interior can only hold a pole the ring reaches toward — so
        // narrow or wrong-hemisphere polygons skip the winding test.
        val pe = p.getEnvelopeInternal
        if (pe.getWidth >= 180.0) {
          val cx = p.getExteriorRing.getCoordinateN(0).x
          if (pe.getMaxY > 0 && coversPoint(p, 0.0, 90.0))
            env.expandToInclude(cx, 90.0)
          if (pe.getMinY < 0 && coversPoint(p, 0.0, -90.0))
            env.expandToInclude(cx, -90.0)
        }
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case other => env.expandToInclude(other.getEnvelopeInternal)
    }
    walk(g)
    env
  }

  /** S2-style lng/lat rect with ANTIMERIDIAN WRAP: geodesic edges take
    * the short arc in longitude (S2LatLngRectBounder), latitudes widened
    * by each edge's poleward bulge. Returns (lngLo, latLo, lngHi,
    * latHi); lngLo > lngHi encodes a rect crossing the antimeridian
    * (the reference's wrapped ST_XMin/ST_XMax on geography —
    * tests/geography/test_bounds.py). None for empty input.
    *
    * The minimal covering longitude interval is computed exactly: every
    * edge contributes its short arc, arcs are merged on the circle, and
    * the cover is the complement of the LARGEST uncovered gap — order-
    * independent, no incremental-union tie hazards. */
  def lngLatRect(g: Geometry): Option[(Double, Double, Double, Double)] = {
    if (g == null || g.isEmpty) return None
    // longitude arcs split at ±180 into chart segments
    val segs = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    var latMin = Double.MaxValue
    var latMax = -Double.MaxValue
    def norm(l: Double): Double = {
      val x = ((l + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      if (x == -180.0 && l >= 0) 180.0 else x
    }
    def addSeg(s: Double, e: Double): Unit = if (s <= e) segs += ((s, e))
    def addArc(aRaw: Double, bRaw: Double): Unit = {
      val a = norm(aRaw); val b = norm(bRaw)
      val lo = math.min(a, b); val hi = math.max(a, b)
      if (hi - lo <= 180.0) addSeg(lo, hi) // short arc stays in chart
      else { addSeg(hi, 180.0); addSeg(-180.0, lo) } // wraps the antimeridian
    }
    def addEdgeLat(a: Coordinate, b: Coordinate): Unit = {
      val (ax, ay, az) = unitVec(a.x, a.y)
      val (bx, by, bz) = unitVec(b.x, b.y)
      val nx = ay * bz - az * by
      val nyv = az * bx - ax * bz
      val nz = ax * by - ay * bx
      val nn = math.sqrt(nx * nx + nyv * nyv + nz * nz)
      if (nn > 1e-18 && nx * nx + nyv * nyv > 1e-30 && math.abs(nz) > 1e-15) {
        val latExt = math.toDegrees(math.acos(math.min(1.0, math.abs(nz) / nn)))
        val px = -nx * nz; val py = -nyv * nz
        val lonN = norm(math.toDegrees(math.atan2(py, px)))
        // short-arc containment test in wrapped space
        def onShortArc(l: Double): Boolean = {
          val lo = math.min(norm(a.x), norm(b.x)); val hi = math.max(norm(a.x), norm(b.x))
          if (hi - lo <= 180.0) l >= lo && l <= hi else l >= hi || l <= lo
        }
        if (onShortArc(lonN)) latMax = math.max(latMax, latExt)
        if (onShortArc(norm(lonN + 180.0))) latMin = math.min(latMin, -latExt)
      } else if (nn > 1e-18 && math.abs(nz) <= 1e-15) {
        // Meridian-plane edge (normal has no vertical component): the
        // short arc passes through a pole when the endpoints sit on
        // opposite meridians — e.g. LINESTRING (0 80, 180 80) runs over
        // the north pole. S2LatLngRectBounder returns ±90 here; which
        // pole follows from the arc length 180−(latA+latB) via the north
        // pole (shorter iff latA+latB > 0).
        val dLon = math.abs(norm(a.x - b.x))
        if (dLon >= 180.0 - 1e-9) {
          val s = a.y + b.y
          if (s >= 0) latMax = 90.0
          if (s <= 0) latMin = -90.0
        }
      }
    }
    def addCoords(cs: Array[Coordinate]): Unit = {
      var i = 0
      while (i < cs.length) {
        latMin = math.min(latMin, cs(i).y); latMax = math.max(latMax, cs(i).y)
        if (i > 0) { addArc(cs(i - 1).x, cs(i).x); addEdgeLat(cs(i - 1), cs(i)) }
        else addArc(cs(i).x, cs(i).x)
        i += 1
      }
    }
    def walk(geom: Geometry): Unit = geom match {
      case _ if geom.isEmpty =>
      case p: Point =>
        latMin = math.min(latMin, p.getY); latMax = math.max(latMax, p.getY)
        addArc(p.getX, p.getX)
      case l: LineString => addCoords(l.getCoordinates)
      case p: Polygon =>
        addCoords(p.getExteriorRing.getCoordinates)
        (0 until p.getNumInteriorRing).foreach(i =>
          addCoords(p.getInteriorRingN(i).getCoordinates))
        // polar-cap interiors: a polygon covering a pole spans the full
        // longitude ring and reaches ±90 (S2LatLngRectBounder does the
        // same via its loop-contains-pole check). Same cheap gate as
        // latLngBound: chart lon span ≥180° is necessary to enclose a
        // pole under the short-arc contract.
        val pe = p.getEnvelopeInternal
        if (pe.getWidth >= 180.0) {
          if (pe.getMaxY > 0 && coversPoint(p, 0.0, 90.0)) {
            latMax = 90.0; addSeg(-180.0, 180.0)
          }
          if (pe.getMinY < 0 && coversPoint(p, 0.0, -90.0)) {
            latMin = -90.0; addSeg(-180.0, 180.0)
          }
        }
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case other =>
        val e = other.getEnvelopeInternal
        latMin = math.min(latMin, e.getMinY); latMax = math.max(latMax, e.getMaxY)
        addArc(e.getMinX, e.getMaxX)
    }
    walk(g)
    // merge chart segments + largest-gap complement (coverInterval)
    coverInterval(segs.toSeq).map { case (lo, hi) => (lo, latMin, hi, latMax) }
  }

  /** Geometry form of a (possibly antimeridian-wrapped) lng/lat rect:
    * polygon / line / point by degeneracy; wrapped rects split into an
    * east + west piece at ±180 (the st_envelopesphere output contract). */
  def rectGeometry(lo: Double, latLo: Double, hi: Double, latHi: Double): Geometry = {
    import graft.geom.GeomIO
    def rect(x0: Double, x1: Double): Geometry =
      if (latLo == latHi)
        GeomIO.factory.createLineString(Array(
          new Coordinate(x0, latLo), new Coordinate(x1, latLo)))
      else GeomIO.factory.createPolygon(Array(
        new Coordinate(x0, latLo), new Coordinate(x0, latHi),
        new Coordinate(x1, latHi), new Coordinate(x1, latLo),
        new Coordinate(x0, latLo)))
    if (lo <= hi) {
      if (lo == hi && latLo == latHi) GeomIO.point(lo, latLo)
      else if (lo == hi)
        GeomIO.factory.createLineString(Array(
          new Coordinate(lo, latLo), new Coordinate(lo, latHi)))
      else rect(lo, hi)
    } else {
      (rect(lo, 180.0), rect(-180.0, hi)) match {
        case (e: Polygon, w: Polygon) =>
          GeomIO.factory.createMultiPolygon(Array(e, w))
        case (e: LineString, w: LineString) =>
          GeomIO.factory.createMultiLineString(Array(e, w))
        case (e, w) => GeomIO.factory.createGeometryCollection(Array(e, w))
      }
    }
  }

  /** Minimal circular cover of chart lon segments: merge, then take the
    * complement of the largest gap (lngLatRect's tail, exposed for the
    * wrap-aware envelope aggregate). None for no segments; lo > hi
    * encodes an antimeridian-crossing cover. */
  def coverInterval(segsIn: Seq[(Double, Double)]): Option[(Double, Double)] = {
    if (segsIn.isEmpty) return None
    def norm(l: Double): Double = {
      val x = ((l + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
      if (x == -180.0 && l >= 0) 180.0 else x
    }
    val sorted = segsIn.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    sorted.foreach { case (s, e) =>
      if (merged.nonEmpty && s <= merged.last._2) {
        val (ps, pe) = merged.last
        merged(merged.length - 1) = (ps, math.max(pe, e))
      } else merged += ((s, e))
    }
    val out =
      if (merged.length == 1 &&
          !(merged.head._1 <= -180.0 + 1e-12 && merged.head._2 >= 180.0 - 1e-12))
        merged.head
      else {
        var bestGap = -1.0; var bestAt = 0
        var i = 0
        while (i < merged.length) {
          val next = if (i == merged.length - 1) merged(0)._1 + 360.0 else merged(i + 1)._1
          val gap = next - merged(i)._2
          if (gap > bestGap) { bestGap = gap; bestAt = i }
          i += 1
        }
        if (bestGap <= 1e-12) (-180.0, 180.0)
        else {
          val start = norm(if (bestAt == merged.length - 1) merged(0)._1 else merged(bestAt + 1)._1)
          (start, norm(merged(bestAt)._2))
        }
      }
    Some(out)
  }

  def perimeter(g: Geometry): Any = g match {
    case p: Polygon =>
      (Seq(p.getExteriorRing) ++
        (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .map(r => length(r).asInstanceOf[Double]).sum
    case m: MultiPolygon =>
      (0 until m.getNumGeometries).map(i => perimeter(m.getGeometryN(i)).asInstanceOf[Double]).sum
    case _ => 0.0
  }

  // ---- spherical overlay subset (reference: c/sedona-s2geography
  // st_intersection/union/difference/symdifference geography kernels,
  // src/kernels.rs:110-118). S2 computes exact geodesic overlays; here the
  // documented approximation is a local azimuthal-equidistant tangent
  // projection centered on the inputs' combined envelope: densify in
  // lon/lat, project, run JTS OverlayNG in the plane, inverse-project.
  // Accurate to the densification tolerance for inputs spanning up to a
  // few tens of degrees. Geometries crossing the antimeridian or
  // covering a pole route through overlayWrap (wrap-aware center +
  // geodesic slerp densification); the remaining exclusion is inputs
  // whose combined extent exceeds the hemisphere around the combined
  // center. ----

  /** Azimuthal-equidistant forward/inverse about (lon0, lat0), meters. */
  final class AzEq(lon0: Double, lat0: Double) {
    private val p0 = math.toRadians(lat0)
    private val sinP0 = math.sin(p0); private val cosP0 = math.cos(p0)
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val p = math.toRadians(lat)
      val dl = math.toRadians(lon - lon0)
      val cosC = sinP0 * math.sin(p) + cosP0 * math.cos(p) * math.cos(dl)
      val c = math.acos(math.max(-1.0, math.min(1.0, cosC)))
      val k = if (c < 1e-12) 1.0 else c / math.sin(c)
      (R * k * math.cos(p) * math.sin(dl),
        R * k * (cosP0 * math.sin(p) - sinP0 * math.cos(p) * math.cos(dl)))
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.hypot(x, y)
      if (rho < 1e-9) return (lon0, lat0)
      val c = rho / R
      val sinC = math.sin(c); val cosC = math.cos(c)
      val lat = math.asin(cosC * sinP0 + y * sinC * cosP0 / rho)
      val lon = math.toRadians(lon0) +
        math.atan2(x * sinC, rho * cosP0 * cosC - y * sinP0 * sinC)
      (math.toDegrees(lon), math.toDegrees(lat))
    }
  }

  private def mapCoords(g: Geometry, f: (Double, Double) => (Double, Double)): Geometry = {
    val out = g.copy()
    out.apply(new org.locationtech.jts.geom.CoordinateSequenceFilter {
      override def filter(seq: org.locationtech.jts.geom.CoordinateSequence, i: Int): Unit = {
        val (nx, ny) = f(seq.getX(i), seq.getY(i))
        seq.setOrdinate(i, 0, nx); seq.setOrdinate(i, 1, ny)
      }
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    out.geometryChanged()
    out
  }

  /** Wrap-aware projection center for single-geometry tangent-plane
    * kernels: circular midpoint of the lng/lat rect when the input
    * crosses the antimeridian or covers a pole, chart-envelope midpoint
    * otherwise. */
  private def centerFor(g: Geometry): (Double, Double) =
    lngLatRect(g) match {
      case Some((lo, latLo, hi, latHi)) if lo > hi || latHi >= 90.0 - 1e-9 ||
          latLo <= -90.0 + 1e-9 =>
        val w = if (lo <= hi) hi - lo else hi - lo + 360.0
        (normLon(lo + w / 2), (latLo + latHi) / 2)
      case _ =>
        val e = g.getEnvelopeInternal
        ((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)
    }

  private def projectionFor(a: Geometry, b: Geometry): AzEq = {
    val e = a.getEnvelopeInternal.copy()
    e.expandToInclude(b.getEnvelopeInternal)
    new AzEq((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)
  }

  private def densifyDeg(g: Geometry, tolDeg: Double): Geometry = g match {
    case _: Point | _: MultiPoint => g
    case _ => org.locationtech.jts.densify.Densifier.densify(g, tolDeg)
  }

  /** Typed empty of the intersection-result dimension (OverlayNG's own
    * convention: dim 0 → POINT EMPTY, 1 → LINESTRING, 2 → POLYGON —
    * what the reference's geography overlay returns for disjoint
    * inputs, test_geog_overlay.py). */
  private def emptyOfDim(dim: Int, f: org.locationtech.jts.geom.GeometryFactory): Geometry =
    dim match {
      case 0 => f.createPoint()
      case 1 => f.createLineString()
      case _ => f.createPolygon()
    }

  /** Spherical overlay: op is a JTS OverlayNG opcode (INTERSECTION=1,
    * UNION=2, DIFFERENCE=3, SYMDIFFERENCE=4).
    *
    * Empty inputs and disjoint coverings short-circuit before the
    * tangent-plane machinery (the reference's S2 covering check) — so
    * far-apart inputs (e.g. difference against a polygon 170° away,
    * test_st_difference_very_far) are exact even though a combined
    * tangent projection would be outside the documented contract.
    * Empty-input semantics are the S2 pins: intersection/empty-minuend
    * difference → GEOMETRYCOLLECTION EMPTY; union/symdifference with one
    * empty side → the other side unchanged. */
  def overlay(a: Geometry, b: Geometry, op: Int, tolDeg: Double = 0.5): Geometry = {
    import org.locationtech.jts.operation.overlayng.OverlayNG._
    if (a.isEmpty || b.isEmpty) return op match {
      case INTERSECTION => a.getFactory.createGeometryCollection()
      case DIFFERENCE =>
        if (a.isEmpty) a.getFactory.createGeometryCollection() else a
      case _ => if (a.isEmpty) b else a // UNION / SYMDIFFERENCE
    }
    // antimeridian-crossing or pole-covering inputs can't densify or
    // center in chart space — route them through the wrap-aware branch
    // (geodesic slerp densification, circular-midpoint projection center)
    (lngLatRect(a), lngLatRect(b)) match {
      case (Some(ra), Some(rb))
          if ra._1 > ra._3 || rb._1 > rb._3 ||
            ra._4 >= 90.0 - 1e-9 || rb._4 >= 90.0 - 1e-9 ||
            ra._2 <= -90.0 + 1e-9 || rb._2 <= -90.0 + 1e-9 =>
        return overlayWrap(a, b, op, tolDeg, ra, rb)
      case _ =>
    }
    val da = densifyDeg(a, tolDeg)
    val db = densifyDeg(b, tolDeg)
    // densified geodesics deviate < ~2e-3 deg from their chart chords, so
    // chart envelopes separated by a wider margin are disjoint on the
    // sphere (wrap inputs took the overlayWrap branch above)
    val ea = da.getEnvelopeInternal.copy()
    ea.expandBy(0.01)
    if (!ea.intersects(db.getEnvelopeInternal)) return op match {
      case INTERSECTION =>
        emptyOfDim(math.min(a.getDimension, b.getDimension), a.getFactory)
      case DIFFERENCE => a
      case _ => // UNION / SYMDIFFERENCE: collect, no overlay needed
        org.locationtech.jts.geom.util.GeometryCombiner.combine(a, b)
    }
    val proj = projectionFor(a, b)
    val pa = mapCoords(da, proj.forward)
    val pb = mapCoords(db, proj.forward)
    val res = org.locationtech.jts.operation.overlayng.OverlayNG.overlay(pa, pb, op)
    mapCoords(res, proj.inverse)
  }

  @inline private def normLon(l: Double): Double = {
    val x = ((l + 180.0) % 360.0 + 360.0) % 360.0 - 180.0
    if (x == -180.0 && l >= 0) 180.0 else x
  }

  /** Wrap-aware overlay branch: inputs crossing the antimeridian or
    * covering a pole. The azimuthal-equidistant projection itself is
    * chart-free (it only takes angular offsets from the center), so the
    * fix is (1) a projection center from the wrap-aware rects' circular
    * midpoint — or the pole itself for polar caps — and (2) geodesic
    * slerp densification of each edge straight into the projected plane
    * instead of chart-chord densification. Output longitudes are
    * normalized to [-180, 180]; rings crossing the antimeridian come
    * back with the usual short-arc vertex jump (the same convention the
    * input used). Contract: the combined inputs must fit inside the
    * projection's valid hemisphere around the center. */
  private def overlayWrap(a: Geometry, b: Geometry, op: Int, tolDeg: Double,
      ra: (Double, Double, Double, Double),
      rb: (Double, Double, Double, Double)): Geometry = {
    import org.locationtech.jts.operation.overlayng.OverlayNG._
    def mid(r: (Double, Double, Double, Double)): Double = {
      val w = if (r._1 <= r._3) r._3 - r._1 else r._3 - r._1 + 360.0
      normLon(r._1 + w / 2)
    }
    def inIv(r: (Double, Double, Double, Double), l: Double): Boolean =
      if (r._1 <= r._3) l >= r._1 - 0.01 && l <= r._3 + 0.01
      else l >= r._1 - 0.01 || l <= r._3 + 0.01
    // circular-arc overlap: overlapping arcs always have an endpoint of
    // one inside the other (covers full-ring and both-wrapped cases)
    val lonOverlap = inIv(ra, rb._1) || inIv(ra, rb._3) || inIv(rb, ra._1)
    val latOverlap = ra._2 - 0.01 <= rb._4 && rb._2 - 0.01 <= ra._4
    if (!(lonOverlap && latOverlap)) return op match {
      case INTERSECTION =>
        emptyOfDim(math.min(a.getDimension, b.getDimension), a.getFactory)
      case DIFFERENCE => a
      case _ =>
        org.locationtech.jts.geom.util.GeometryCombiner.combine(a, b)
    }
    val dl = { val d = normLon(mid(rb) - mid(ra)); d }
    val clon = normLon(mid(ra) + dl / 2)
    val clat = (math.min(ra._2, rb._2) + math.max(ra._4, rb._4)) / 2
    val proj = new AzEq(clon, clat)
    val pa = projectDensify(a, proj, tolDeg)
    val pb = projectDensify(b, proj, tolDeg)
    // snap-rounded noding (1 µm grid in the projected meters plane):
    // slerp-densified geodesic edges of near-coincident inputs can pass
    // within nanometers of each other, which floating OverlayNG rejects
    // as non-noded; snapping is robust and far below output precision
    val res = org.locationtech.jts.operation.overlayng.OverlayNG.overlay(
      pa, pb, op, new org.locationtech.jts.geom.PrecisionModel(1e6))
    mapCoords(res, (x, y) => {
      val (lo, la) = proj.inverse(x, y); (normLon(lo), la)
    })
  }

  /** Rebuild `g` with every edge geodesically (slerp) subdivided to at
    * most `tolDeg` arc steps, coordinates already projected by `proj` —
    * the chart-free counterpart of densifyDeg + mapCoords(forward). */
  /** Fraction of the geodesic line's length at the point closest to
    * (lon, lat) — geography st_linelocatepoint: projection onto geodesic
    * segments, arc-length accumulation (all in central angles, so the
    * radius cancels). */
  def lineLocatePoint(line: LineString, lon: Double, lat: Double): Double = {
    val cs = line.getCoordinates
    val (px, py, pz) = unitVec(lon, lat)
    var best = Double.MaxValue
    var bestAt = 0.0
    var lenUpTo = 0.0
    var total = 0.0
    var i = 0
    while (i < cs.length - 1) {
      val u = vecOf(cs(i)); val v = vecOf(cs(i + 1))
      val seg = angV(u(0), u(1), u(2), v(0), v(1), v(2))
      val (d, cp) = pointArcClosest(px, py, pz, u, v)
      if (d < best) {
        best = d
        bestAt = lenUpTo + angV(u(0), u(1), u(2), cp(0), cp(1), cp(2))
      }
      lenUpTo += seg
      total += seg
      i += 1
    }
    if (total <= 0) 0.0 else math.min(1.0, bestAt / total)
  }

  /** Geodesic segmentize: every edge slerp-subdivided so no piece spans
    * more than `maxM` meters of great-circle arc — the geography
    * st_segmentize (S2 interpolation on geodesics, not chart chords).
    * Points pass through; inserted vertices carry no Z/M. */
  def segmentize(g: Geometry, maxM: Double): Geometry = {
    require(maxM > 0 && !maxM.isNaN && !maxM.isInfinite,
      "st_segmentizesphere: max_distance must be finite and greater than 0")
    val f = g.getFactory
    val maxAng = maxM / R
    def densify(cs: Array[Coordinate]): Array[Coordinate] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
      var i = 0
      while (i < cs.length - 1) {
        val (ux, uy, uz) = unitVec(cs(i).x, cs(i).y)
        val (vx, vy, vz) = unitVec(cs(i + 1).x, cs(i + 1).y)
        val w = angV(ux, uy, uz, vx, vy, vz)
        val n = math.max(1, math.ceil(w / maxAng).toInt)
        out += cs(i)
        if (n > 1 && math.sin(w) > 1e-12) {
          var k = 1
          while (k < n) {
            val t = k.toDouble / n
            val s1 = math.sin((1 - t) * w) / math.sin(w)
            val s2 = math.sin(t * w) / math.sin(w)
            val px = s1 * ux + s2 * vx
            val py = s1 * uy + s2 * vy
            val pz = s1 * uz + s2 * vz
            out += lonLatOf(Array(px, py, pz))
            k += 1
          }
        }
        i += 1
      }
      out += cs(cs.length - 1)
      out.toArray
    }
    def ring(r: org.locationtech.jts.geom.LinearRing): org.locationtech.jts.geom.LinearRing =
      f.createLinearRing(densify(r.getCoordinates))
    def walk(geom: Geometry): Geometry = geom match {
      case _ if geom.isEmpty => geom.copy()
      case p: Point => p.copy()
      case mp: MultiPoint => mp.copy()
      case l: org.locationtech.jts.geom.LinearRing => ring(l)
      case l: LineString => f.createLineString(densify(l.getCoordinates))
      case p: Polygon =>
        f.createPolygon(ring(p.getExteriorRing),
          Array.tabulate(p.getNumInteriorRing)(i => ring(p.getInteriorRingN(i))))
      case m: MultiPolygon =>
        f.createMultiPolygon(Array.tabulate(m.getNumGeometries)(i =>
          walk(m.getGeometryN(i)).asInstanceOf[Polygon]))
      case m: org.locationtech.jts.geom.MultiLineString =>
        f.createMultiLineString(Array.tabulate(m.getNumGeometries)(i =>
          walk(m.getGeometryN(i)).asInstanceOf[LineString]))
      case c: org.locationtech.jts.geom.GeometryCollection =>
        f.createGeometryCollection(Array.tabulate(c.getNumGeometries)(i =>
          walk(c.getGeometryN(i))))
    }
    walk(g)
  }

  private def projectDensify(g: Geometry, proj: AzEq, tolDeg: Double): Geometry = {
    val f = g.getFactory
    def densify(cs: Array[Coordinate]): Array[Coordinate] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Coordinate]
      def put(lon: Double, lat: Double): Unit = {
        val (x, y) = proj.forward(lon, lat)
        out += new Coordinate(x, y)
      }
      var i = 0
      while (i < cs.length - 1) {
        val (ux, uy, uz) = unitVec(cs(i).x, cs(i).y)
        val (vx, vy, vz) = unitVec(cs(i + 1).x, cs(i + 1).y)
        val w = angV(ux, uy, uz, vx, vy, vz)
        val n = math.max(1, math.ceil(math.toDegrees(w) / tolDeg).toInt)
        put(cs(i).x, cs(i).y)
        if (n > 1 && math.sin(w) > 1e-12) {
          var k = 1
          while (k < n) {
            val t = k.toDouble / n
            val s1 = math.sin((1 - t) * w) / math.sin(w)
            val s2 = math.sin(t * w) / math.sin(w)
            val px = s1 * ux + s2 * vx
            val py = s1 * uy + s2 * vy
            val pz = s1 * uz + s2 * vz
            put(math.toDegrees(math.atan2(py, px)),
              math.toDegrees(math.asin(math.max(-1.0, math.min(1.0, pz)))))
            k += 1
          }
        }
        i += 1
      }
      put(cs(cs.length - 1).x, cs(cs.length - 1).y)
      out.toArray
    }
    def ring(r: org.locationtech.jts.geom.LinearRing): org.locationtech.jts.geom.LinearRing =
      f.createLinearRing(densify(r.getCoordinates))
    def walk(geom: Geometry): Geometry = geom match {
      case p: Point =>
        val (x, y) = proj.forward(p.getX, p.getY); f.createPoint(new Coordinate(x, y))
      case l: org.locationtech.jts.geom.LinearRing => ring(l)
      case l: LineString => f.createLineString(densify(l.getCoordinates))
      case p: Polygon =>
        f.createPolygon(ring(p.getExteriorRing),
          Array.tabulate(p.getNumInteriorRing)(i => ring(p.getInteriorRingN(i))))
      case m: MultiPolygon =>
        f.createMultiPolygon(Array.tabulate(m.getNumGeometries)(i =>
          walk(m.getGeometryN(i)).asInstanceOf[Polygon]))
      case m: org.locationtech.jts.geom.MultiLineString =>
        f.createMultiLineString(Array.tabulate(m.getNumGeometries)(i =>
          walk(m.getGeometryN(i)).asInstanceOf[LineString]))
      case m: MultiPoint =>
        f.createMultiPoint(Array.tabulate(m.getNumGeometries)(i =>
          walk(m.getGeometryN(i)).asInstanceOf[Point]))
      case c: org.locationtech.jts.geom.GeometryCollection =>
        f.createGeometryCollection(Array.tabulate(c.getNumGeometries)(i =>
          walk(c.getGeometryN(i))))
    }
    walk(g)
  }

  /** Geodesic buffer: planar buffer of `distM` meters in the tangent
    * plane, inverse-projected. */
  def buffer(g: Geometry, distM: Double, tolDeg: Double = 0.5): Geometry = {
    // wrap-aware center (chart envelope midpoints are wrong for
    // antimeridian-crossing or polar inputs — same fix as overlayWrap)
    lngLatRect(g) match {
      case Some((lo, latLo, hi, latHi)) if lo > hi || latHi >= 90.0 - 1e-9 ||
          latLo <= -90.0 + 1e-9 =>
        val (clon, clat) = centerFor(g)
        val proj = new AzEq(clon, clat)
        mapCoords(projectDensify(g, proj, tolDeg).buffer(distM), (x, y) => {
          val (lon, lat) = proj.inverse(x, y); (normLon(lon), lat)
        })
      case _ =>
        val e = g.getEnvelopeInternal
        val proj = new AzEq((e.getMinX + e.getMaxX) / 2, (e.getMinY + e.getMaxY) / 2)
        mapCoords(mapCoords(densifyDeg(g, tolDeg), proj.forward).buffer(distM), proj.inverse)
    }
  }

  // ---- spherical (true) centroid — the geography ST_Centroid kernel
  // (reference s2 centroid, tests/geography/test_geog_transformations.py).
  // Exact vector integrals: points sum unit vectors; a geodesic edge AB
  // of arc angle θ integrates to tan(θ/2)·(A+B); a geodesic polygon's
  // surface integral of position is ½·Σ_edges θ_e·n̂_e (divergence
  // identity; hemisphere → π·ẑ checks). Highest-dimension components
  // win, S2's collection rule. Z/M average with the same weights
  // (arc length / area), matching the reference's ZM interpolation. ----

  private final class CentroidAcc {
    var x, y, z = 0.0 // position integral (unnormalized direction)
    var w = 0.0 // scalar weight for Z/M averaging
    var zOrd, mOrd = 0.0 // weighted Z / M ordinate sums
    def add(vx: Double, vy: Double, vz: Double, weight: Double,
        zv: Double, mv: Double): Unit = {
      x += vx; y += vy; z += vz
      if (!weight.isNaN) {
        w += weight
        if (!zv.isNaN) zOrd += weight * zv
        if (!mv.isNaN) mOrd += weight * mv
      }
    }
  }

  @inline private def unitVec(lon: Double, lat: Double): (Double, Double, Double) = {
    val p = math.toRadians(lat); val l = math.toRadians(lon)
    (math.cos(p) * math.cos(l), math.cos(p) * math.sin(l), math.sin(p))
  }

  def centroid(g: Geometry): Geometry = {
    if (g == null) return null
    if (g.isEmpty) return g.getFactory.createGeometryCollection()
    val dim = g.getDimension
    val acc = new CentroidAcc
    val withZ = graft.geom.GeomIO.hasZ(g)
    val withM = graft.geom.GeomIO.hasM(g)

    def seqZ(s: org.locationtech.jts.geom.CoordinateSequence, i: Int): Double =
      if (withZ) s.getOrdinate(i, 2) else Double.NaN
    def seqM(s: org.locationtech.jts.geom.CoordinateSequence, i: Int): Double =
      if (withM) s.getOrdinate(i, if (withZ) 3 else 2) else Double.NaN

    def addLine(s: org.locationtech.jts.geom.CoordinateSequence): Unit = {
      var i = 1
      while (i < s.size) {
        val (ax, ay, az) = unitVec(s.getX(i - 1), s.getY(i - 1))
        val (bx, by, bz) = unitVec(s.getX(i), s.getY(i))
        val dx = ax - bx; val dy = ay - by; val dz = az - bz
        val theta = 2 * math.asin(math.min(1.0,
          math.sqrt(dx * dx + dy * dy + dz * dz) / 2))
        val t = math.tan(theta / 2)
        acc.add(t * (ax + bx), t * (ay + by), t * (az + bz), theta,
          (seqZ(s, i - 1) + seqZ(s, i)) / 2, (seqM(s, i - 1) + seqM(s, i)) / 2)
        i += 1
      }
    }

    /** ½·Σ θ_e n̂_e over a closed ring, sign-normalized to CCW. */
    def ringIntegral(ring: org.locationtech.jts.geom.LinearRing)
      : (Double, Double, Double) = {
      val s = ring.getCoordinateSequence
      var sx, sy, sz = 0.0
      var i = 1
      while (i < s.size) {
        val (ax, ay, az) = unitVec(s.getX(i - 1), s.getY(i - 1))
        val (bx, by, bz) = unitVec(s.getX(i), s.getY(i))
        // n = A × B, scaled to θ/|A×B|
        val cx = ay * bz - az * by
        val cy = az * bx - ax * bz
        val cz = ax * by - ay * bx
        val norm = math.sqrt(cx * cx + cy * cy + cz * cz)
        if (norm > 1e-18) {
          val dx = ax - bx; val dy = ay - by; val dz = az - bz
          val theta = 2 * math.asin(math.min(1.0,
            math.sqrt(dx * dx + dy * dy + dz * dz) / 2))
          val k = 0.5 * theta / norm
          sx += k * cx; sy += k * cy; sz += k * cz
        }
        i += 1
      }
      if (org.locationtech.jts.algorithm.Orientation.isCCW(ring.getCoordinates))
        (sx, sy, sz)
      else (-sx, -sy, -sz)
    }

    def addPolygon(p: Polygon): Unit = {
      var (sx, sy, sz) = ringIntegral(p.getExteriorRing)
      var r = 0
      while (r < p.getNumInteriorRing) {
        val (hx, hy, hz) = ringIntegral(p.getInteriorRingN(r))
        sx -= hx; sy -= hy; sz -= hz
        r += 1
      }
      // Z/M on polygons: area-weighted mean of shell vertex ordinates
      // (documented approximation; the reference's ZM pins cover only
      // points and linestrings)
      val s = p.getExteriorRing.getCoordinateSequence
      var zv = 0.0; var mv = 0.0; var n = 0
      var i = 0
      while (i < s.size - 1) {
        if (withZ) zv += seqZ(s, i); if (withM) mv += seqM(s, i)
        n += 1; i += 1
      }
      val w = area(p).asInstanceOf[Double] / (R * R)
      acc.add(sx, sy, sz, w,
        if (withZ && n > 0) zv / n else Double.NaN,
        if (withM && n > 0) mv / n else Double.NaN)
    }

    def walk(geom: Geometry): Unit = geom match {
      case _ if geom.isEmpty =>
      case p: Point if dim == 0 =>
        val s = p.getCoordinateSequence
        val (vx, vy, vz) = unitVec(p.getX, p.getY)
        acc.add(vx, vy, vz, 1.0, seqZ(s, 0), seqM(s, 0))
      case l: LineString if dim == 1 => addLine(l.getCoordinateSequence)
      case p: Polygon if dim == 2 => addPolygon(p)
      case c: org.locationtech.jts.geom.GeometryCollection =>
        (0 until c.getNumGeometries).foreach(i => walk(c.getGeometryN(i)))
      case _ => // lower-dimension component of a mixed collection: skip
    }
    walk(g)

    val norm = math.sqrt(acc.x * acc.x + acc.y * acc.y + acc.z * acc.z)
    if (norm < 1e-18) return g.getFactory.createGeometryCollection()
    val lat = math.toDegrees(math.asin(acc.z / norm))
    val lon = math.toDegrees(math.atan2(acc.y, acc.x))
    val f = g.getFactory
    if (!withZ && !withM) return f.createPoint(new org.locationtech.jts.geom.Coordinate(lon, lat))
    val cdim = 2 + (if (withZ) 1 else 0) + (if (withM) 1 else 0)
    val seq = f.getCoordinateSequenceFactory.create(1, cdim, if (withM) 1 else 0)
    seq.setOrdinate(0, 0, lon); seq.setOrdinate(0, 1, lat)
    if (withZ) seq.setOrdinate(0, 2, acc.zOrd / acc.w)
    if (withM) seq.setOrdinate(0, if (withZ) 3 else 2, acc.mOrd / acc.w)
    f.createPoint(seq)
  }

  /** Spherical convex hull: tangent-plane hull about the vertex-mean
    * direction. A hull of points is vertex SELECTION, so the result
    * carries the original lon/lat vertices verbatim (geodesic edges
    * implied) — exact for contract-scale inputs (< a hemisphere), the
    * geography ST_ConvexHull surface (test_geog_transformations.py).
    * Degenerate inputs follow the geometry convention the reference
    * pins: empty in → typed empty out, 2 points → LINESTRING. */
  def convexHull(g: Geometry): Geometry = {
    if (g == null) return null
    if (g.isEmpty) return g
    val (clon, clat) = centerFor(g)
    val proj = new AzEq(clon, clat)
    // key projected coords back to original lon/lat so hull output keeps
    // the input vertices bit-for-bit
    val back = new java.util.HashMap[(Double, Double), Coordinate]()
    g.getCoordinates.foreach { c =>
      val (x, y) = proj.forward(c.x, c.y)
      back.put((x, y), c)
    }
    val hull = mapCoords(g, proj.forward).convexHull()
    val restored = hull.copy()
    restored.apply(new org.locationtech.jts.geom.CoordinateSequenceFilter {
      override def filter(seq: org.locationtech.jts.geom.CoordinateSequence, i: Int): Unit = {
        val orig = back.get((seq.getX(i), seq.getY(i)))
        if (orig != null) { seq.setOrdinate(i, 0, orig.x); seq.setOrdinate(i, 1, orig.y) }
        else {
          val (lon, lat) = proj.inverse(seq.getX(i), seq.getY(i))
          seq.setOrdinate(i, 0, lon); seq.setOrdinate(i, 1, lat)
        }
      }
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    restored.geometryChanged()
    // degenerate 2-point hull: orient by first appearance in the input
    // (the reference's convention, test_st_convexhull_degenerate)
    restored match {
      case l: LineString if l.getNumPoints == 2 =>
        val first = g.getCoordinates.find(c =>
          c.equals2D(l.getCoordinateN(0)) || c.equals2D(l.getCoordinateN(1)))
        if (first.exists(_.equals2D(l.getCoordinateN(1)))) l.reverse() else l
      case other => other
    }
  }

  /** Geography ST_PointOnSurface (test_geog_transformations.py):
    * point/line inputs return the VERTEX nearest the spherical centroid
    * (ties to the later vertex, matching the reference pins), carrying
    * Z/M; polygons return a tangent-plane interior point (documented
    * approximation — the reference's S2 interior pick differs in the
    * low decimals). Empties → the empty point. */
  def pointOnSurface(g: Geometry): Geometry = {
    if (g == null) return null
    if (g.isEmpty) return g.getFactory.createPoint()
    if (g.getDimension == 2) {
      val (clon, clat) = centerFor(g)
      val proj = new AzEq(clon, clat)
      val ip = mapCoords(g, proj.forward).getInteriorPoint
      val (lon, lat) = proj.inverse(ip.getX, ip.getY)
      return g.getFactory.createPoint(new Coordinate(normLon(lon), lat))
    }
    val cen = centroid(g)
    val c = cen match {
      case p: Point if !p.isEmpty => (p.getX, p.getY)
      case _ => return g.getFactory.createPoint()
    }
    // nearest vertex, ties to the later one; rebuild as a point of the
    // owning sequence's dimension so Z/M ride along. Distances within a
    // nanometre tie: two vertices equidistant from the centroid need not
    // round to the same double
    var bestSeq: org.locationtech.jts.geom.CoordinateSequence = null
    var bestIdx = -1
    var bestAng = Double.MaxValue
    def scan(seq: org.locationtech.jts.geom.CoordinateSequence): Unit = {
      var i = 0
      while (i < seq.size) {
        val a = haversine(c._1, c._2, seq.getX(i), seq.getY(i))
        if (a <= bestAng + 1e-9) { bestAng = math.min(a, bestAng); bestSeq = seq; bestIdx = i }
        i += 1
      }
    }
    def walk(geom: Geometry): Unit = geom match {
      case p: Point => scan(p.getCoordinateSequence)
      case l: LineString => scan(l.getCoordinateSequence)
      case gc: org.locationtech.jts.geom.GeometryCollection =>
        (0 until gc.getNumGeometries).foreach(i => walk(gc.getGeometryN(i)))
      case other => // dimension-2 handled above
    }
    walk(g)
    if (bestSeq == null) return g.getFactory.createPoint()
    val dim = bestSeq.getDimension; val meas = bestSeq.getMeasures
    val out = g.getFactory.getCoordinateSequenceFactory.create(1, dim, meas)
    var d = 0
    while (d < dim) { out.setOrdinate(0, d, bestSeq.getOrdinate(bestIdx, d)); d += 1 }
    g.getFactory.createPoint(out)
  }

  /** Great-circle interpolation between two lon/lat points (slerp). */
  def slerp(lon1: Double, lat1: Double, lon2: Double, lat2: Double,
      f: Double): (Double, Double) = {
    val p1 = math.toRadians(lat1); val l1 = math.toRadians(lon1)
    val p2 = math.toRadians(lat2); val l2 = math.toRadians(lon2)
    val d = haversine(lon1, lat1, lon2, lat2) / R
    if (d < 1e-12) return (lon1, lat1)
    val sa = math.sin((1 - f) * d) / math.sin(d)
    val sb = math.sin(f * d) / math.sin(d)
    val x = sa * math.cos(p1) * math.cos(l1) + sb * math.cos(p2) * math.cos(l2)
    val y = sa * math.cos(p1) * math.sin(l1) + sb * math.cos(p2) * math.sin(l2)
    val z = sa * math.sin(p1) + sb * math.sin(p2)
    (math.toDegrees(math.atan2(y, x)),
      math.toDegrees(math.atan2(z, math.hypot(x, y))))
  }

  /** Point at fraction `f` of the great-circle length of a line
    * (reference: s2 st_lineinterpolatepoint geography kernel). Each
    * segment is measured by haversine; the hit segment interpolates on
    * its great circle. */
  def lineInterpolatePoint(g: Geometry, f: Double): Geometry = g match {
    case l: LineString if !l.isEmpty =>
      val cs = l.getCoordinates
      val fr = math.max(0.0, math.min(1.0, f))
      val segLens = (1 until cs.length).map(i =>
        haversine(cs(i - 1).x, cs(i - 1).y, cs(i).x, cs(i).y))
      val total = segLens.sum
      if (total == 0.0) return l.getFactory.createPoint(cs(0))
      var target = fr * total
      var i = 0
      while (i < segLens.length && target > segLens(i)) { target -= segLens(i); i += 1 }
      if (i >= segLens.length)
        return l.getFactory.createPoint(cs(cs.length - 1))
      val lf = if (segLens(i) == 0.0) 0.0 else target / segLens(i)
      val (lon, lat) = slerp(cs(i).x, cs(i).y, cs(i + 1).x, cs(i + 1).y, lf)
      l.getFactory.createPoint(new Coordinate(lon, lat))
    case _ => null
  }
}
