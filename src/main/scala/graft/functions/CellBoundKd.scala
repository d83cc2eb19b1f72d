package graft.functions

/** Driver-built branch-and-bound index over the per-cell KNN histogram
  * (<= nx*ny rows — bounded by the grid-resolution deployment knob): for
  * a query anchor it returns the WEIGHTED kth smallest cell upper bound
  *
  *   ub_c = dist(anchor, center_c) + pad_c      (weight = cell count)
  *
  * by best-first traversal — the per-query radius bound a join of every
  * query against the whole histogram would compute, but in O(visited
  * cells) per query with NO join and no per-round actions (such a
  * whole-histogram join was measured at 57s of a sparse m=100 run:
  * |queries| x |histogram| = 1.85G probe pairs). Because it consumes ALL
  * histogram cells, the returned bound is the minimum over every
  * possible probe cover, so final-probe covers are as small as the
  * histogram allows.
  *
  * Planar mode searches 2D euclidean space. Sphere mode embeds centers
  * (and the query) on the unit sphere and prunes in CHORD space —
  * strictly monotone in great-circle meters (the ChordKdTree device,
  * joins/ChordKdTree.scala), converting to meters only at the ub/lb
  * boundary, so the antimeridian and poles need no special casing.
  *
  * Serializable: captured by the bound expression's kernel closure and
  * shipped inside the task binary (broadcast once per executor).
  * Reference semantics served: the per-query kth-distance bound of
  * rust/sedona-spatial-join/src/index/default_spatial_index.rs:359-430.
  */
final class CellBoundKd private (
    dim: Int,
    pts: Array[Double],    // n*dim, kd-ordered
    w: Array[Long],        // kd-ordered weights
    pad: Array[Double],    // kd-ordered pads
    sphere: Boolean) extends Serializable {

  private val n = w.length
  // node arrays (explicit tree over point ranges, leaf <= 8 points)
  private var nodeLo: Array[Int] = _
  private var nodeHi: Array[Int] = _
  private var nodeLeft: Array[Int] = _
  private var nodeRight: Array[Int] = _
  private var nodeBox: Array[Double] = _ // per node: dim * (min,max)
  private var nodeMinPad: Array[Double] = _
  private var nNodes = 0

  private def build(): Unit = {
    val cap = math.max(1, 4 * (n / 8 + 2))
    nodeLo = new Array[Int](cap); nodeHi = new Array[Int](cap)
    nodeLeft = new Array[Int](cap); nodeRight = new Array[Int](cap)
    nodeBox = new Array[Double](cap * dim * 2)
    nodeMinPad = new Array[Double](cap)
    nNodes = 0
    if (n > 0) buildNode(0, n)
  }

  private def grow(): Unit = {
    val c = nodeLo.length * 2
    nodeLo = java.util.Arrays.copyOf(nodeLo, c)
    nodeHi = java.util.Arrays.copyOf(nodeHi, c)
    nodeLeft = java.util.Arrays.copyOf(nodeLeft, c)
    nodeRight = java.util.Arrays.copyOf(nodeRight, c)
    nodeBox = java.util.Arrays.copyOf(nodeBox, c * dim * 2)
    nodeMinPad = java.util.Arrays.copyOf(nodeMinPad, c)
  }

  private def buildNode(lo: Int, hi: Int): Int = {
    if (nNodes >= nodeLo.length) grow()
    val id = nNodes; nNodes += 1
    nodeLo(id) = lo; nodeHi(id) = hi
    // bbox + min pad over the range
    var a = 0
    while (a < dim) {
      var mn = Double.MaxValue; var mx = -Double.MaxValue
      var i = lo
      while (i < hi) { val v = pts(i * dim + a); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
      nodeBox((id * dim + a) * 2) = mn; nodeBox((id * dim + a) * 2 + 1) = mx
      a += 1
    }
    var mp = Double.MaxValue
    var i = lo
    while (i < hi) { if (pad(i) < mp) mp = pad(i); i += 1 }
    nodeMinPad(id) = mp
    if (hi - lo <= 8) { nodeLeft(id) = -1; nodeRight(id) = -1; return id }
    // split the widest axis at the median
    var axis = 0; var best = -1.0
    a = 0
    while (a < dim) {
      val wdt = nodeBox((id * dim + a) * 2 + 1) - nodeBox((id * dim + a) * 2)
      if (wdt > best) { best = wdt; axis = a }
      a += 1
    }
    val mid = (lo + hi) >>> 1
    quickSelect(lo, hi, mid, axis)
    val l = buildNode(lo, mid)
    val r = buildNode(mid, hi)
    nodeLeft(id) = l; nodeRight(id) = r
    id
  }

  @inline private def swapPt(i: Int, j: Int): Unit = {
    var a = 0
    while (a < dim) {
      val t = pts(i * dim + a); pts(i * dim + a) = pts(j * dim + a); pts(j * dim + a) = t
      a += 1
    }
    val tw = w(i); w(i) = w(j); w(j) = tw
    val tp = pad(i); pad(i) = pad(j); pad(j) = tp
  }

  private def quickSelect(lo0: Int, hi0: Int, target: Int, axis: Int): Unit = {
    var lo = lo0; var hi = hi0
    while (hi - lo > 1) {
      val pivot = pts(((lo + hi) >>> 1) * dim + axis)
      var i = lo; var j = hi - 1
      while (i <= j) {
        while (pts(i * dim + axis) < pivot) i += 1
        while (pts(j * dim + axis) > pivot) j -= 1
        if (i <= j) { swapPt(i, j); i += 1; j -= 1 }
      }
      if (target <= j) hi = j + 1
      else if (target >= i) lo = i
      else return
    }
  }

  // ---- search ----

  @inline private def ptDist(q0: Double, q1: Double, q2: Double, i: Int): Double =
    if (sphere) {
      val dx = pts(i * 3) - q0; val dy = pts(i * 3 + 1) - q1; val dz = pts(i * 3 + 2) - q2
      chordToMeters(math.sqrt(dx * dx + dy * dy + dz * dz))
    } else {
      val dx = pts(i * 2) - q0; val dy = pts(i * 2 + 1) - q1
      math.sqrt(dx * dx + dy * dy)
    }

  @inline private def boxDist(q0: Double, q1: Double, q2: Double, id: Int): Double = {
    var s = 0.0
    var a = 0
    while (a < dim) {
      val q = if (a == 0) q0 else if (a == 1) q1 else q2
      val mn = nodeBox((id * dim + a) * 2); val mx = nodeBox((id * dim + a) * 2 + 1)
      val d = if (q < mn) mn - q else if (q > mx) q - mx else 0.0
      s += d * d
      a += 1
    }
    val d = math.sqrt(s)
    if (sphere) chordToMeters(d) else d
  }

  @inline private def chordToMeters(c: Double): Double =
    2.0 * Spherical.R * math.asin(math.min(1.0, c / 2.0))

  /** Weighted kth smallest ub over all cells from the given query
    * coordinates (planar: x/y; sphere: lon/lat degrees), or -1 when the
    * total weight is below k (object side smaller than k). Thread-safe
    * (search state is local). */
  def kthBound(qx: Double, qy: Double, k: Int): Double = {
    if (n == 0) return -1.0
    var q0 = qx; var q1 = qy; var q2 = 0.0
    if (sphere) {
      val phi = math.toRadians(qy); val lam = math.toRadians(qx)
      q0 = math.cos(phi) * math.cos(lam)
      q1 = math.cos(phi) * math.sin(lam)
      q2 = math.sin(phi)
    }
    // binary heap of (key, id): id >= 0 -> node, id < 0 -> point ~id
    var cap = 64
    var hk = new Array[Double](cap)
    var hid = new Array[Int](cap)
    var sz = 0
    def push(key: Double, id: Int): Unit = {
      if (sz == cap) {
        cap *= 2
        hk = java.util.Arrays.copyOf(hk, cap); hid = java.util.Arrays.copyOf(hid, cap)
      }
      var i = sz; sz += 1
      hk(i) = key; hid(i) = id
      while (i > 0 && hk((i - 1) / 2) > hk(i)) {
        val p = (i - 1) / 2
        val tk = hk(p); hk(p) = hk(i); hk(i) = tk
        val ti = hid(p); hid(p) = hid(i); hid(i) = ti
        i = p
      }
    }
    def pop(): Unit = {
      sz -= 1
      hk(0) = hk(sz); hid(0) = hid(sz)
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < sz && hk(l) < hk(m)) m = l
        if (r < sz && hk(r) < hk(m)) m = r
        if (m == i) done = true
        else {
          val tk = hk(m); hk(m) = hk(i); hk(i) = tk
          val ti = hid(m); hid(m) = hid(i); hid(i) = ti
          i = m
        }
      }
    }
    push(boxDist(q0, q1, q2, 0) + nodeMinPad(0), 0)
    var acc = 0L
    while (sz > 0) {
      val key = hk(0); val id = hid(0); pop()
      if (id < 0) {
        acc += w(~id)
        if (acc >= k) return key
      } else if (nodeLeft(id) < 0) {
        var i = nodeLo(id)
        while (i < nodeHi(id)) {
          push(ptDist(q0, q1, q2, i) + pad(i), ~i)
          i += 1
        }
      } else {
        val l = nodeLeft(id); val r = nodeRight(id)
        push(boxDist(q0, q1, q2, l) + nodeMinPad(l), l)
        push(boxDist(q0, q1, q2, r) + nodeMinPad(r), r)
      }
    }
    -1.0
  }
}

object CellBoundKd {
  /** Planar euclidean mode over cell centers. Arrays are taken over (the
    * build reorders them in place). */
  def planar(cx: Array[Double], cy: Array[Double],
      w: Array[Long], pad: Array[Double]): CellBoundKd = {
    val n = w.length
    val pts = new Array[Double](2 * n)
    var i = 0
    while (i < n) { pts(2 * i) = cx(i); pts(2 * i + 1) = cy(i); i += 1 }
    val t = new CellBoundKd(2, pts, w, pad, sphere = false)
    t.build(); t
  }

  /** Great-circle mode over cell centers given as lon/lat degrees; pads
    * are meters, results are meters. */
  def sphere(lon: Array[Double], lat: Array[Double],
      w: Array[Long], pad: Array[Double]): CellBoundKd = {
    val n = w.length
    val pts = new Array[Double](3 * n)
    var i = 0
    while (i < n) {
      val phi = math.toRadians(lat(i)); val lam = math.toRadians(lon(i))
      pts(3 * i) = math.cos(phi) * math.cos(lam)
      pts(3 * i + 1) = math.cos(phi) * math.sin(lam)
      pts(3 * i + 2) = math.sin(phi)
      i += 1
    }
    val t = new CellBoundKd(3, pts, w, pad, sphere = true)
    t.build(); t
  }
}
