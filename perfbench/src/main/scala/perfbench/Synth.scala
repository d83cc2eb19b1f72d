package perfbench

/** Seeded synthetic coordinates. Every value is a pure function of
  * (seed, index, salt), so Spark tasks that write the inputs and the
  * plain-Scala reference answers see the same numbers without shipping
  * arrays around. */
object Synth {
  private def mix(seed: Long, i: Long, salt: Long): Long = {
    var z = seed * 0x632BE59BD9B4E019L + i * 0x9E3779B97F4A7C15L + salt * 0xD1B54A32D192ED03L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1). */
  def u(seed: Long, i: Long, salt: Long): Double =
    (mix(seed, i, salt) >>> 11) * (1.0 / (1L << 53))

  val Extent = 1000.0

  /** Point `i` of a set in [0, Extent)^2. With `clustered`, the upper
    * half of the ids falls in a few dense Gaussian clusters. */
  def point(seed: Long, i: Long, n: Long, clustered: Boolean, salt: Long): (Double, Double) =
    if (!clustered || i < n / 2)
      (u(seed, i, salt) * Extent, u(seed, i, salt + 1) * Extent)
    else {
      val c = i % Clusters
      val cx = 100 + u(seed, c, salt + 2) * (Extent - 200)
      val cy = 100 + u(seed, c, salt + 3) * (Extent - 200)
      val r = math.sqrt(-2 * math.log(1 - u(seed, i, salt + 4))) * ClusterSigma
      val a = 2 * math.Pi * u(seed, i, salt + 5)
      (clamp(cx + r * math.cos(a)), clamp(cy + r * math.sin(a)))
    }

  val Clusters = 6
  val ClusterSigma = 15.0

  private def clamp(v: Double): Double = math.min(math.max(v, 0.0), math.nextDown(Extent))

  /** Axis-aligned box `i`: (xmin, ymin, xmax, ymax), sides in [0.5, 4). */
  def box(seed: Long, i: Long, salt: Long): (Double, Double, Double, Double) = {
    val w = 0.5 + u(seed, i, salt + 2) * 3.5
    val h = 0.5 + u(seed, i, salt + 3) * 3.5
    val x = u(seed, i, salt) * (Extent - w)
    val y = u(seed, i, salt + 1) * (Extent - h)
    (x, y, x + w, y + h)
  }

  /** Planar coordinates mapped onto a 20 x 20 degree lon/lat patch. */
  def lon(x: Double): Double = -10.0 + x * 0.02
  def lat(y: Double): Double = 35.0 + y * 0.02

  /** Uniform grid of buckets over a set of envelopes, for the reference
    * answers: `cell` is the bucket side. */
  final class Grid(cell: Double, xmin: Double, ymin: Double, nx: Int, ny: Int) {
    private val buckets = Array.fill(nx * ny)(new scala.collection.mutable.ArrayBuilder.ofInt)
    private def ix(x: Double) = math.min(math.max(((x - xmin) / cell).toInt, 0), nx - 1)
    private def iy(y: Double) = math.min(math.max(((y - ymin) / cell).toInt, 0), ny - 1)
    def insert(id: Int, x0: Double, y0: Double, x1: Double, y1: Double): Unit =
      for (a <- ix(x0) to ix(x1); b <- iy(y0) to iy(y1)) buckets(b * nx + a) += id
    private lazy val frozen = buckets.map(_.result())
    /** Ids in the buckets overlapping the envelope. */
    def near(x0: Double, y0: Double, x1: Double, y1: Double)(f: Int => Unit): Unit =
      for (a <- ix(x0) to ix(x1); b <- iy(y0) to iy(y1)) frozen(b * nx + a).foreach(f)
    def ring(x: Double, y: Double, k: Int)(f: Int => Unit): Unit = {
      val (cx, cy) = (ix(x), iy(y))
      for (a <- cx - k to cx + k; b <- cy - k to cy + k
           if (math.abs(a - cx) == k || math.abs(b - cy) == k) &&
             a >= 0 && b >= 0 && a < nx && b < ny)
        frozen(b * nx + a).foreach(f)
    }
    def cellSize: Double = cell
  }
}
