package graft.functions

/** Uniform spatial grid used by the shuffle-partitioned spatial join.
  * Cell ids are row-major longs; out-of-bounds coordinates clamp to the
  * border cells so every geometry lands somewhere (the reference
  * multi-assigns across KDB leaves the same way, partitioning/kdb.rs).
  */
object Grid {
  @inline def clamp(v: Int, n: Int): Int = if (v < 0) 0 else if (v >= n) n - 1 else v

  @inline def cellX(x: Double, xmin: Double, xmax: Double, nx: Int): Int =
    clamp((((x - xmin) / (xmax - xmin)) * nx).toInt, nx)

  def cellOf(x: Double, y: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      nx: Int, ny: Int): Long =
    cellX(y, ymin, ymax, ny).toLong * nx + cellX(x, xmin, xmax, nx)

  def cellsOf(gxmin: Double, gymin: Double, gxmax: Double, gymax: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      nx: Int, ny: Int): Array[Long] = {
    val cx0 = cellX(gxmin, xmin, xmax, nx); val cx1 = cellX(gxmax, xmin, xmax, nx)
    val cy0 = cellX(gymin, ymin, ymax, ny); val cy1 = cellX(gymax, ymin, ymax, ny)
    val out = new Array[Long]((cx1 - cx0 + 1) * (cy1 - cy0 + 1))
    var i = 0
    var cy = cy0
    while (cy <= cy1) {
      var cx = cx0
      while (cx <= cx1) { out(i) = cy.toLong * nx + cx; i += 1; cx += 1 }
      cy += 1
    }
    out
  }
}
