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

  /** Largest divisor of n that is <= 8: the NESTED coarse factor for the
    * KNN mixed cover (exact nesting — see Spherical.gridCellsKnnCover,
    * the wrap-aware twin). 1 = no nesting possible. Public so the KNN
    * operators can derive per-coarse-cell histogram rows with the same
    * factor the cover kernels use. */
  @inline def nestFactor(n: Int): Int = {
    var f = math.min(8, n)
    while (f > 1 && n % f != 0) f -= 1
    f
  }

  /** Planar KNN final-probe cover: all-fine while small; past `maxCells`
    * a MIXED cover of nested coarse interior cells (ids offset nx*ny)
    * plus fine boundary cells. Paired with [[cellsKnnDual]] the admitted
    * candidate-pair set is identical to the all-fine cover's. */
  def cellsKnnCover(gxmin: Double, gymin: Double, gxmax: Double, gymax: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      nx: Int, ny: Int, maxCells: Int): Array[Long] = {
    val cx0 = cellX(gxmin, xmin, xmax, nx); val cx1 = cellX(gxmax, xmin, xmax, nx)
    val cy0 = cellX(gymin, ymin, ymax, ny); val cy1 = cellX(gymax, ymin, ymax, ny)
    def fine(): Array[Long] =
      cellsOf(gxmin, gymin, gxmax, gymax, xmin, ymin, xmax, ymax, nx, ny)
    if ((cx1 - cx0 + 1).toLong * (cy1 - cy0 + 1) <= maxCells) return fine()
    val fx = nestFactor(nx); val fy = nestFactor(ny)
    if (fx * fy <= 1) return fine()
    val cnx = nx / fx
    val off = nx.toLong * ny
    val ry0 = (cy0 + fy - 1) / fy
    val ry1 = (cy1 + 1) / fy // exclusive
    val rx0 = (cx0 + fx - 1) / fx
    val rx1 = (cx1 + 1) / fx // exclusive
    if (ry0 >= ry1 || rx0 >= rx1) return fine()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var r = ry0
    while (r < ry1) {
      var c = rx0
      while (c < rx1) { out += off + r.toLong * cnx + c; c += 1 }
      r += 1
    }
    def fineRow(cy: Int, from: Int, to: Int): Unit = {
      var cx = from
      while (cx <= to) { out += cy.toLong * nx + cx; cx += 1 }
    }
    var cy = cy0
    while (cy < math.min(ry0 * fy, cy1 + 1)) { fineRow(cy, cx0, cx1); cy += 1 }
    cy = math.max(ry1 * fy, cy0)
    while (cy <= cy1) { fineRow(cy, cx0, cx1); cy += 1 }
    cy = math.max(ry0 * fy, cy0)
    val bandEnd = math.min(ry1 * fy, cy1 + 1)
    while (cy < bandEnd) {
      fineRow(cy, cx0, rx0 * fx - 1)
      fineRow(cy, rx1 * fx, cx1)
      cy += 1
    }
    out.toArray
  }

  @inline private[functions] def occHit(occ: Array[Byte], id: Long): Boolean = {
    val i = id.toInt
    val b = i >> 3
    b < occ.length && (occ(b) & (1 << (i & 7))) != 0
  }

  /** [[cellsKnnCover]] filtered by the occupancy bitmap (fine AND nested-
    * coarse ids share one bit space — coarse bits sit past nx*ny, exactly
    * the ids [[cellsKnnDual]] assigns). Emitted set = mixed cover ∩
    * occupied, so paired with the dual object explode the candidate pair
    * set is IDENTICAL to the unfiltered cover's (an unoccupied cell
    * matches nothing). */
  def cellsKnnCoverOcc(gxmin: Double, gymin: Double, gxmax: Double, gymax: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      nx: Int, ny: Int, maxCells: Int, occ: Array[Byte]): Array[Long] = {
    val all = cellsKnnCover(gxmin, gymin, gxmax, gymax,
      xmin, ymin, xmax, ymax, nx, ny, maxCells)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (occHit(occ, all(i))) { all(n) = all(i); n += 1 }
      i += 1
    }
    if (n == all.length) all else java.util.Arrays.copyOf(all, n)
  }

  /** Object-side companion of [[cellsKnnCover]]: the fine cover plus its
    * image on the NESTED coarse grid. */
  def cellsKnnDual(gxmin: Double, gymin: Double, gxmax: Double, gymax: Double,
      xmin: Double, ymin: Double, xmax: Double, ymax: Double,
      nx: Int, ny: Int): Array[Long] = {
    val fine = cellsOf(gxmin, gymin, gxmax, gymax, xmin, ymin, xmax, ymax, nx, ny)
    val fx = nestFactor(nx); val fy = nestFactor(ny)
    if (fx * fy <= 1 || fine.isEmpty) return fine
    val cnx = nx / fx
    val off = nx.toLong * ny
    val coarse = new java.util.TreeSet[Long]()
    var i = 0
    while (i < fine.length) {
      val cy = fine(i) / nx; val cx = fine(i) % nx
      coarse.add(off + (cy / fy) * cnx + cx / fx)
      i += 1
    }
    val out = new Array[Long](fine.length + coarse.size)
    System.arraycopy(fine, 0, out, 0, fine.length)
    val it = coarse.iterator()
    var j = fine.length
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }
}
