package graft.joins

/** A static Hilbert-packed R-tree over item bounds: the index of every
  * index join, and the analog of the reference's packed R-tree over raw
  * bounds (rust/sedona-spatial-join/src/index/default_spatial_index.rs).
  *
  * Items are ids with bounds `minX, minY, maxX, maxY` in a flat array.
  * The build sorts them by the Hilbert key of their bound centres and
  * packs [[NodeSize]] slots per node, bottom-up, into flat arrays: no
  * object per item or node. Bounds meet when they share a point (closed
  * boxes), as JTS's `Envelope.intersects` has it.
  *
  * @param boxes 4 doubles per slot: the item slots in Hilbert order, then
  *   each node level up to the root
  * @param refs per slot: an item slot's item id, a node slot's first child
  * @param ends per slot: a node slot's end of children (items: unused)
  * @param n the number of items
  */
final class PackedIndex private (boxes: Array[Double], refs: Array[Int], ends: Array[Int],
    val n: Int) {
  import PackedIndex._

  private def root: Int = boxes.length / 4 - 1

  /** Calls `visit` with the id of every item whose bound meets the closed
    * box; allocates nothing. */
  def query(minX: Double, minY: Double, maxX: Double, maxY: Double, visit: Int => Unit): Unit =
    if (n > 0) search(root, minX, minY, maxX, maxY, visit)

  private def search(slot: Int, minX: Double, minY: Double, maxX: Double, maxY: Double,
      visit: Int => Unit): Unit = {
    var s = refs(slot)
    val end = ends(slot)
    while (s < end) {
      val o = 4 * s
      // "not beyond", as JTS's packed tree tests a node
      if (!(maxX < boxes(o) || maxY < boxes(o + 1) || minX > boxes(o + 2) ||
          minY > boxes(o + 3))) {
        if (s < n) visit(refs(s)) else search(s, minX, minY, maxX, maxY, visit)
      }
      s += 1
    }
  }

  /** The ids of up to `k` items nearest the box `q` (minX, minY, maxX,
    * maxY), into `found`; returns how many. Best-first by the squared box
    * distance, a lower bound of every item distance; `exact(id)` (its
    * square ordered) replaces an item's bound distance before it is
    * taken, or null when the bound distance is the item's distance
    * (points to a point). `heap` is scratch. */
  def nearest(qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double, k: Int,
      exact: Int => Double, heap: MinHeap, found: Array[Int]): Int = {
    if (n == 0 || k < 1) return 0
    heap.clear()
    heap.push(boxDist2(root, qMinX, qMinY, qMaxX, qMaxY), root)
    var c = 0
    while (c < k && heap.nonEmpty) {
      val v = heap.popValue()
      if (v < 0) { found(c) = refs(-(v + 1)); c += 1 }
      else if (v < n) {
        if (exact == null) { found(c) = refs(v); c += 1 }
        else { val d = exact(refs(v)); heap.push(d * d, -(v + 1)) }
      } else {
        var s = refs(v)
        while (s < ends(v)) {
          heap.push(boxDist2(s, qMinX, qMinY, qMaxX, qMaxY), s)
          s += 1
        }
      }
    }
    c
  }

  private def boxDist2(slot: Int, qMinX: Double, qMinY: Double, qMaxX: Double,
      qMaxY: Double): Double = {
    val o = 4 * slot
    val dx = if (boxes(o) > qMaxX) boxes(o) - qMaxX
      else if (qMinX > boxes(o + 2)) qMinX - boxes(o + 2) else 0.0
    val dy = if (boxes(o + 1) > qMaxY) boxes(o + 1) - qMaxY
      else if (qMinY > boxes(o + 3)) qMinY - boxes(o + 3) else 0.0
    dx * dx + dy * dy
  }
}

object PackedIndex {

  /** Slots per node. */
  val NodeSize = 16

  /** The index over the items `ids`, item `i` bounded by
    * `bounds(4 i until 4 i + 4)`. */
  def apply(bounds: Array[Double], ids: Array[Int]): PackedIndex = {
    val n = ids.length
    // the Hilbert order of the bound centres, over the finite extent
    var x0, y0 = Double.PositiveInfinity
    var x1, y1 = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      val o = 4 * ids(i)
      val cx = (bounds(o) + bounds(o + 2)) / 2
      val cy = (bounds(o + 1) + bounds(o + 3)) / 2
      if (java.lang.Double.isFinite(cx)) { x0 = math.min(x0, cx); x1 = math.max(x1, cx) }
      if (java.lang.Double.isFinite(cy)) { y0 = math.min(y0, cy); y1 = math.max(y1, cy) }
      i += 1
    }
    val sx = if (x1 > x0) HilbertMax / (x1 - x0) else 0.0
    val sy = if (y1 > y0) HilbertMax / (y1 - y0) else 0.0
    val keyed = new Array[Long](n)
    i = 0
    while (i < n) {
      val o = 4 * ids(i)
      val hx = cell(((bounds(o) + bounds(o + 2)) / 2 - x0) * sx)
      val hy = cell(((bounds(o + 1) + bounds(o + 3)) / 2 - y0) * sy)
      // unsigned key order: the sign bit flipped
      keyed(i) = (((hilbert(hx, hy) & 0xffffffffL) << 32) | i) ^ Long.MinValue
      i += 1
    }
    java.util.Arrays.sort(keyed)

    // level sizes, items first, up to a single root node
    val sizes = scala.collection.mutable.ArrayBuffer(n)
    do sizes += math.max(1, (sizes.last + NodeSize - 1) / NodeSize) while (sizes.last > 1)
    val slots = sizes.sum
    val boxes = new Array[Double](4 * slots)
    val refs = new Array[Int](slots)
    val ends = new Array[Int](slots)
    i = 0
    while (i < n) {
      val id = ids(keyed(i).toInt)
      System.arraycopy(bounds, 4 * id, boxes, 4 * i, 4)
      refs(i) = id
      i += 1
    }
    var childStart = 0
    var levelStart = n
    for (level <- 1 until sizes.length) {
      val childEnd = childStart + sizes(level - 1)
      var node = levelStart
      var first = childStart
      while (first < childEnd || node == levelStart) {
        val last = math.min(first + NodeSize, childEnd)
        refs(node) = first
        ends(node) = last
        val o = 4 * node
        boxes(o) = Double.PositiveInfinity; boxes(o + 1) = Double.PositiveInfinity
        boxes(o + 2) = Double.NegativeInfinity; boxes(o + 3) = Double.NegativeInfinity
        var s = first
        while (s < last) {
          val c = 4 * s
          boxes(o) = math.min(boxes(o), boxes(c))
          boxes(o + 1) = math.min(boxes(o + 1), boxes(c + 1))
          boxes(o + 2) = math.max(boxes(o + 2), boxes(c + 2))
          boxes(o + 3) = math.max(boxes(o + 3), boxes(c + 3))
          s += 1
        }
        node += 1
        first = last
      }
      childStart = levelStart
      levelStart = node
    }
    new PackedIndex(boxes, refs, ends, n)
  }

  private val HilbertMax = 65535.0

  /** A coordinate scaled to [0, 65535] as a 16-bit cell; NaN to 0. */
  private def cell(v: Double): Int =
    if (!(v > 0)) 0 else if (v >= HilbertMax) 65535 else v.toInt

  /** The index of cell (x, y) on the 16-bit Hilbert curve ("Fast Hilbert
    * curve generation" by rawrunprotected, as flatbush uses it): 32 bits,
    * read unsigned. */
  private def hilbert(x: Int, y: Int): Int = {
    var a = x ^ y
    var b = 0xFFFF ^ a
    var c = 0xFFFF ^ (x | y)
    var d = x & (y ^ 0xFFFF)
    var A = a | (b >>> 1)
    var B = (a >>> 1) ^ a
    var C = ((c >>> 1) ^ (b & (d >>> 1))) ^ c
    var D = ((a & (c >>> 1)) ^ (d >>> 1)) ^ d

    a = A; b = B; c = C; d = D
    A = (a & (a >>> 2)) ^ (b & (b >>> 2))
    B = (a & (b >>> 2)) ^ (b & ((a ^ b) >>> 2))
    C ^= (a & (c >>> 2)) ^ (b & (d >>> 2))
    D ^= (b & (c >>> 2)) ^ ((a ^ b) & (d >>> 2))

    a = A; b = B; c = C; d = D
    A = (a & (a >>> 4)) ^ (b & (b >>> 4))
    B = (a & (b >>> 4)) ^ (b & ((a ^ b) >>> 4))
    C ^= (a & (c >>> 4)) ^ (b & (d >>> 4))
    D ^= (b & (c >>> 4)) ^ ((a ^ b) & (d >>> 4))

    a = A; b = B; c = C; d = D
    C ^= (a & (c >>> 8)) ^ (b & (d >>> 8))
    D ^= (b & (c >>> 8)) ^ ((a ^ b) & (d >>> 8))

    a = C ^ (C >>> 1)
    b = D ^ (D >>> 1)

    var i0 = x ^ y
    var i1 = b | (0xFFFF ^ (i0 | a))

    i0 = (i0 | (i0 << 8)) & 0x00FF00FF
    i0 = (i0 | (i0 << 4)) & 0x0F0F0F0F
    i0 = (i0 | (i0 << 2)) & 0x33333333
    i0 = (i0 | (i0 << 1)) & 0x55555555

    i1 = (i1 | (i1 << 8)) & 0x00FF00FF
    i1 = (i1 | (i1 << 4)) & 0x0F0F0F0F
    i1 = (i1 | (i1 << 2)) & 0x33333333
    i1 = (i1 | (i1 << 1)) & 0x55555555

    (i1 << 1) | i0
  }

  /** A binary min-heap of (double key, int value), reused across
    * searches. */
  final class MinHeap {
    private var keys = new Array[Double](64)
    private var values = new Array[Int](64)
    private var size = 0

    def clear(): Unit = size = 0
    def nonEmpty: Boolean = size > 0

    def push(key: Double, value: Int): Unit = {
      if (size == keys.length) {
        keys = java.util.Arrays.copyOf(keys, 2 * size)
        values = java.util.Arrays.copyOf(values, 2 * size)
      }
      var i = size
      size += 1
      while (i > 0 && keys((i - 1) >> 1) > key) {
        val p = (i - 1) >> 1
        keys(i) = keys(p); values(i) = values(p)
        i = p
      }
      keys(i) = key; values(i) = value
    }

    /** Removes the least key's entry and returns its value. */
    def popValue(): Int = {
      val top = values(0)
      size -= 1
      if (size > 0) {
        val key = keys(size)
        val value = values(size)
        var i = 0
        var done = false
        while (!done) {
          var c = 2 * i + 1
          if (c >= size) done = true
          else {
            if (c + 1 < size && keys(c + 1) < keys(c)) c += 1
            if (keys(c) < key) { keys(i) = keys(c); values(i) = values(c); i = c }
            else done = true
          }
        }
        keys(i) = key; values(i) = value
      }
      top
    }
  }
}
