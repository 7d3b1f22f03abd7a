package graft.index

import graft.geom.Geom

/**
 * Uniform-grid point-in-polygon index over a [[PolygonLayer]] — the
 * candidate-ring lookup of every probe on the broadcast-join hot path.
 *
 * Precomputation (once per executor, lazily, off the broadcast blob):
 *  - the layer extent is cut into a gw x gh grid sized from the segment
 *    count (~2 cells per segment, capped);
 *  - every segment registers its (inflated) bbox with the cells it may
 *    touch → per-cell `crossing rings` lists (CSR);
 *  - for every (cell, ring) pair where the ring's bbox overlaps the cell
 *    but NO segment of the ring touches it, the ring boundary provably does
 *    not enter the cell, so the in/out parity is CONSTANT across the cell:
 *    it is resolved once at build time by testing the cell center. Cells
 *    keep only the shapes whose constant parity is odd (CSR).
 *
 * Probe cost: one cell lookup + exact ring tests for the (usually zero)
 * rings actually crossing the cell, then a merge with the precomputed
 * constant-parity shapes. For typical layers the vast majority of probes
 * never touch a segment at all, vs ~40-70 bbox tests per R-tree descent.
 *
 * Exactness: by construction, the same results as an exact test of every
 * ring —
 *  - any point the float cell-mapping can attribute to cell c lies within
 *    c's eps-inflated rectangle (eps is ~1e-9 of the extent, dwarfing the
 *    ~1e-16 relative rounding of the mapping), and crossing registration
 *    uses the same inflation, so "not crossing" means the ring boundary is
 *    strictly outside everything attributed to the cell → parity constant;
 *  - a boundary (ON) point always lies inside the registering segment's
 *    bbox, which forces that ring into the cell's crossing list → ON is
 *    always decided by an exact ring test, never by precomputation;
 *  - points outside the layer extent are outside every ring bbox → no keys.
 * `IndexSpec` asserts grid == brute force over all rings and == an R-tree
 * candidate search (the test-scope `TreePip`) on random and boundary probes.
 *
 * Box query ([[uniformFirstShape]], the batched tile probe): the first
 * enclosing shape is the same at every point of a box B when
 *  - B lies inside the extent, so no point of B takes the extent exit;
 *  - both corners of B map to the same cell c — the cell mapping is monotone
 *    in x and y, so every point of B maps to c and sees c's base shapes,
 *    which are constant (the argument above);
 *  - no segment of a ring crossing c meets B inflated by eps. Each such
 *    segment's bbox misses the inflated box, or its line leaves all four
 *    inflated corners strictly on one side (the cross-product signs carry
 *    ~1e-16 relative rounding, far below eps, so a wrongly signed corner
 *    still leaves the segment about eps from B). So every crossing ring's
 *    boundary stays about eps away from B: its true IN/OUT state is
 *    constant over B and ON cannot occur, and a point that far from a ring
 *    gets the true state from the floating-point ray test (the vertical gap
 *    to a segment is at least the distance, and the ray test's rounding is
 *    again ~1e-16 relative).
 * Then every exact ring test of `findFirstKey` gives the same answer at
 * every point of B, so one probe at a corner answers all of B. Anything
 * else is "not proven" (-2) and the caller probes point by point.
 */
final class GridPipIndex(layer: PolygonLayer) {

  private val numRings = layer.numRings
  private val ringStart = layer.ringStart
  private val ringShape = layer.ringShape
  private val ringBoxes = layer.ringBoxes
  private val shapeKeys = layer.shapeKeys

  private val (ex0, ey0, ex1, ey1) = layer.extent

  private val eps: Double =
    (math.abs(ex0) + math.abs(ex1) + math.abs(ey0) + math.abs(ey1) +
      (ex1 - ex0) + (ey1 - ey0) + 1.0) * 1e-9

  private val (gw, gh, cw, ch) = {
    var segs = 0
    var r = 0
    while (r < numRings) { segs += ringStart(r + 1) - ringStart(r) - 1; r += 1 }
    val target = math.min(1 << 16, math.max(256, 2 * segs))
    val w = math.max(ex1 - ex0, java.lang.Double.MIN_NORMAL)
    val h = math.max(ey1 - ey0, java.lang.Double.MIN_NORMAL)
    val gwv = math.max(1, math.min(1024,
      math.round(math.sqrt(target.toDouble * w / h)).toInt))
    val ghv = math.max(1, math.min(1024, (target + gwv - 1) / gwv))
    (gwv, ghv, w / gwv, h / ghv)
  }
  private val nCells = gw * gh

  @inline private def colOf(x: Double): Int = {
    val j = ((x - ex0) / cw).toInt
    if (j < 0) 0 else if (j >= gw) gw - 1 else j
  }
  @inline private def rowOf(y: Double): Int = {
    val i = ((y - ey0) / ch).toInt
    if (i < 0) 0 else if (i >= gh) gh - 1 else i
  }

  // CSR per-cell lists: rings whose boundary may cross the cell (ascending
  // ring index), and shapes whose constant parity over the cell is odd
  // (ascending shape index).
  private val cellCrossStart: Array[Int] = new Array[Int](nCells + 1)
  private val cellCrossRings: Array[Int] = buildCross()
  private val cellBaseStart: Array[Int] = new Array[Int](nCells + 1)
  private val cellBaseShapes: Array[Int] = buildBase()

  private def buildCross(): Array[Int] = {
    val xx = layer.xx; val yy = layer.yy
    val stamp = new Array[Int](nCells)
    java.util.Arrays.fill(stamp, -1)
    val events = new java.util.ArrayList[Array[Long]]()
    var buf = new Array[Long](1 << 14)
    var n = 0
    var r = 0
    while (r < numRings) {
      var i = ringStart(r)
      val end = ringStart(r + 1) - 1
      while (i < end) {
        val sx0 = math.min(xx(i), xx(i + 1)) - eps
        val sx1 = math.max(xx(i), xx(i + 1)) + eps
        val sy0 = math.min(yy(i), yy(i + 1)) - eps
        val sy1 = math.max(yy(i), yy(i + 1)) + eps
        val j0 = colOf(sx0); val j1 = colOf(sx1)
        val i0 = rowOf(sy0); val i1 = rowOf(sy1)
        var gy = i0
        while (gy <= i1) {
          var gx = j0
          while (gx <= j1) {
            val c = gy * gw + gx
            if (stamp(c) != r) {
              stamp(c) = r
              if (n == buf.length) { events.add(buf); buf = new Array[Long](buf.length); n = 0 }
              buf(n) = c.toLong << 32 | r.toLong
              n += 1
            }
            gx += 1
          }
          gy += 1
        }
        i += 1
      }
      r += 1
    }
    val total = events.size() * buf.length + n
    val all = new Array[Long](total)
    var off = 0
    var b = 0
    while (b < events.size()) {
      System.arraycopy(events.get(b), 0, all, off, events.get(b).length)
      off += events.get(b).length
      b += 1
    }
    System.arraycopy(buf, 0, all, off, n)
    java.util.Arrays.sort(all)
    // counts -> CSR
    var k = 0
    while (k < all.length) {
      cellCrossStart(((all(k) >>> 32).toInt) + 1) += 1
      k += 1
    }
    var c = 0
    while (c < nCells) { cellCrossStart(c + 1) += cellCrossStart(c); c += 1 }
    val out = new Array[Int](all.length)
    k = 0
    while (k < all.length) {
      out(k) = (all(k) & 0xffffffffL).toInt // sorted (cell, ring) => ring ascending per cell
      k += 1
    }
    out
  }

  private def buildBase(): Array[Int] = {
    // (cell, shape) parity toggles from rings that overlap the cell's bbox
    // without any of their segments touching it (boundary provably outside
    // the cell => state constant; resolved at the cell center).
    var buf = new Array[Long](1 << 12)
    var n = 0
    var r = 0
    while (r < numRings) {
      val b = r * 4
      val j0 = colOf(ringBoxes(b) - eps); val j1 = colOf(ringBoxes(b + 2) + eps)
      val i0 = rowOf(ringBoxes(b + 1) - eps); val i1 = rowOf(ringBoxes(b + 3) + eps)
      var gy = i0
      while (gy <= i1) {
        var gx = j0
        while (gx <= j1) {
          val c = gy * gw + gx
          if (!cellCrosses(c, r)) {
            val cx = ex0 + (gx + 0.5) * cw
            val cy = ey0 + (gy + 0.5) * ch
            if (layer.pointInRing(cx, cy, r) == Geom.IN) {
              if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
              buf(n) = c.toLong << 32 | ringShape(r).toLong
              n += 1
            }
          }
          gx += 1
        }
        gy += 1
      }
      r += 1
    }
    val all = java.util.Arrays.copyOf(buf, n)
    java.util.Arrays.sort(all)
    // keep (cell, shape) pairs with ODD toggle count
    val keep = new Array[Long](all.length)
    var nk = 0
    var k = 0
    while (k < all.length) {
      var j = k
      while (j < all.length && all(j) == all(k)) j += 1
      if (((j - k) & 1) == 1) { keep(nk) = all(k); nk += 1 }
      k = j
    }
    k = 0
    while (k < nk) {
      cellBaseStart(((keep(k) >>> 32).toInt) + 1) += 1
      k += 1
    }
    var c = 0
    while (c < nCells) { cellBaseStart(c + 1) += cellBaseStart(c); c += 1 }
    val out = new Array[Int](nk)
    k = 0
    while (k < nk) {
      out(k) = (keep(k) & 0xffffffffL).toInt
      k += 1
    }
    out
  }

  private def cellCrosses(c: Int, ring: Int): Boolean = {
    var lo = cellCrossStart(c)
    var hi = cellCrossStart(c + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = cellCrossRings(mid)
      if (v == ring) return true
      if (v < ring) lo = mid + 1 else hi = mid - 1
    }
    false
  }

  @transient private lazy val shapeScratch: ThreadLocal[Array[Int]] =
    ThreadLocal.withInitial(() => new Array[Int](64))
  private val emptyKeys = Array.emptyLongArray
  private val emptyShapes = Array.emptyIntArray

  /** Keys of all enclosing shapes, ascending shape order. */
  def findKeys(x: Double, y: Double): Array[Long] = {
    // NaN coords: every ring test is OUT → empty;
    // without this guard the NaN->0 cast would read cell 0's resolved set
    if (x != x || y != y) return emptyKeys
    if (x < ex0 || x > ex1 || y < ey0 || y > ey1) return emptyKeys
    val c = rowOf(y) * gw + colOf(x)
    if (cellCrossStart(c) == cellCrossStart(c + 1)) {
      // fast path: no boundary crosses this cell — precomputed keys only
      var bi = cellBaseStart(c); val be = cellBaseStart(c + 1)
      if (bi == be) return emptyKeys
      val out = new Array[Long](be - bi)
      var k = 0
      while (bi < be) { out(k) = shapeKeys(cellBaseShapes(bi)); k += 1; bi += 1 }
      return out
    }
    val n = shapesInCell(c, x, y)
    if (n == 0) return emptyKeys
    val shapes = shapeScratch.get()
    val out = new Array[Long](n)
    var k = 0
    while (k < n) { out(k) = shapeKeys(shapes(k)); k += 1 }
    out
  }

  /** Indexes of all enclosing shapes, ascending. */
  def findShapeIdxs(x: Double, y: Double): Array[Int] = {
    if (x != x || y != y) return emptyShapes
    if (x < ex0 || x > ex1 || y < ey0 || y > ey1) return emptyShapes
    val n = shapesInCell(rowOf(y) * gw + colOf(x), x, y)
    if (n == 0) emptyShapes else java.util.Arrays.copyOf(shapeScratch.get(), n)
  }

  /** All enclosing shapes of an in-extent point attributed to cell c: writes
   * their indexes, ascending, to the start of `shapeScratch` and returns how
   * many. Merges the cell's constant-parity shapes with exact tests of the
   * rings crossing it. */
  private def shapesInCell(c: Int, x: Double, y: Double): Int = {
    var out = shapeScratch.get()
    var n = 0
    @inline def emit(shape: Int): Unit = {
      if (n == out.length) {
        out = java.util.Arrays.copyOf(out, out.length * 2)
        shapeScratch.set(out)
      }
      out(n) = shape
      n += 1
    }
    var ci = cellCrossStart(c); val ce = cellCrossStart(c + 1)
    var bi = cellBaseStart(c); val be = cellBaseStart(c + 1)
    while (ci < ce || bi < be) {
      val crossShape = if (ci < ce) ringShape(cellCrossRings(ci)) else Int.MaxValue
      val baseShape = if (bi < be) cellBaseShapes(bi) else Int.MaxValue
      if (baseShape < crossShape) {
        emit(baseShape)
        bi += 1
      } else {
        var isIn = baseShape == crossShape
        if (isIn) bi += 1
        var isOn = false
        while (ci < ce && ringShape(cellCrossRings(ci)) == crossShape) {
          val st = layer.pointInRing(x, y, cellCrossRings(ci))
          if (st == Geom.ON) isOn = true
          else if (st == Geom.IN) isIn = !isIn
          ci += 1
        }
        if (isOn || isIn) emit(crossShape)
      }
    }
    n
  }

  /** Key of the first (lowest shape index) enclosing shape, or -1. */
  def findFirstKey(x: Double, y: Double): Long = {
    if (x != x || y != y) return -1L
    if (x < ex0 || x > ex1 || y < ey0 || y > ey1) return -1L
    val s = firstShapeInCell(rowOf(y) * gw + colOf(x), x, y)
    if (s < 0) -1L else shapeKeys(s)
  }

  /** First enclosing shape of an in-extent point attributed to cell c, or -1. */
  private def firstShapeInCell(c: Int, x: Double, y: Double): Int = {
    var ci = cellCrossStart(c); val ce = cellCrossStart(c + 1)
    var bi = cellBaseStart(c); val be = cellBaseStart(c + 1)
    while (ci < ce || bi < be) {
      val crossShape = if (ci < ce) ringShape(cellCrossRings(ci)) else Int.MaxValue
      val baseShape = if (bi < be) cellBaseShapes(bi) else Int.MaxValue
      if (baseShape < crossShape) return baseShape
      var isIn = baseShape == crossShape
      if (isIn) bi += 1
      var isOn = false
      while (ci < ce && ringShape(cellCrossRings(ci)) == crossShape) {
        val st = layer.pointInRing(x, y, cellCrossRings(ci))
        if (st == Geom.ON) isOn = true
        else if (st == Geom.IN) isIn = !isIn
        ci += 1
      }
      if (isOn || isIn) return crossShape
    }
    -1
  }

  /**
   * First enclosing shape index (or -1 for none) when it is provably the
   * same at every point of the box [bx0, bx1] x [by0, by1]; -2 when not
   * proven (see the class header for the argument).
   */
  def uniformFirstShape(bx0: Double, by0: Double, bx1: Double, by1: Double): Int = {
    // also false for NaN corners
    if (!(ex0 <= bx0 && bx0 <= bx1 && bx1 <= ex1 && ey0 <= by0 && by0 <= by1 && by1 <= ey1))
      return -2
    val j = colOf(bx0); val i = rowOf(by0)
    if (colOf(bx1) != j || rowOf(by1) != i) return -2
    val c = i * gw + j
    val qx0 = bx0 - eps; val qx1 = bx1 + eps
    val qy0 = by0 - eps; val qy1 = by1 + eps
    val xx = layer.xx; val yy = layer.yy
    var ci = cellCrossStart(c); val ce = cellCrossStart(c + 1)
    while (ci < ce) {
      val r = cellCrossRings(ci)
      val b = r * 4
      if (ringBoxes(b) <= qx1 && ringBoxes(b + 2) >= qx0 &&
          ringBoxes(b + 1) <= qy1 && ringBoxes(b + 3) >= qy0) {
        var k = ringStart(r)
        val end = ringStart(r + 1) - 1
        while (k < end) {
          val ax = xx(k); val ay = yy(k); val dx = xx(k + 1) - ax; val dy = yy(k + 1) - ay
          if (math.min(ax, xx(k + 1)) <= qx1 && math.max(ax, xx(k + 1)) >= qx0 &&
              math.min(ay, yy(k + 1)) <= qy1 && math.max(ay, yy(k + 1)) >= qy0) {
            // bboxes meet: the segment misses the box only if its line leaves
            // all four inflated corners strictly on one side
            val s0 = dx * (qy0 - ay) - dy * (qx0 - ax)
            val s1 = dx * (qy0 - ay) - dy * (qx1 - ax)
            val s2 = dx * (qy1 - ay) - dy * (qx0 - ax)
            val s3 = dx * (qy1 - ay) - dy * (qx1 - ax)
            if (!((s0 > 0 && s1 > 0 && s2 > 0 && s3 > 0) || (s0 < 0 && s1 < 0 && s2 < 0 && s3 < 0)))
              return -2
          }
          k += 1
        }
      }
      ci += 1
    }
    firstShapeInCell(c, bx0, by0)
  }
}
