package graft.cell

/**
 * H3/S2-style square cell index: Morton (Z-order) encoding of an aligned
 * square grid.
 *
 * Grid semantics follow the reference's square-grid maker
 * (`/root/reference/src/grids/mapshaper-square-grid.mjs:4-153`):
 *  - cells are aligned to a global origin, so "grids calculated from different
 *    sets of points will all align" (`getAlignedGridBounds`, lines 16-30);
 *  - `pointToIdx` = floor((x - x0) / cellSize) (lines 60-78) — here x0 is the
 *    global origin 0, making the id a pure function of (x, y, res);
 *  - `forEachNeighbor` 8-neighborhood, generalized to Chebyshev rings of
 *    radius k for kNN ring expansion (lines 127-136).
 *
 * Encoding: 5 bits resolution | 58-bit Morton interleave of two 29-bit
 * biased cell coordinates. Pure integer math → trivially codegen-friendly and
 * bit-stable across partitions. Resolution r has cellSize = 360 / 2^r
 * (covers a lon/lat world; planar data in [0, 360) works unchanged).
 */
object CellIndex {

  final val Bias: Long = 1L << 28 // supports cell coords in [-2^28, 2^28)
  final val CoordBits = 29

  /** Cell size at resolution r. */
  @inline def cellSize(res: Int): Double = 360.0 / (1L << res).toDouble

  /** Integer cell coordinate of a value at a given cell size. */
  @inline def cellCoord(v: Double, cs: Double): Long = math.floor(v / cs).toLong

  /** Encode (x, y) at resolution res into a 64-bit cell id. */
  def cellId(x: Double, y: Double, res: Int): Long = {
    val cs = cellSize(res)
    encode(cellCoord(x, cs), cellCoord(y, cs), res)
  }

  /**
   * The one cell holding every point of the box [x0, x1] x [y0, y1], or -1
   * when the box spans more than one cell (a cell id is never negative: the
   * resolution field leaves the sign bit clear). `cellCoord` is monotone in
   * its value (division by a positive size, floor and the saturating
   * `toLong` all preserve order), so equal coordinates at both ends of an
   * axis hold for every value between them. The coordinates are compared,
   * not the encoded ids: `encode` keeps 29 bits per axis, so distinct cells
   * past 2^28 can share an id while a point between them need not. A NaN
   * maps to coordinate 0, as in [[cellId]].
   */
  def boxCellId(x0: Double, y0: Double, x1: Double, y1: Double, res: Int): Long = {
    val cs = cellSize(res)
    val ix = cellCoord(x0, cs)
    val iy = cellCoord(y0, cs)
    if (ix == cellCoord(x1, cs) && iy == cellCoord(y1, cs)) encode(ix, iy, res) else -1L
  }

  /** Encode integer cell coords + resolution. */
  def encode(ix: Long, iy: Long, res: Int): Long = {
    val bx = ix + Bias
    val by = iy + Bias
    (res.toLong << 58) | (interleave(bx) << 1) | interleave(by)
  }

  /** Primitive single-coordinate decodes — callable from codegen'd
   * expressions (no tuple allocation per row). */
  def cellX(id: Long): Long = deinterleave((id & ((1L << 58) - 1)) >>> 1) - Bias
  def cellY(id: Long): Long = deinterleave(id & ((1L << 58) - 1)) - Bias

  /** Decode a cell id to (ix, iy, res). */
  def decode(id: Long): (Long, Long, Int) = {
    val res = ((id >>> 58) & 0x1f).toInt
    val payload = id & ((1L << 58) - 1) // strip the resolution field before deinterleaving
    val bx = deinterleave(payload >>> 1)
    val by = deinterleave(payload)
    (bx - Bias, by - Bias, res)
  }

  /** Spread the low 29 bits of v so they occupy even bit positions. */
  def interleave(v: Long): Long = {
    var x = v & 0x1fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** Inverse of [[interleave]] (reads even bit positions). */
  def deinterleave(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >>> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >>> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >>> 16)) & 0x00000000ffffffffL
    x
  }

  /** Cell bbox as (xmin, ymin, xmax, ymax). */
  def cellBBox(id: Long): (Double, Double, Double, Double) = {
    val (ix, iy, res) = decode(id)
    val cs = cellSize(res)
    (ix * cs, iy * cs, (ix + 1) * cs, (iy + 1) * cs)
  }

  /**
   * Cells at Chebyshev distance exactly k (the "ring"); k=0 yields the cell
   * itself. Ring k has 8k cells (k>0).
   */
  def neighborRing(id: Long, k: Int): Array[Long] = {
    val (ix, iy, res) = decode(id)
    if (k == 0) return Array(id)
    val out = new Array[Long](8 * k)
    var n = 0
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          out(n) = encode(ix + dx, iy + dy, res)
          n += 1
        }
        dy += 1
      }
      dx += 1
    }
    out
  }

  /** All cells with Chebyshev distance ≤ k (the "disk"); (2k+1)^2 cells. */
  def neighborDisk(id: Long, k: Int): Array[Long] = {
    val (ix, iy, res) = decode(id)
    val side = 2 * k + 1
    val out = new Array[Long](side * side)
    var n = 0
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        out(n) = encode(ix + dx, iy + dy, res)
        n += 1
        dy += 1
      }
      dx += 1
    }
    out
  }

  /** The cell itself plus its 4 "forward" neighbors (E, NE, N, NW) — half
   * of the 8-neighborhood, chosen so that for any two distinct adjacent
   * cells exactly one contains the other in its forward set. Generating
   * radius-join candidates with this set instead of the full 3x3 disk
   * halves the join fan-out: each unordered pair is produced once. */
  def forwardNeighbors(id: Long): Array[Long] = {
    val (ix, iy, res) = decode(id)
    Array(id,
      encode(ix + 1, iy, res), encode(ix + 1, iy + 1, res),
      encode(ix, iy + 1, res), encode(ix - 1, iy + 1, res))
  }

  /** All cell ids whose bbox intersects the given bbox (for polygon coverage). */
  def coveringCells(xmin: Double, ymin: Double, xmax: Double, ymax: Double, res: Int): Array[Long] = {
    val cs = cellSize(res)
    val x0 = cellCoord(xmin, cs)
    val x1 = cellCoord(xmax, cs)
    val y0 = cellCoord(ymin, cs)
    val y1 = cellCoord(ymax, cs)
    val out = new Array[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var n = 0
    var ix = x0
    while (ix <= x1) {
      var iy = y0
      while (iy <= y1) {
        out(n) = encode(ix, iy, res)
        n += 1
        iy += 1
      }
      ix += 1
    }
    out
  }
}
