package graft.index

import graft.geom.Geom

/**
 * Immutable struct-of-arrays polygon layer, designed to be broadcast to
 * executors as one compact blob (the Spark analog of the reference's
 * `ArcCollection` + `PathIndex`: SoA coordinate arrays
 * `src/paths/mapshaper-arcs.mjs:57-63`, candidate-ring lookup
 * + per-ring point-in-polygon `src/paths/mapshaper-path-index.mjs:9-237`).
 *
 * Layout:
 *  - `xx`, `yy`: concatenated vertex coords of all rings (closed: first==last);
 *  - `ringStart`: nRings+1 offsets into xx/yy;
 *  - `ringShape`: ring -> shape (polygon feature) index;
 *  - `ringBoxes`: 4 doubles per ring (minX, minY, maxX, maxY);
 *  - per-ring x-bucketed segment index for large rings (mirrors the adaptive
 *    hot-spot heuristic of `PathIndex` / `PolygonIndex`,
 *    `src/paths/mapshaper-path-index.mjs:155-173`,
 *    `src/polygons/mapshaper-polygon-index.mjs:9-131`).
 *
 * Only these arrays travel; every probe goes through the [[grid]] index,
 * which each executor builds lazily from them on first use.
 *
 * Point-in-shape semantics: even-odd across the shape's rings with boundary
 * counted as enclosed (`path-index.mjs:176-188`) — holes need no special
 * casing, parity handles them.
 */
final class PolygonLayer(
    val xx: Array[Double],
    val yy: Array[Double],
    val ringStart: Array[Int],
    val ringShape: Array[Int],
    val numShapes: Int,
    val shapeKeys: Array[Long] // external polygon ids, one per shape
) extends Serializable {

  val numRings: Int = ringShape.length

  val ringBoxes: Array[Double] = {
    val b = new Array[Double](numRings * 4)
    var r = 0
    while (r < numRings) {
      val (x0, y0, x1, y1) = Geom.bounds(xx, yy, ringStart(r), ringStart(r + 1) - ringStart(r))
      b(r * 4) = x0; b(r * 4 + 1) = y0; b(r * 4 + 2) = x1; b(r * 4 + 3) = y1
      r += 1
    }
    b
  }

  /** Layer extent (minX, minY, maxX, maxY). */
  val extent: (Double, Double, Double, Double) = {
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    var r = 0
    while (r < numRings) {
      if (ringBoxes(r * 4) < x0) x0 = ringBoxes(r * 4)
      if (ringBoxes(r * 4 + 1) < y0) y0 = ringBoxes(r * 4 + 1)
      if (ringBoxes(r * 4 + 2) > x1) x1 = ringBoxes(r * 4 + 2)
      if (ringBoxes(r * 4 + 3) > y1) y1 = ringBoxes(r * 4 + 3)
      r += 1
    }
    (x0, y0, x1, y1)
  }

  /** Packed R-tree over the ring boxes. No probe uses it; the tests'
   * reference PIP searches it independently of [[grid]]. */
  @transient lazy val tree: StrTree = StrTree.build(ringBoxes)

  /** Uniform-grid PIP index — the candidate-ring lookup of every probe (see
   * [[GridPipIndex]] for the exactness argument). Built lazily once per
   * executor. */
  @transient lazy val grid: GridPipIndex = new GridPipIndex(this)

  /** Per-ring segment index, built lazily for rings above a size threshold. */
  @transient private lazy val ringIndexes: Array[RingSegmentIndex] = new Array[RingSegmentIndex](numRings)

  private final val IndexThreshold = 64 // segments; below this direct scan wins

  /** OUT / IN / ON classification of (x, y) against ring r, bbox-guarded. */
  def pointInRing(x: Double, y: Double, r: Int): Int = {
    val b = r * 4
    if (x < ringBoxes(b) || x > ringBoxes(b + 2) || y < ringBoxes(b + 1) || y > ringBoxes(b + 3)) return Geom.OUT
    val start = ringStart(r)
    val n = ringStart(r + 1) - start
    if (n - 1 >= IndexThreshold) {
      var idx = ringIndexes(r)
      if (idx == null) {
        idx = new RingSegmentIndex(xx, yy, start, n)
        ringIndexes(r) = idx
      }
      idx.pointInRing(x, y)
    } else {
      Geom.pointInRing(x, y, xx, yy, start, n)
    }
  }

  /**
   * Indexes of all shapes enclosing (x, y), ascending; boundary counts as
   * enclosed. Candidate rings come from the [[grid]] cell of (x, y) and
   * combine even-odd per shape (mirrors `findEnclosingShapes` +
   * `testPointInRings`).
   */
  def findShapes(x: Double, y: Double): Array[Int] =
    grid.findShapeIdxs(x, y)

  // ------------------------------------------------------------ hot path ----
  // Per-row entry points of the broadcast spatial join (codegen expressions):
  // a grid cell lookup, exact segment tests only in boundary-crossed cells.

  /** Key of the first enclosing shape, or -1. Zero allocation. */
  def findFirstKey(x: Double, y: Double): Long = grid.findFirstKey(x, y)

  /** First enclosing shape index, or -1, when it is provably the same at
   * every point of the box; -2 when not proven (see
   * [[GridPipIndex.uniformFirstShape]]). */
  def uniformFirstShape(bx0: Double, by0: Double, bx1: Double, by1: Double): Int =
    grid.uniformFirstShape(bx0, by0, bx1, by1)

  /** Keys of all enclosing shapes (ascending shape order). Allocates only the
   * result array (exact-sized; empty result is a shared constant). */
  def findKeys(x: Double, y: Double): Array[Long] = grid.findKeys(x, y)

  /** External key -> index of the first shape carrying it. */
  @transient private lazy val keyToShape: java.util.HashMap[Long, Int] = {
    val m = new java.util.HashMap[Long, Int](numShapes * 2)
    var s = 0
    while (s < numShapes) {
      if (!m.containsKey(shapeKeys(s))) m.put(shapeKeys(s), s)
      s += 1
    }
    m
  }

  /** Unsigned distance from (x, y) to the nearest boundary segment of the
    * shape with external key `key` — the reference's
    * `geom.getPointToShapeDistance` (mapshaper-path-geom.mjs:53, min over
    * all ring segments, holes included), used by `-fuzzy-join` tie
    * resolution. Infinity when the key is unknown. */
  def boundaryDistanceByKey(x: Double, y: Double, key: Long): Double = {
    val s = keyToShape.getOrDefault(key, -1)
    if (s < 0) return Double.PositiveInfinity
    var best = Double.PositiveInfinity
    var r = 0
    while (r < numRings) {
      if (ringShape(r) == s) {
        var i = ringStart(r)
        val end = ringStart(r + 1) - 1
        while (i < end) {
          val d = Geom.pointSegDistSq(x, y, xx(i), yy(i), xx(i + 1), yy(i + 1))
          if (d < best) best = d
          i += 1
        }
      }
      r += 1
    }
    math.sqrt(best)
  }

  /** Planar signed area of a shape = sum of its rings' signed areas. */
  def shapeArea(shape: Int): Double = {
    var sum = 0.0
    var r = 0
    while (r < numRings) {
      if (ringShape(r) == shape)
        sum += Geom.signedRingArea(xx, yy, ringStart(r), ringStart(r + 1) - ringStart(r))
      r += 1
    }
    sum
  }
}

/**
 * X-bucketed segment index for one ring, mirroring the reference's
 * `PolygonIndex` (`src/polygons/mapshaper-polygon-index.mjs:9-131`): segments
 * are bucketed by min-x; segments spanning more than one bucket go to an
 * overflow list; a vertical-ray query at x scans the bucket containing x, the
 * one to its left, and the overflow list.
 */
final class RingSegmentIndex(xx: Array[Double], yy: Array[Double], start: Int, n: Int) {
  private val segCount = n - 1
  private val nBuckets = math.max(4, math.ceil(math.pow(segCount.toDouble, 0.75) / 10.0).toInt)
  private val (x0, bucketWidth) = {
    var mn = Double.MaxValue
    var mx = Double.MinValue
    var i = start
    while (i < start + n) {
      if (xx(i) < mn) mn = xx(i)
      if (xx(i) > mx) mx = xx(i)
      i += 1
    }
    (mn, math.max((mx - mn) / nBuckets, java.lang.Double.MIN_NORMAL))
  }
  // bucket -> array of segment start offsets (segment i = vertices i, i+1)
  private val buckets: Array[Array[Int]] = {
    val tmp = Array.fill(nBuckets)(Array.newBuilder[Int])
    val ovf = Array.newBuilder[Int]
    var i = start
    while (i < start + n - 1) {
      val lo = math.min(xx(i), xx(i + 1))
      val hi = math.max(xx(i), xx(i + 1))
      val bLo = bucketOf(lo)
      val bHi = bucketOf(hi)
      if (bHi - bLo <= 1) tmp(bLo) += i else ovf += i
      i += 1
    }
    tmp.map(_.result()) :+ ovf.result()
  }

  @inline private def bucketOf(x: Double): Int = {
    val b = ((x - x0) / bucketWidth).toInt
    if (b < 0) 0 else if (b >= nBuckets) nBuckets - 1 else b
  }

  /** OUT / IN / ON via vertical-ray parity over candidate segments only. */
  def pointInRing(x: Double, y: Double): Int = {
    var isIn = false
    var isOn = false
    val b = bucketOf(x)
    var k = 0
    while (k < 3) {
      val arr = k match {
        case 0 => buckets(b)
        case 1 => if (b - 1 >= 0) buckets(b - 1) else Array.emptyIntArray
        case _ => buckets(nBuckets) // overflow
      }
      var j = 0
      while (j < arr.length) {
        val i = arr(j)
        val r = Geom.rayIntersection(x, y, xx(i), yy(i), xx(i + 1), yy(i + 1))
        if (r == 1) isIn = !isIn
        else if (r == Geom.ON) isOn = true
        j += 1
      }
      k += 1
    }
    if (isOn) Geom.ON else if (isIn) Geom.IN else Geom.OUT
  }
}

object PolygonLayer {

  /** Build from shapes: each shape = (key, rings), ring = flat Array of (x, y) pairs, closed. */
  def fromShapes(shapes: Seq[(Long, Seq[Array[Double]])]): PolygonLayer = {
    val bxx = Array.newBuilder[Double]
    val byy = Array.newBuilder[Double]
    val rs = Array.newBuilder[Int]
    val rshape = Array.newBuilder[Int]
    val keys = Array.newBuilder[Long]
    var off = 0
    rs += 0
    var shapeIdx = 0
    shapes.foreach { case (key, rings) =>
      keys += key
      rings.foreach { ring =>
        require(ring.length % 2 == 0 && ring.length >= 8, "ring must be closed with >= 4 points")
        var i = 0
        while (i < ring.length) {
          bxx += ring(i)
          byy += ring(i + 1)
          i += 2
        }
        off += ring.length / 2
        rs += off
        rshape += shapeIdx
      }
      shapeIdx += 1
    }
    new PolygonLayer(bxx.result(), byy.result(), rs.result(), rshape.result(), shapeIdx, keys.result())
  }
}
