package graft.geom

/**
 * Pure-Scala planar geometry kernel (zero Spark dependencies).
 *
 * Semantics follow the reference engine (mapshaper v0.7.48):
 *  - point-in-ring via a vertical upward ray with special endpoint rules
 *    (`/root/reference/src/geom/mapshaper-polygon-geom.mjs:96-176`): a hit on a
 *    shared vertex is only scored when the query x is aligned with the segment's
 *    *rightmost* endpoint, which makes the crossing count exact at vertices;
 *    touching the segment itself classifies as boundary.
 *  - multi-ring combination is even-odd with boundary counted as enclosed
 *    (`/root/reference/src/paths/mapshaper-path-index.mjs:176-188`).
 *  - snap interval `2^ceil(log2(max|coord|)) / 2^51`
 *    (`/root/reference/src/paths/mapshaper-snapping.mjs:17-26`).
 *
 * All arithmetic is IEEE-754 double in a fixed evaluation order so results are
 * bit-stable across partitions / executors (required for exact join-row parity).
 */
object Geom {

  /** Result of a point-in-ring / point-in-shape test. */
  final val OUT = 0
  final val IN = 1
  final val ON = -1

  // ---------------------------------------------------------------- ray cast

  /**
   * Vertical-ray intersection of the upward ray from (x,y) with segment
   * (ax,ay)-(bx,by). Returns 1 = crossing, 0 = none, -1 = point on segment.
   * Mirrors `getRayIntersection` (mapshaper-polygon-geom.mjs:128-176) with the
   * same branch structure and double arithmetic.
   */
  def rayIntersection(x: Double, y: Double, ax: Double, ay: Double, bx: Double, by: Double): Int = {
    if ((x < ax && x < bx) || (x > ax && x > bx) || (y > ay && y > by)) {
      0 // entirely left, right, or above
    } else if (x == ax || x == bx) {
      if (x == ax && x == bx) {
        // vertical or collapsed segment: on it iff y within [min, max]
        if (y == ay || y == by || ((y > ay) != (y > by))) ON else 0
      } else if (x == ax) {
        if (y == ay) ON
        else if (bx < ax && y < ay) 1 // only score hit at rightmost endpoint
        else 0
      } else {
        if (y == by) ON
        else if (ax < bx && y < by) 1
        else 0
      }
    } else {
      // px strictly between endpoints
      val yInt = ay + (x - ax) * (by - ay) / (bx - ax)
      if (yInt > y) 1
      else if (yInt == y) ON
      else 0
    }
  }

  /**
   * Point-in-ring over a coordinate slice: vertices (xx(i), yy(i)) for
   * i in [start, start+n), closed ring (last == first expected but not required;
   * segments wrap implicitly only if caller closed the ring).
   * Returns OUT / IN / ON. Mirrors `testPointInRing`.
   */
  def pointInRing(x: Double, y: Double, xx: Array[Double], yy: Array[Double], start: Int, n: Int): Int = {
    var isIn = false
    var isOn = false
    var i = start
    val end = start + n - 1
    while (i < end) {
      val r = rayIntersection(x, y, xx(i), yy(i), xx(i + 1), yy(i + 1))
      if (r == 1) isIn = !isIn
      else if (r == ON) isOn = true
      i += 1
    }
    if (isOn) ON else if (isIn) IN else OUT
  }

  /** [[pointInRing]] over a closed flat ring in Catalyst ArrayData — reads
   * elements in place (no per-row array copy, no boxing); a trailing odd
   * element is ignored. The kernel of the codegen `pip_ring_state`. */
  def pointInRingData(x: Double, y: Double,
                      ring: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    var isIn = false
    var isOn = false
    var i = 0
    val n = ring.numElements()
    while (i + 3 < n) {
      val r = rayIntersection(x, y, ring.getDouble(i), ring.getDouble(i + 1),
        ring.getDouble(i + 2), ring.getDouble(i + 3))
      if (r == 1) isIn = !isIn
      else if (r == ON) isOn = true
      i += 2
    }
    if (isOn) ON else if (isIn) IN else OUT
  }

  /**
   * Even-odd accumulation across several rings of one shape; boundary counts as
   * enclosed (mirrors `testPointInRings`, path-index.mjs:176-188).
   * `ringResults` are OUT/IN/ON values from [[pointInRing]].
   */
  def combineRings(ringResults: Iterator[Int]): Boolean = {
    var isIn = false
    var isOn = false
    while (ringResults.hasNext) {
      ringResults.next() match {
        case ON => isOn = true
        case IN => isIn = !isIn
        case _  =>
      }
    }
    isOn || isIn
  }

  // ------------------------------------------------------ closed flat rings
  // DataFrame columns and the overlay engine carry a ring as one closed flat
  // array [x0, y0, x1, y1, …, x0, y0]; the kernels here take (xx, yy, start,
  // n) slices. These are the only conversions between the two layouts.

  /** (xs, ys) of a flat ring; a trailing odd element is ignored. */
  def unzipRing(flat: Array[Double]): (Array[Double], Array[Double]) = {
    val n = flat.length / 2
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = flat(i * 2); ys(i) = flat(i * 2 + 1); i += 1 }
    (xs, ys)
  }

  /** The flat ring of vertices (xs(i), ys(i)); inverse of [[unzipRing]]. */
  def zipRing(xs: Array[Double], ys: Array[Double]): Array[Double] = {
    val out = new Array[Double](xs.length * 2)
    var i = 0
    while (i < xs.length) { out(i * 2) = xs(i); out(i * 2 + 1) = ys(i); i += 1 }
    out
  }

  /** A flat ring with its point order reversed. */
  def reverseRing(flat: Array[Double]): Array[Double] = {
    val n = flat.length / 2
    val out = new Array[Double](flat.length)
    var i = 0
    while (i < n) {
      out(i * 2) = flat((n - 1 - i) * 2)
      out(i * 2 + 1) = flat((n - 1 - i) * 2 + 1)
      i += 1
    }
    out
  }

  /** [[signedRingArea]] of a flat ring. */
  def ringArea(flat: Array[Double]): Double = {
    val (xs, ys) = unzipRing(flat)
    signedRingArea(xs, ys, 0, xs.length)
  }

  // ---------------------------------------------------------------- measures

  /** Signed area of a ring (shoelace /2); positive = counter-clockwise. */
  def signedRingArea(xx: Array[Double], yy: Array[Double], start: Int, n: Int): Double = {
    var sum = 0.0
    var i = start
    val end = start + n - 1
    while (i < end) {
      sum += xx(i) * yy(i + 1) - xx(i + 1) * yy(i)
      i += 1
    }
    sum / 2.0
  }

  /** Ring centroid (area-weighted); falls back to vertex mean for zero area. */
  def ringCentroid(xx: Array[Double], yy: Array[Double], start: Int, n: Int): (Double, Double) = {
    var a = 0.0; var cx = 0.0; var cy = 0.0
    var i = start
    val end = start + n - 1
    while (i < end) {
      val cross = xx(i) * yy(i + 1) - xx(i + 1) * yy(i)
      a += cross
      cx += (xx(i) + xx(i + 1)) * cross
      cy += (yy(i) + yy(i + 1)) * cross
      i += 1
    }
    if (a == 0.0) {
      var sx = 0.0; var sy = 0.0
      var j = start
      while (j < start + n) { sx += xx(j); sy += yy(j); j += 1 }
      (sx / n, sy / n)
    } else (cx / (3.0 * a), cy / (3.0 * a))
  }

  /** Path length (perimeter for closed rings). */
  def pathLength(xx: Array[Double], yy: Array[Double], start: Int, n: Int): Double = {
    var sum = 0.0
    var i = start
    val end = start + n - 1
    while (i < end) {
      val dx = xx(i + 1) - xx(i)
      val dy = yy(i + 1) - yy(i)
      sum += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    sum
  }

  /** Twice the (unsigned) triangle area — Visvalingam metric base. */
  def triangleArea(ax: Double, ay: Double, bx: Double, by: Double, cx: Double, cy: Double): Double =
    math.abs(((ay - cy) * (bx - cx) + (by - cy) * (cx - ax)) / 2.0)

  /** Cosine of the angle at vertex b (for weighted Visvalingam). */
  def cosine(ax: Double, ay: Double, bx: Double, by: Double, cx: Double, cy: Double): Double = {
    val den = distance(ax, ay, bx, by) * distance(bx, by, cx, cy)
    var cos = 0.0
    if (den > 0) {
      cos = ((ax - bx) * (cx - bx) + (ay - by) * (cy - by)) / den
      if (cos > 1) cos = 1 else if (cos < -1) cos = -1
    }
    cos
  }

  @inline def distance(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = ax - bx; val dy = ay - by
    math.sqrt(dx * dx + dy * dy)
  }

  @inline def distanceSq(ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val dx = ax - bx; val dy = ay - by
    dx * dx + dy * dy
  }

  /** Squared distance from p to segment (a, b) — clamped-projection form
    * (reference `pointSegDistSq2`, mapshaper-basic-geom.mjs:272-279). */
  @inline def pointSegDistSq(px: Double, py: Double,
                             ax: Double, ay: Double, bx: Double, by: Double): Double = {
    val ab2 = distanceSq(ax, ay, bx, by)
    if (ab2 == 0) distanceSq(px, py, ax, ay)
    else {
      var t = ((px - ax) * (bx - ax) + (py - ay) * (by - ay)) / ab2
      if (t < 0) t = 0 else if (t > 1) t = 1
      distanceSq(px, py, ax + t * (bx - ax), ay + t * (by - ay))
    }
  }

  // ------------------------------------------------- 3D (spherical) metrics
  // lon/lat paths are simplified on the unit-Earth sphere: vertices are
  // converted to XYZ and the same Visvalingam/DP kernels run with these
  // metrics (reference: mapshaper-basic-geom.mjs triangleArea3D/cosine3D).

  @inline def distance3D(ax: Double, ay: Double, az: Double,
                         bx: Double, by: Double, bz: Double): Double = {
    val dx = ax - bx; val dy = ay - by; val dz = az - bz
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  @inline private def detSq(ax: Double, ay: Double, bx: Double, by: Double,
                            cx: Double, cy: Double): Double = {
    val det = ax * by - ax * cy + bx * cy - bx * ay + cx * ay - cx * by
    det * det
  }

  /** Triangle area in 3D (norm of the cross product halved, via the three
   * coordinate-plane projections). */
  def triangleArea3D(ax: Double, ay: Double, az: Double, bx: Double, by: Double, bz: Double,
                     cx: Double, cy: Double, cz: Double): Double =
    0.5 * math.sqrt(detSq(ax, ay, bx, by, cx, cy) +
      detSq(ax, az, bx, bz, cx, cz) + detSq(ay, az, by, bz, cy, cz))

  /** Cosine of the angle at b in 3D, clamped to [-1, 1]. */
  def cosine3D(ax: Double, ay: Double, az: Double, bx: Double, by: Double, bz: Double,
               cx: Double, cy: Double, cz: Double): Double = {
    val den = distance3D(ax, ay, az, bx, by, bz) * distance3D(bx, by, bz, cx, cy, cz)
    if (den <= 0) 0.0
    else {
      val cos = ((ax - bx) * (cx - bx) + (ay - by) * (cy - by) + (az - bz) * (cz - bz)) / den
      if (cos > 1) 1.0 else if (cos < -1) -1.0 else cos
    }
  }

  /** lon/lat (degrees) → XYZ on the R-sphere (reference lngLatToXYZ). */
  def lngLatToXYZ(lonDeg: Double, latDeg: Double, out: Array[Double]): Unit = {
    val R = 6378137.0
    val lng = lonDeg * math.Pi / 180.0
    val lat = latDeg * math.Pi / 180.0
    val cosLat = math.cos(lat)
    out(0) = math.cos(lng) * cosLat * R
    out(1) = math.sin(lng) * cosLat * R
    out(2) = math.sin(lat) * R
  }

  /** Spherical signed ring area (m^2) for lon/lat rings — the reference's
   * exact accumulation (`src/geom/mapshaper-polygon-geom.mjs:186-204`,
   * getSphericalPathArea2: sum (x - xp)(2 + sin y + sin yp) / 2 * R^2). */
  def sphericalRingArea(lons: Array[Double], lats: Array[Double], start: Int, n: Int,
                        radius: Double = 6378137.0): Double = {
    val d2r = math.Pi / 180.0
    var sum = 0.0
    var xp = lons(start) * d2r
    var yp = math.sin(lats(start) * d2r)
    var i = start + 1
    while (i < start + n) {
      val x = lons(i) * d2r
      val y = math.sin(lats(i) * d2r)
      sum += (x - xp) * (2.0 + y + yp)
      xp = x; yp = y
      i += 1
    }
    sum / 2.0 * radius * radius
  }

  /** Great-circle path length (m) along lon/lat vertices (haversine). */
  def sphericalPathLength(lons: Array[Double], lats: Array[Double], start: Int, n: Int,
                          radius: Double = 6371008.8): Double = {
    val d2r = math.Pi / 180.0
    var sum = 0.0
    var i = start
    while (i < start + n - 1) {
      val dlat = (lats(i + 1) - lats(i)) * d2r
      val dlon = (lons(i + 1) - lons(i)) * d2r
      val a = math.sin(dlat / 2) * math.sin(dlat / 2) +
        math.cos(lats(i) * d2r) * math.cos(lats(i + 1) * d2r) *
          math.sin(dlon / 2) * math.sin(dlon / 2)
      sum += 2.0 * radius * math.asin(math.min(1.0, math.sqrt(a)))
      i += 1
    }
    sum
  }

  /** Circumcenter of triangle (a,b,c); (NaN, NaN) when degenerate/collinear. */
  def circumcenter(ax: Double, ay: Double, bx: Double, by: Double,
                   cx: Double, cy: Double): (Double, Double) = {
    val d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if (d == 0) return (Double.NaN, Double.NaN)
    val a2 = ax * ax + ay * ay
    val b2 = bx * bx + by * by
    val c2 = cx * cx + cy * cy
    val ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
    val uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
    (ux, uy)
  }

  // ------------------------------------------------------------- orientation

  /**
   * Robust orientation of c relative to segment a→b: >0 left/CCW, <0 right/CW,
   * 0 collinear. Double fast path with exact BigDecimal escalation when the
   * result is within the rounding-error envelope (same double→exact escalation
   * idea as `mapshaper-segment-geom-big.mjs`).
   */
  def orient2d(ax: Double, ay: Double, bx: Double, by: Double, cx: Double, cy: Double): Int = {
    val detLeft = (ax - cx) * (by - cy)
    val detRight = (ay - cy) * (bx - cx)
    val det = detLeft - detRight
    val detSum = math.abs(detLeft) + math.abs(detRight)
    // error bound for the double computation (Shewchuk-style constant)
    val errBound = 3.3306690738754716e-16 * detSum
    if (det > errBound) 1
    else if (det < -errBound) -1
    else if (det == 0.0 && detSum == 0.0) 0
    else orient2dExact(ax, ay, bx, by, cx, cy)
  }

  private def orient2dExact(ax: Double, ay: Double, bx: Double, by: Double, cx: Double, cy: Double): Int = {
    import java.math.BigDecimal
    val d = new BigDecimal(ax).subtract(new BigDecimal(cx))
      .multiply(new BigDecimal(by).subtract(new BigDecimal(cy)))
      .subtract(new BigDecimal(ay).subtract(new BigDecimal(cy))
        .multiply(new BigDecimal(bx).subtract(new BigDecimal(cx))))
    d.signum()
  }

  /**
   * Proper segment intersection test (shares no endpoint): true iff segments
   * ab and cd strictly cross or touch. Uses robust orientation.
   */
  def segmentsIntersect(ax: Double, ay: Double, bx: Double, by: Double,
                        cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    val o1 = orient2d(ax, ay, bx, by, cx, cy)
    val o2 = orient2d(ax, ay, bx, by, dx, dy)
    val o3 = orient2d(cx, cy, dx, dy, ax, ay)
    val o4 = orient2d(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) true
    else if (o1 == 0 && onSegment(ax, ay, bx, by, cx, cy)) true
    else if (o2 == 0 && onSegment(ax, ay, bx, by, dx, dy)) true
    else if (o3 == 0 && onSegment(cx, cy, dx, dy, ax, ay)) true
    else if (o4 == 0 && onSegment(cx, cy, dx, dy, bx, by)) true
    else false
  }

  @inline private def onSegment(ax: Double, ay: Double, bx: Double, by: Double, px: Double, py: Double): Boolean =
    px >= math.min(ax, bx) && px <= math.max(ax, bx) &&
      py >= math.min(ay, by) && py <= math.max(ay, by)

  // ---------------------------------------------------------------- snapping

  /**
   * Deterministic ulp-scaled snap interval: `2^ceil(log2(max|coord|)) / 2^51`
   * (mapshaper-snapping.mjs:17-26). Quantizing with this interval makes
   * coordinates bit-stable grouping keys across partitions.
   */
  def snapInterval(maxAbsCoord: Double): Double = {
    if (maxAbsCoord <= 0 || maxAbsCoord.isNaN || maxAbsCoord.isInfinite) return 0.0
    val exp = math.ceil(math.log(maxAbsCoord) / math.log(2.0))
    math.pow(2.0, exp) / math.pow(2.0, 51.0)
  }

  /** Quantize a coordinate to the snap lattice (round-half-even free: uses rint). */
  @inline def snap(v: Double, interval: Double): Double =
    if (interval <= 0) v else math.rint(v / interval) * interval

  // -------------------------------------------------------------------- bbox

  /** Bounding box as (xmin, ymin, xmax, ymax). */
  def bounds(xx: Array[Double], yy: Array[Double], start: Int, n: Int): (Double, Double, Double, Double) = {
    var xmin = Double.MaxValue; var ymin = Double.MaxValue
    var xmax = Double.MinValue; var ymax = Double.MinValue
    var i = start
    while (i < start + n) {
      val x = xx(i); val y = yy(i)
      if (x < xmin) xmin = x
      if (x > xmax) xmax = x
      if (y < ymin) ymin = y
      if (y > ymax) ymax = y
      i += 1
    }
    (xmin, ymin, xmax, ymax)
  }
}
