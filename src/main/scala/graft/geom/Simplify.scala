package graft.geom

/**
 * Visvalingam / Douglas-Peucker path simplification.
 *
 * Mirrors the reference semantics (`/root/reference/src/simplify/mapshaper-visvalingam.mjs`):
 *  - per-vertex "effective area" thresholds computed by repeated removal of the
 *    minimum-area vertex from a min-heap, with neighbor recomputation;
 *  - monotonicity enforced: a vertex never gets a lower threshold than the last
 *    removed vertex (visvalingam.mjs:62-70);
 *  - endpoints get +Infinity (never removed);
 *  - "scaled" variant converts the area metric to a linear equivalent:
 *    `sqrt(area) * 0.65` for interior vertices (visvalingam.mjs:142-150);
 *  - weighted metric `(1 - 0.7*cos) * area` favoring ~120° angles
 *    (visvalingam.mjs:96-127).
 *
 * Planar and spherical paths share one core: one method dispatch, one
 * Visvalingam loop, one Douglas-Peucker recursion and one vertex filter,
 * reading the path through `Vertices`. This is a per-path kernel: on Spark,
 * each path is one row `(id, ring)` and the kernel runs inside a map —
 * embarrassingly parallel, no shuffle.
 */
object Simplify {

  /** Simplification method. */
  sealed trait Method
  case object Visvalingam extends Method
  case object WeightedVisvalingam extends Method
  case object DouglasPeucker extends Method

  /**
   * Planar per-vertex removal thresholds for one path. Endpoints = +Inf.
   * Returned array has the same length as the input.
   */
  def thresholds(xx: Array[Double], yy: Array[Double], method: Method): Array[Double] =
    thresholdsOf(xx.length, method, new Vertices {
      def area(a: Int, b: Int, c: Int): Double =
        Geom.triangleArea(xx(a), yy(a), xx(b), yy(b), xx(c), yy(c))
      def cosine(a: Int, b: Int, c: Int): Double =
        Geom.cosine(xx(a), yy(a), xx(b), yy(b), xx(c), yy(c))
      def segDistance(p: Int, a: Int, b: Int): Double = {
        val dx = xx(b) - xx(a)
        val dy = yy(b) - yy(a)
        val len2 = dx * dx + dy * dy
        if (len2 == 0) Geom.distance(xx(p), yy(p), xx(a), yy(a))
        else math.abs((xx(p) - xx(a)) * dy - (yy(p) - yy(a)) * dx) / math.sqrt(len2)
      }
    })

  /**
   * Spherical thresholds for an unprojected lon/lat path — the reference's
   * default for geographic data (`mapshaper-simplify.mjs:91-120`): vertices
   * go to XYZ on the WGS84-radius sphere and the SAME kernels run with 3D
   * metrics, so thresholds are in meters and behave correctly at poles and
   * near the antimeridian (where planar lon/lat geometry is distorted).
   * Douglas-Peucker measures the distance to the chord line in 3D.
   */
  def sphericalThresholds(lon: Array[Double], lat: Array[Double], method: Method): Array[Double] = {
    val n = lon.length
    val xx = new Array[Double](n)
    val yy = new Array[Double](n)
    val zz = new Array[Double](n)
    val xyz = new Array[Double](3)
    var i = 0
    while (i < n) {
      Geom.lngLatToXYZ(lon(i), lat(i), xyz)
      xx(i) = xyz(0); yy(i) = xyz(1); zz(i) = xyz(2)
      i += 1
    }
    thresholdsOf(n, method, new Vertices {
      def area(a: Int, b: Int, c: Int): Double =
        Geom.triangleArea3D(xx(a), yy(a), zz(a), xx(b), yy(b), zz(b), xx(c), yy(c), zz(c))
      def cosine(a: Int, b: Int, c: Int): Double =
        Geom.cosine3D(xx(a), yy(a), zz(a), xx(b), yy(b), zz(b), xx(c), yy(c), zz(c))
      def segDistance(p: Int, a: Int, b: Int): Double = {
        val ux = xx(b) - xx(a); val uy = yy(b) - yy(a); val uz = zz(b) - zz(a)
        val vx = xx(p) - xx(a); val vy = yy(p) - yy(a); val vz = zz(p) - zz(a)
        val len2 = ux * ux + uy * uy + uz * uz
        if (len2 == 0) Geom.distance3D(xx(p), yy(p), zz(p), xx(a), yy(a), zz(a))
        else {
          val cx = uy * vz - uz * vy
          val cy = uz * vx - ux * vz
          val cz = ux * vy - uy * vx
          math.sqrt((cx * cx + cy * cy + cz * cz) / len2)
        }
      }
    })
  }

  /** A path's geometry as the kernels read it, by vertex index: planar
   * (x, y) or XYZ on the sphere. */
  private trait Vertices {
    /** Area of the triangle (a, b, c). */
    def area(a: Int, b: Int, c: Int): Double
    /** Cosine of the angle at b, clamped to [-1, 1]. */
    def cosine(a: Int, b: Int, c: Int): Double
    /** Distance from p to the line through a and b. */
    def segDistance(p: Int, a: Int, b: Int): Double
  }

  /** The one method dispatch, for planar and spherical paths alike. */
  private def thresholdsOf(n: Int, method: Method, v: Vertices): Array[Double] = method match {
    case Visvalingam         => scaled(visvalingamIdx(n, v.area))
    case WeightedVisvalingam =>
      scaled(visvalingamIdx(n, (b, c, d) => weighted(0.7, v.area(b, c, d), v.cosine(b, c, d))))
    case DouglasPeucker      => douglasPeuckerIdx(n, v)
  }

  type Metric = (Double, Double, Double, Double, Double, Double) => Double

  val standardMetric: Metric = Geom.triangleArea

  def weightedMetric(k: Double): Metric =
    (ax, ay, bx, by, cx, cy) =>
      weighted(k, Geom.triangleArea(ax, ay, bx, by, cx, cy), Geom.cosine(ax, ay, bx, by, cx, cy))

  /** The weighted metric: `area` scaled to favor angles near 120°. */
  @inline private def weighted(k: Double, area: Double, cos: Double): Double = (1.0 - cos * k) * area

  /** Convert area thresholds to linear equivalents (interior vertices only). */
  private def scaled(kk: Array[Double]): Array[Double] = {
    var i = 1
    while (i < kk.length - 1) {
      kk(i) = math.sqrt(kk(i)) * 0.65
      i += 1
    }
    kk
  }

  /** Raw (unscaled) planar Visvalingam thresholds under `metric` (mirrors
   * `calcVisvalingam`). */
  def visvalingam(xx: Array[Double], yy: Array[Double], metric: Metric): Array[Double] =
    visvalingamIdx(xx.length,
      (b, c, d) => metric(xx(b), yy(b), xx(c), yy(c), xx(d), yy(d)))

  /** The min-heap Visvalingam loop over vertex INDICES — planar and
   * spherical paths differ only in the metric. */
  private def visvalingamIdx(n: Int, metricAt: (Int, Int, Int) => Double): Array[Double] = {
    val kk = new Array[Double](n)
    if (n == 0) return kk
    val prev = new Array[Int](n)
    val next = new Array[Int](n)
    var c = 0
    while (c < n) {
      val b = c - 1
      val d = c + 1
      kk(c) = if (b < 0 || d >= n) Double.PositiveInfinity
              else metricAt(b, c, d)
      prev(c) = b
      next(c) = d
      c += 1
    }
    val heap = new MinHeap(kk)
    var maxVal = Double.NegativeInfinity
    var continue = true
    while (heap.size > 0 && continue) {
      val i = heap.pop()
      val v = kk(i)
      if (v == Double.PositiveInfinity) continue = false
      else {
        if (v < maxVal) kk(i) = maxVal // monotonicity clamp
        else maxVal = v
        val b = prev(i)
        val d = next(i)
        if (b > 0) heap.update(b, metricAt(prev(b), b, d))
        if (d < n - 1) heap.update(d, metricAt(b, d, next(d)))
        next(b max 0) = d
        if (d < n) prev(d) = b
      }
    }
    kk
  }

  /** Douglas-Peucker thresholds: max distance to the chord at split vertices. */
  private def douglasPeuckerIdx(n: Int, v: Vertices): Array[Double] = {
    val kk = new Array[Double](n)
    if (n < 3) { var i = 0; while (i < n) { kk(i) = Double.PositiveInfinity; i += 1 }; return kk }
    kk(0) = Double.PositiveInfinity
    kk(n - 1) = Double.PositiveInfinity

    def seg(lo: Int, hi: Int, enclosing: Double): Unit = {
      if (hi - lo < 2) return
      var maxD = -1.0
      var maxI = -1
      var i = lo + 1
      while (i < hi) {
        val d = v.segDistance(i, lo, hi)
        if (d > maxD) { maxD = d; maxI = i }
        i += 1
      }
      // cap at enclosing threshold to keep thresholds monotone along recursion
      val t = math.min(maxD, enclosing)
      kk(maxI) = t
      seg(lo, maxI, t)
      seg(maxI, hi, t)
    }
    seg(0, n - 1, Double.PositiveInfinity)
    kk
  }

  /**
   * World-edge protection (`mapshaper-simplify.mjs:168-177`): vertices on the
   * ±180 / ±90 frame (with 1e-12 rounding slack) get the path's max finite
   * threshold so they are never removed before interior detail — prevents
   * Antarctica-style outlines from detaching from the antimeridian.
   */
  def protectWorldEdges(lon: Array[Double], lat: Array[Double], kk: Array[Double]): Array[Double] = {
    val xmax = 180.0 - 1e-12; val ymax = 90.0 - 1e-12
    var lockZ = 0.0
    var locked = false
    var i = 0
    while (i < kk.length) {
      if (lon(i) >= xmax || lon(i) <= -xmax || lat(i) >= ymax || lat(i) <= -ymax) {
        if (!locked) {
          var m = 0.0
          var j = 0
          while (j < kk.length) {
            if (kk(j) > m && kk(j) < Double.PositiveInfinity) m = kk(j)
            j += 1
          }
          lockZ = m
          locked = true
        }
        if (kk(i) != Double.PositiveInfinity) kk(i) = lockZ
      }
      i += 1
    }
    kk
  }

  /**
   * The vertices of a flat path (`x0, y0, x1, y1, ...`) whose threshold in
   * `kk` is at least `interval`; endpoints (+Inf) always survive a finite
   * interval. With `keepShapes` (the reference's keep-shapes repair), a
   * closed ring of at least 4 vertices that would keep fewer than 4 keeps
   * its highest-threshold interior vertices instead (ties -> lower index);
   * open paths are never restored.
   */
  def filter(flat: Array[Double], kk: Array[Double], interval: Double,
             keepShapes: Boolean): Array[Double] = {
    val n = kk.length
    val keep = new Array[Boolean](n)
    var kept = 0
    var i = 0
    while (i < n) {
      if (kk(i) >= interval) { keep(i) = true; kept += 1 }
      i += 1
    }
    if (keepShapes && kept < 4 && n >= 4 &&
        flat(0) == flat(flat.length - 2) && flat(1) == flat(flat.length - 1)) {
      val order = (1 until n - 1).sortBy(j => (-kk(j), j))
      var k = 0
      while (kept < 4 && k < order.length) {
        if (!keep(order(k))) { keep(order(k)) = true; kept += 1 }
        k += 1
      }
    }
    val out = new Array[Double](kept * 2)
    var o = 0
    i = 0
    while (i < n) {
      if (keep(i)) { out(o) = flat(i * 2); out(o + 1) = flat(i * 2 + 1); o += 2 }
      i += 1
    }
    out
  }

  /** Index-addressable binary min-heap over external values, with position
   * tracking for O(log n) `update` (mirrors `mapshaper-heap.mjs`). Ties on
   * value break by smaller item id, so the removal ORDER (and with it the
   * clamped threshold sequence) is fully deterministic — lattice-derived
   * coordinates produce exact area ties, and an arbitrary heap order would
   * make simplification output depend on heap internals. */
  final class MinHeap(values: Array[Double]) {
    private val n = values.length
    private val heap = new Array[Int](n)   // heap slot -> item id
    private val pos = new Array[Int](n)    // item id -> heap slot
    private var _size = n

    /** (value, id) lexicographic: a strictly-less-than b. */
    @inline private def lt(a: Int, b: Int): Boolean = {
      val va = values(a); val vb = values(b)
      va < vb || (va == vb && a < b)
    }
    locally {
      var i = 0
      while (i < n) { heap(i) = i; pos(i) = i; i += 1 }
      var j = n / 2 - 1
      while (j >= 0) { down(j); j -= 1 }
    }

    def size: Int = _size

    def pop(): Int = {
      val top = heap(0)
      _size -= 1
      if (_size > 0) {
        moveTo(heap(_size), 0)
        down(0)
      }
      top
    }

    def update(id: Int, value: Double): Unit = {
      values(id) = value
      val i = pos(id)
      if (i < _size) { up(i); down(pos(id)) }
    }

    @inline private def moveTo(id: Int, slot: Int): Unit = { heap(slot) = id; pos(id) = slot }

    private def up(i0: Int): Unit = {
      var i = i0
      val id = heap(i)
      while (i > 0) {
        val p = (i - 1) / 2
        if (!lt(id, heap(p))) return moveTo(id, i)
        moveTo(heap(p), i)
        i = p
      }
      moveTo(id, i)
    }

    private def down(i0: Int): Unit = {
      var i = i0
      val id = heap(i)
      var continue = true
      while (continue) {
        var c = 2 * i + 1
        if (c >= _size) continue = false
        else {
          if (c + 1 < _size && lt(heap(c + 1), heap(c))) c += 1
          if (!lt(heap(c), id)) continue = false
          else { moveTo(heap(c), i); i = c }
        }
      }
      moveTo(id, i)
    }
  }
}
