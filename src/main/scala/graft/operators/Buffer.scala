package graft.operators

import graft.geom.Overlay

/**
 * Buffers and polyline overlay ops — the planar slices of the reference's
 * `-buffer` (`/root/reference/src/commands/mapshaper-buffer.mjs:32` +
 * `src/buffer/`), `-polygons` (polylines → polygons via mosaic,
 * `mapshaper-polygons.mjs:14-40`) and `-divide` (split polylines by polygon
 * boundaries, `mapshaper-divide.mjs:20-40`).
 */
object Buffer {

  /** Circle ring approximating a point buffer (nSeg segments, closed, CCW). */
  def pointBufferRing(cx: Double, cy: Double, radius: Double, nSeg: Int = 32): Array[Double] = {
    val out = new Array[Double]((nSeg + 1) * 2)
    var i = 0
    while (i < nSeg) {
      val a = 2.0 * math.Pi * i / nSeg
      out(i * 2) = cx + radius * math.cos(a)
      out(i * 2 + 1) = cy + radius * math.sin(a)
      i += 1
    }
    out(nSeg * 2) = out(0)
    out(nSeg * 2 + 1) = out(1)
    out
  }

  /** Raw per-segment capsule shapes (rect + endpoint circles) of a path —
   * the pre-merge geometry of the reference's path buffer
   * (`src/buffer/mapshaper-path-buffer.mjs` builds the same offset
   * rect/arc primitives before the mosaic merge). */
  def segmentCapsules(flat: Array[Double], radius: Double, nSeg: Int = 16): Seq[Overlay.Shape] = {
    val shapes = scala.collection.mutable.ArrayBuffer.empty[Seq[Array[Double]]]
    var i = 0
    while (i + 3 < flat.length) {
      val x1 = flat(i); val y1 = flat(i + 1)
      val x2 = flat(i + 2); val y2 = flat(i + 3)
      val dx = x2 - x1; val dy = y2 - y1
      val len = math.hypot(dx, dy)
      if (len > 0) {
        val nx = -dy / len * radius
        val ny = dx / len * radius
        shapes += Seq(Array(
          x1 + nx, y1 + ny, x2 + nx, y2 + ny, x2 - nx, y2 - ny, x1 - nx, y1 - ny, x1 + nx, y1 + ny))
        shapes += Seq(pointBufferRing(x1, y1, radius, nSeg))
        shapes += Seq(pointBufferRing(x2, y2, radius, nSeg))
      }
      i += 2
    }
    shapes.toSeq
  }

  /**
   * Polyline buffer: convex-rounded rectangle around each segment,
   * merged via the mosaic kernel. Planar `-buffer` for open paths.
   */
  def pathBuffer(flat: Array[Double], radius: Double, nSeg: Int = 16): Seq[Array[Double]] =
    Overlay.dissolve2(segmentCapsules(flat, radius, nSeg))

  /**
   * Polygon buffer (`-buffer` on polygon layers,
   * `src/buffer/mapshaper-polygon-buffer.mjs:9-32` semantics): positive
   * radius = shape ∪ boundary buffer (dilation); negative = shape minus
   * boundary buffer (erosion). Rings are closed flat coord arrays.
   */
  def polygonBuffer(shape: Overlay.Shape, radius: Double, nSeg: Int = 16): Seq[Array[Double]] = {
    if (radius == 0) return shape.map(identity)
    val caps = shape.flatMap(ring => segmentCapsules(ring, math.abs(radius), nSeg))
    if (radius > 0) Overlay.dissolve2(shape +: caps)
    else {
      // dissolved boundary buffer = ONE multi-ring shape (outer + hole rings,
      // even-odd) — splitting the rings into separate shapes would lose holes
      val boundary: Overlay.Shape = Overlay.dissolve2(caps)
      Overlay.erase(Seq(shape), Seq(boundary))
    }
  }

  /** Geodesic point buffer: ring of constant great-circle distance on the
   * sphere (spherical direct problem; the reference's geodesic buffers use
   * the ellipsoidal equivalent via geographiclib —
   * `src/buffer/mapshaper-geodesic.mjs`). Output ring in lon/lat degrees. */
  def geodesicPointBufferRing(lonDeg: Double, latDeg: Double, radiusMeters: Double,
                              nSeg: Int = 32, radiusEarth: Double = 6371008.8): Array[Double] = {
    val d2r = math.Pi / 180.0
    val phi = latDeg * d2r
    val lam = lonDeg * d2r
    val delta = radiusMeters / radiusEarth
    val sinD = math.sin(delta); val cosD = math.cos(delta)
    val sinP = math.sin(phi); val cosP = math.cos(phi)
    val out = new Array[Double]((nSeg + 1) * 2)
    var i = 0
    while (i < nSeg) {
      val theta = 2.0 * math.Pi * i / nSeg
      val sinLat2 = sinP * cosD + cosP * sinD * math.cos(theta)
      val lat2 = math.asin(math.max(-1.0, math.min(1.0, sinLat2)))
      val lon2 = lam + math.atan2(math.sin(theta) * sinD * cosP, cosD - sinP * sinLat2)
      out(i * 2) = lon2 / d2r
      out(i * 2 + 1) = lat2 / d2r
      i += 1
    }
    out(nSeg * 2) = out(0)
    out(nSeg * 2 + 1) = out(1)
    out
  }

  /** Ellipsoidal geodesic point-buffer ring: one Vincenty direct shot per
   * bearing (the reference's behavior for ellipsoidal CRS via geographiclib,
   * `src/geom/mapshaper-geodesic.mjs:92-99`; the spherical variant above is
   * its `+R=` / spherical-CRS branch). */
  def geodesicPointBufferRingEllipsoidal(lonDeg: Double, latDeg: Double,
                                         radiusMeters: Double, nSeg: Int = 32): Array[Double] = {
    val out = new Array[Double]((nSeg + 1) * 2)
    var i = 0
    while (i < nSeg) {
      val bearing = 360.0 * i / nSeg
      val (lon2, lat2, _) = graft.geom.Crs.geodesicDirect(latDeg, lonDeg, bearing, radiusMeters)
      out(i * 2) = lon2; out(i * 2 + 1) = lat2
      i += 1
    }
    out(nSeg * 2) = out(0)
    out(nSeg * 2 + 1) = out(1)
    out
  }

  /** Geodesic polyline buffer: densify the lon/lat path so consecutive
   * vertices sit well inside each other's buffer circles, place a geodesic
   * ring at every vertex, and merge through the planar mosaic (valid away
   * from the poles/antimeridian; the reference's geodesic buffers likewise
   * densify then offset — `src/buffer/mapshaper-geodesic-buffer.mjs`). */
  def geodesicPathBuffer(lonLat: Array[Double], radiusMeters: Double,
                         nSeg: Int = 24): Seq[Array[Double]] = {
    val step = radiusMeters / 2.0
    val dense = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var i = 0
    while (i + 3 < lonLat.length) {
      val (lon1, lat1) = (lonLat(i), lonLat(i + 1))
      val (lon2, lat2) = (lonLat(i + 2), lonLat(i + 3))
      val segLen = graft.geom.Geom.sphericalPathLength(
        Array(lon1, lon2), Array(lat1, lat2), 0, 2)
      val pieces = math.max(1, math.ceil(segLen / step).toInt)
      (0 until pieces).foreach { p =>
        val t = p.toDouble / pieces
        dense += ((lon1 + (lon2 - lon1) * t, lat1 + (lat2 - lat1) * t))
      }
      i += 2
    }
    dense += ((lonLat(lonLat.length - 2), lonLat(lonLat.length - 1)))
    val rings = dense.map { case (lon, lat) =>
      Seq(geodesicPointBufferRing(lon, lat, radiusMeters, nSeg)): Overlay.Shape
    }
    Overlay.dissolve2(rings.toSeq)
  }

  /** Polylines → polygons: every bounded face of the line arrangement
   * (`-polygons`; mosaic semantics, no membership filter). */
  def polygonize(lines: Seq[Array[Double]]): Seq[Overlay.Face] =
    Overlay.mosaic(Seq(lines)).faces

  /**
   * `-divide`: split a polyline at polygon boundaries and tag each piece
   * inside/outside. Returns (piece flat coords, inside).
   */
  def divideLine(line: Array[Double], polygon: Seq[Array[Double]]): Seq[(Array[Double], Boolean)] = {
    // cut the line's segments at intersections with polygon edges
    val lineSegs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    var i = 0
    while (i + 3 < line.length) {
      lineSegs += ((line(i), line(i + 1), line(i + 2), line(i + 3)))
      i += 2
    }
    val polySegs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    polygon.foreach { r =>
      var j = 0
      while (j + 3 < r.length) {
        polySegs += ((r(j), r(j + 1), r(j + 2), r(j + 3)))
        j += 2
      }
    }
    val nLine = lineSegs.length
    val all = (lineSegs ++ polySegs).toArray
    val pieces = Overlay.splitAtIntersections(all, 0.0)
    // keep pieces that derive from line segments: they appear in order; simpler
    // robust filter: a piece belongs to the line if its midpoint lies on one
    // of the original line segments (collinear within bbox)
    def onLine(mx: Double, my: Double): Boolean = {
      var k = 0
      while (k < nLine) {
        val (ax, ay, bx, by) = lineSegs(k)
        if (mx >= math.min(ax, bx) - 1e-12 && mx <= math.max(ax, bx) + 1e-12 &&
            my >= math.min(ay, by) - 1e-12 && my <= math.max(ay, by) + 1e-12 &&
            math.abs((bx - ax) * (my - ay) - (by - ay) * (mx - ax)) < 1e-9)
          return true
        k += 1
      }
      false
    }
    val inPolygon = Overlay.evenOddContainment(polygon)
    pieces.toSeq.flatMap { case (x1, y1, x2, y2) =>
      val mx = (x1 + x2) / 2
      val my = (y1 + y2) / 2
      if (onLine(mx, my)) {
        Some((Array(x1, y1, x2, y2), inPolygon(mx, my)))
      } else None
    }
  }
}
