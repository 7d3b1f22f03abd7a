package graft.geom

/**
 * Polygon-vs-rectangle clipping (Sutherland–Hodgman) — the Spark-friendly
 * equivalent of the reference's axis-aligned fast path for `-clip bbox2=`
 * (`/root/reference/src/clipping/mapshaper-bbox2-clipping.mjs`, 126 LoC):
 * when the clip shape is a rectangle (tile/cell boundary), no mosaic or
 * pathfinding is needed — each ring clips independently in one pass per edge.
 *
 * This is the kernel behind tile-boundary clipping in the tiling pipeline:
 * deterministic, allocation-light, exact for any simple ring (convex clip
 * region). Returns the clipped closed ring, or an empty array if nothing
 * remains.
 */
object RectClip {

  /** Clip a closed flat ring [x0,y0,...,x0,y0] to [xmin,xmax]×[ymin,ymax]. */
  def clipRing(ring: Array[Double], xmin: Double, ymin: Double, xmax: Double, ymax: Double): Array[Double] = {
    var cur = ring
    // 4 half-plane passes: left, right, bottom, top
    cur = clipHalfPlane(cur, keep = (x, _) => x >= xmin, intersect = (x1, y1, x2, y2) => {
      val t = (xmin - x1) / (x2 - x1); (xmin, y1 + t * (y2 - y1))
    })
    cur = clipHalfPlane(cur, keep = (x, _) => x <= xmax, intersect = (x1, y1, x2, y2) => {
      val t = (xmax - x1) / (x2 - x1); (xmax, y1 + t * (y2 - y1))
    })
    cur = clipHalfPlane(cur, keep = (_, y) => y >= ymin, intersect = (x1, y1, x2, y2) => {
      val t = (ymin - y1) / (y2 - y1); (x1 + t * (x2 - x1), ymin)
    })
    cur = clipHalfPlane(cur, keep = (_, y) => y <= ymax, intersect = (x1, y1, x2, y2) => {
      val t = (ymax - y1) / (y2 - y1); (x1 + t * (x2 - x1), ymax)
    })
    cur
  }

  private def clipHalfPlane(
      ring: Array[Double],
      keep: (Double, Double) => Boolean,
      intersect: (Double, Double, Double, Double) => (Double, Double)): Array[Double] = {
    val n = ring.length / 2
    if (n < 3) return Array.emptyDoubleArray
    val out = Array.newBuilder[Double]
    var count = 0
    // iterate open ring (skip duplicate closing point), then close at the end
    val m = if (ring(0) == ring(ring.length - 2) && ring(1) == ring(ring.length - 1)) n - 1 else n
    var i = 0
    while (i < m) {
      val x1 = ring(i * 2); val y1 = ring(i * 2 + 1)
      val j = (i + 1) % m
      val x2 = ring(j * 2); val y2 = ring(j * 2 + 1)
      val in1 = keep(x1, y1)
      val in2 = keep(x2, y2)
      if (in1) { out += x1; out += y1; count += 1 }
      if (in1 != in2) {
        val (ix, iy) = intersect(x1, y1, x2, y2)
        out += ix; out += iy; count += 1
      }
      i += 1
    }
    if (count < 3) Array.emptyDoubleArray
    else {
      val open = out.result()
      // close the ring
      if (open(0) == open(open.length - 2) && open(1) == open(open.length - 1)) open
      else open ++ Array(open(0), open(1))
    }
  }

  /** Area of a ring after clipping to a rectangle (0 if empty). */
  def clippedArea(ring: Array[Double], xmin: Double, ymin: Double, xmax: Double, ymax: Double): Double =
    Geom.ringArea(clipRing(ring, xmin, ymin, xmax, ymax))
}
