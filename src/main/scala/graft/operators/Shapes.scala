package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * `-shape` / `-add-shape` / `-frame` — geometry constructors and the map
 * frame (reference: `src/commands/mapshaper-shape.mjs:10-101`,
 * `mapshaper-add-shape.mjs:11-137`, `mapshaper-frame.mjs:21-192`).
 *
 * These are driver-side constructors of tiny geometries (a frame is one
 * polygon; a shape is one feature); the distributed surface is the merge
 * into an existing layer (`Graft.addShape` unions a one-row DataFrame —
 * Catalyst folds the literal relation, nothing shuffles).
 */
object Shapes {

  /** `-shape type=rectangle bbox=`: rectangle ring densified at `interval`
   * per side, counter-clockwise from (xmin,ymin), closed
   * (`mapshaper-shape.mjs:30-59`; reference interval = 0.5). */
  def rectangle(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                interval: Double = 0.5): Array[Double] = {
    val out = Array.newBuilder[Double]
    def side(x1: Double, y1: Double, x2: Double, y2: Double): Unit = {
      val dx = x2 - x1; val dy = y2 - y1
      val n = math.ceil(math.max(math.abs(dx) / interval, math.abs(dy) / interval)).toInt
      val xi = dx / n; val yi = dy / n
      var i = 0
      while (i < n) { out += x1 + i * xi; out += y1 + i * yi; i += 1 }
    }
    side(xmin, ymin, xmin, ymax)
    side(xmin, ymax, xmax, ymax)
    side(xmax, ymax, xmax, ymin)
    side(xmax, ymin, xmin, ymin)
    out += xmin; out += ymin
    out.result()
  }

  /** `-shape type=circle`: n-vertex circle, vertices at bearing i/n*360° from
   * the center via the planar segment endpoint (x+sin θ·r, y+cos θ·r) —
   * `mapshaper-shape.mjs:61-67`, `mapshaper-geodesic.mjs:45-50`; the
   * reference defaults to 360 vertices for `-shape`, 72 for point buffers. */
  def circle(cx: Double, cy: Double, radius: Double, vertices: Int = 360): Array[Double] = {
    val out = new Array[Double]((vertices + 1) * 2)
    var i = 0
    while (i < vertices) {
      val rad = (i.toDouble / vertices * 360.0) / 180.0 * math.Pi
      out(i * 2) = cx + math.sin(rad) * radius
      out(i * 2 + 1) = cy + math.cos(rad) * radius
      i += 1
    }
    out(vertices * 2) = out(0); out(vertices * 2 + 1) = out(1)
    out
  }

  /** `-shape coordinates= offsets=`: polyline/polygon from a coordinate list
   * plus cumulative offsets; auto-closes to a polygon when the path rings or
   * `closed` is set (`mapshaper-shape.mjs:69-101`). Returns (flat, isPolygon). */
  def fromCoords(coords: Array[Double], offsets: Array[Double] = Array.empty,
                 closed: Boolean = false): (Array[Double], Boolean) = {
    require(coords.length >= 2 && coords.length % 2 == 0, "invalid coordinates")
    val pts = Array.newBuilder[Double]
    pts ++= coords
    var x = coords(coords.length - 2); var y = coords(coords.length - 1)
    var i = 0
    while (i + 1 < offsets.length) {
      x += offsets(i); y += offsets(i + 1)
      pts += x; pts += y
      i += 2
    }
    val flat = pts.result()
    val n = flat.length / 2
    val isRing = n > 3 && flat(0) == flat(flat.length - 2) && flat(1) == flat(flat.length - 1)
    if (isRing) (flat, true)
    else if (closed && n >= 3) (flat ++ Array(flat(0), flat(1)), true)
    else (flat, false)
  }

  /** `-add-shape coordinates=` type inference: a bare x,y pair is a Point, a
   * closed path a Polygon, anything else a LineString
   * (`mapshaper-add-shape.mjs:104-137`). */
  def inferGeometry(coords: Array[Double]): String = {
    if (coords.length == 2) "Point"
    else {
      val n = coords.length / 2
      val closed = n > 3 && coords(0) == coords(coords.length - 2) &&
        coords(1) == coords(coords.length - 1)
      if (closed) "Polygon" else "LineString"
    }
  }

  /** Result of [[frame]]: the frame bbox plus its pixel dimensions. */
  final case class Frame(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                         widthPx: Double, heightPx: Double)

  /**
   * `-frame` — compute the map frame from a layer's bounds
   * (`mapshaper-frame.mjs:21-192`): percentage offsets are fractions of the
   * POST-offset frame (`applyPercentageOffsets`), pixel offsets convert at
   * the frame scale (`applyPixelOffsets`), and when both pixel dimensions
   * are given the bbox fills out (expand-only) to match their aspect ratio
   * (`fillOutBbox`). Missing width/height derive from the bbox aspect,
   * rounded to 1 digit (`roundToDigits`).
   *
   * The layer bounds are a single 4-value aggregate — the only Spark job.
   */
  def frame(layer: DataFrame, xCol: String, yCol: String,
            widthPx: Double = 0.0, heightPx: Double = 0.0,
            pctOffsets: (Double, Double, Double, Double) = (0, 0, 0, 0),
            pxOffsets: (Double, Double, Double, Double) = (0, 0, 0, 0)): Frame = {
    val r = layer.agg(min(col(xCol)), min(col(yCol)), max(col(xCol)), max(col(yCol))).head()
    frameOfBbox(r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      widthPx, heightPx, pctOffsets, pxOffsets)
  }

  def frameOfBbox(bx0: Double, by0: Double, bx1: Double, by1: Double,
                  widthPx0: Double, heightPx0: Double,
                  pct: (Double, Double, Double, Double),
                  px: (Double, Double, Double, Double)): Frame = {
    var widthPx = if (widthPx0 <= 0 && heightPx0 <= 0) 800.0 else widthPx0
    var heightPx = heightPx0
    var (xmin, ymin, xmax, ymax) = (bx0, by0, bx1, by1)

    // percentage offsets: fractions of the post-offset frame
    val w2 = (xmax - xmin) / (1 - pct._1 - pct._3)
    val h2 = (ymax - ymin) / (1 - pct._4 - pct._2)
    xmin -= pct._1 * w2; ymin -= pct._2 * h2
    xmax += pct._3 * w2; ymax += pct._4 * h2

    // pixel offsets (fill out to the pixel aspect first if both dims given)
    if (widthPx > 0 && heightPx > 0) {
      val w = xmax - xmin; val h = ymax - ymin
      var hpad = 0.0; var vpad = 0.0
      if (widthPx / heightPx > w / h) hpad = h * widthPx / heightPx - w
      else vpad = w * heightPx / widthPx - h
      xmin -= hpad / 2; xmax += hpad / 2
      ymin -= vpad / 2; ymax += vpad / 2
    }
    val scale =
      if (widthPx > 0) (xmax - xmin) / (widthPx - px._1 - px._3)
      else (xmax - xmin) / (heightPx - px._4 - px._2)
    xmin -= scale * px._1; ymin -= scale * px._2
    xmax += scale * px._3; ymax += scale * px._4

    val aspect = (xmax - xmin) / (ymax - ymin)
    def round1(v: Double): Double = math.round(v * 10.0) / 10.0
    if (widthPx <= 0) widthPx = round1(heightPx * aspect)
    else if (heightPx <= 0) heightPx = round1(widthPx / aspect)
    Frame(xmin, ymin, xmax, ymax, widthPx, heightPx)
  }
}
