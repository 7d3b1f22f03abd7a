package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Map furniture: `-scalebar`, `-symbols`, `-svg-style` (reference:
 * `src/commands/mapshaper-scalebar.mjs`, `mapshaper-symbols.mjs`,
 * `mapshaper-svg-style.mjs`).
 *
 * Scalebar and symbol geometry are deterministic scalar constructions; the
 * distributed surface is `-symbols` (per-point polygon generation — pure
 * per-row expressions) and `-svg-style` (conditional column assignment).
 */
object Scalebar {

  /** Parse the numeric part of a scalebar label: fractions ("1/8"), comma
   * thousands ("1,000") — `mapshaper-scalebar.mjs:parseScalebarNumber`. */
  def parseNumber(str: String): Double = {
    val s = str.replaceAll("\\s", "").replace(",", "")
    val frac = "^([0-9]+) ?/ ?([0-9]+)".r
    val v = frac.findFirstMatchIn(s) match {
      case Some(m) => m.group(1).toDouble / m.group(2).toDouble
      case None =>
        val num = s.takeWhile(c => c.isDigit || c == '.' || c == '-')
        if (num.isEmpty) Double.NaN else num.toDouble
    }
    if (v > 0 && !v.isInfinite) v else Double.NaN
  }

  /** Units suffix — the reference's exact regexes
   * (`mapshaper-scalebar.mjs:parseScalebarUnits`): miles also match "mi",
   * "mi." and 英里; km also match "k.m.", "kilometers", "kilomètres"
   * (dot-matched accent) and 公里. */
  def parseUnits(str: String): String = {
    val lower = str.toLowerCase
    val isMiles = "(miles?|mi[.]?|英里)$".r.findFirstIn(lower).isDefined
    val isKm = "(k\\.m\\.|km|kilometers?|kilom.tres?|公里)$".r.findFirstIn(lower).isDefined
    if (isMiles) "mile" else if (isKm) "km" else ""
  }

  /** Label → kilometers (miles × 1.60934); NaN when unparseable. */
  def labelToKm(label: String): Double = {
    val units = parseUnits(label)
    val v = parseNumber(label)
    if (units.isEmpty || v.isNaN) Double.NaN
    else if (units == "mile") v * 1.60934 else v
  }

  /** The reference's auto-label ladder (`getAutoScalebarLabel`): candidate
   * distances tried smallest-first until one exceeds 70 px on the map. */
  val autoOptions: Seq[String] =
    ("1/8 1/5 1/4 1/2 1 2 3 4 5 8 10 15 20 25 30 40 50 75 " +
      "100 150 200 250 300 350 400 500 750 1,000 1,500 2,000 " +
      "2,500 3,000 4,000 5,000").split(' ').toSeq

  def formatDistanceLabel(numStr: String, unit: String): String = {
    val num = parseNumber(numStr)
    val unitStr = if (unit == "km") "KM" else if (num > 1) "MILES" else "MILE"
    s"$numStr $unitStr"
  }

  /** First ladder option longer than 70 px (`mapshaper-scalebar.mjs:
   * getAutoScalebarLabel`; minWidth 70). */
  def autoLabel(mapWidthPx: Double, metersPerPx: Double, unit: String = "mile"): String = {
    val minKm = metersPerPx * 70.0 / 1000.0
    autoOptions.iterator
      .map(formatDistanceLabel(_, unit))
      .find(l => labelToKm(l) > minKm)
      .getOrElse("")
  }

  final case class Bar(label: String, lengthPx: Long, dx: Double, dy: Double,
                       coords: Seq[Seq[(Double, Double)]])

  /**
   * Render a scalebar for a frame (style 'a' = plain bar, 'b' = ticked;
   * `renderScalebar` + `getStyleBCoords` + position/margin offsets).
   * `metersPerPx` comes from the frame (frame CRS width / pixel width).
   */
  def render(frameWidthPx: Double, frameHeightPx: Double, metersPerPx: Double,
             label: String = null, style: String = "a",
             position: String = "top-left", margin: Double = 12,
             barWidth: Double = Double.NaN, ticLength: Double = Double.NaN,
             labelOffset: Double = 4, fontSize: Double = 12,
             labelPosition: String = "top"): Bar = {
    val bw = if (barWidth.isNaN) { if (style == "b") 1.0 else 3.0 } else barWidth
    val tic = if (ticLength.isNaN) { if (style == "b") 5.0 else 0.0 } else ticLength
    val lbl = Option(label).getOrElse(autoLabel(frameWidthPx, metersPerPx))
    val km = labelToKm(lbl)
    require(km > 0, s"unusable scalebar label: $lbl")
    val len = math.round(km / metersPerPx * 1000.0)
    require(len > 0, "null scalebar length")

    val xpos = if (position.contains("left")) "left" else "right"
    val ypos = if (position.contains("top")) "top" else "bottom"
    val dx = if (xpos == "right") frameWidthPx - len - margin else margin
    val labelHeight = math.round(labelOffset + tic + fontSize * 0.8 + bw / 2.0).toDouble
    val bareHeight = math.round(bw / 2.0).toDouble
    val topH = if (labelPosition == "top") labelHeight else bareHeight
    val botH = if (labelPosition == "bottom") labelHeight else bareHeight
    val dy = if (ypos == "top") margin + topH else frameHeightPx - margin - botH

    val coords: Seq[Seq[(Double, Double)]] =
      if (style == "b") {
        val y0 = tic + bw / 2.0
        val y = if (labelPosition == "top") -y0 else y0
        Seq(Seq((0.0, y), (0.0, 0.0), (len.toDouble, 0.0), (len.toDouble, y)))
      } else Seq(Seq((0.0, 0.0), (len.toDouble, 0.0)))
    Bar(lbl, len, dx, dy, coords)
  }
}

/**
 * `-symbols` geometry generators (reference:
 * `src/symbols/mapshaper-basic-symbols.mjs`, `mapshaper-star-symbols.mjs`,
 * `mapshaper-arrow-symbols.mjs`): regular n-gons (circle = 72 sides),
 * stars with the tangent minor-radius rule, straight filled arrows.
 * Vertices use the planar segment endpoint (x + sinθ·r, y + cosθ·r).
 */
object Symbols {

  val sidesByType: Map[String, Int] = Map(
    "circle" -> 72, "triangle" -> 3, "square" -> 4, "pentagon" -> 5,
    "hexagon" -> 6, "heptagon" -> 7, "octagon" -> 8, "nonagon" -> 9,
    "decagon" -> 10)

  /** Regular polygon about (0,0); odd side counts start at bearing 0, even
   * at half a step (`mapshaper-basic-symbols.mjs:getPolygonCoords`). */
  def polygonCoords(tpe: String, radius: Double, sides0: Int = 0,
                    flipped: Boolean = false): Array[Double] = {
    val sides = if (sides0 > 0) sides0 else sidesByType.getOrElse(tpe, 4)
    require(sides >= 3, s"invalid number of sides ($sides)")
    var rotated = sides % 2 == 1
    if (flipped) rotated = !rotated
    val b = if (rotated) 0.0 else 0.5
    val out = new Array[Double]((sides + 1) * 2)
    var i = 0
    while (i < sides) {
      val rad = ((i + b) / sides * 360.0) / 180.0 * math.Pi
      out(i * 2) = math.sin(rad) * radius
      out(i * 2 + 1) = math.cos(rad) * radius
      i += 1
    }
    out(sides * 2) = out(0); out(sides * 2 + 1) = out(1)
    out
  }

  /** Star minor-radius factor (`mapshaper-star-symbols.mjs:getMinorRadius`). */
  def minorRadius(points: Int): Double = {
    val innerAngle = 360.0 / points
    val maxSkip = math.ceil(points / 2.0).toInt - 2
    val skip = (maxSkip + 1) / 2
    val pointAngle = 180.0 - innerAngle * (skip + 1)
    val thetaA = math.Pi / 180.0 * innerAngle / 2.0
    val thetaB = math.Pi / 180.0 * pointAngle / 2.0
    val a = math.tan(thetaB) / (math.tan(thetaB) + math.tan(thetaA))
    a / math.cos(thetaA)
  }

  /** Star about (0,0) (`mapshaper-star-symbols.mjs:getStarCoords`). */
  def starCoords(points: Int, radius: Double, flipped: Boolean = false): Array[Double] = {
    require(points >= 5, s"invalid number of points for a star ($points)")
    val sides = points * 2
    val minor = minorRadius(points) * radius
    val b = if (flipped) 0.0 else 1.0
    val out = new Array[Double]((sides + 1) * 2)
    var i = 0
    while (i < sides) {
      val len = if (i % 2 == 0) minor else radius
      val rad = ((i + b) / sides * 360.0) / 180.0 * math.Pi
      out(i * 2) = math.sin(rad) * len
      out(i * 2 + 1) = math.cos(rad) * len
      i += 1
    }
    out(sides * 2) = out(0); out(sides * 2 + 1) = out(1)
    out
  }

  /** `-symbols type=ring`: concentric discs/annuli from a radii list
   * (`mapshaper-ring-symbols.mjs:getRingCoords`): an odd count starts with a
   * solid center disc, then (inner, outer) pairs become rings with holes.
   * Returns polygons as (outer ring, optional hole ring with reversed
   * winding) in our flat model. */
  def ringCoords(radii: Seq[Double]): Seq[Seq[Array[Double]]] = {
    val solidCenter = radii.length % 2 == 1
    val out = Seq.newBuilder[Seq[Array[Double]]]
    var i = 0
    while (i < radii.length) {
      var ring = polygonCoords("circle", radii(i))
      if (!solidCenter || i > 0) {
        val hole = ring
        i += 1
        ring = polygonCoords("circle", radii(i))
        out += Seq(ring, graft.geom.Geom.reverseRing(hole))
      } else {
        out += Seq(ring)
      }
      i += 1
    }
    out.result()
  }

  /** Head length / head width ratio from the head angle
   * (`mapshaper-arrow-symbols.mjs:getHeadSizeRatio`; default angle 40°). */
  def headSizeRatio(headAngleDeg: Double): Double =
    1.0 / math.tan(math.Pi * headAngleDeg / 180.0 / 2.0) / 2.0

  /** Arrow sizing defaults (`initArrowSize`): stem width 2; a missing head
   * width defaults to 3× the stem width (or derives from head length via the
   * angle ratio); a missing head length derives from the width. Returns
   * (stemWidth, headWidth, headLen). */
  def arrowSize(stemWidth: Double = 2.0, headWidth: Double = Double.NaN,
                headLen: Double = Double.NaN, headAngleDeg: Double = 40.0): (Double, Double, Double) = {
    val ratio = headSizeRatio(headAngleDeg)
    var hw = headWidth; var hl = headLen
    if (hw == 0) hl = 0
    else if (!(hw > 0)) {
      if (hl > 0) hw = hl / ratio
      else if (hl == 0) hw = 0
      else hw = stemWidth * 3
    }
    if (!(hl >= 0)) hl = hw * ratio
    require(!(hw < stemWidth && hw > 0), "Arrow head must be at least as wide as the stem.")
    (stemWidth, hw, hl)
  }

  /** Stick arrow (`getStickArrowCoords`, straight stem): MultiLineString of
   * the stem plus a two-stroke head, rotated clockwise by `direction`. */
  def stickArrowCoords(stemLen: Double, headLen: Double, headWidth: Double,
                       direction: Double = 0.0): Seq[Array[Double]] = {
    val headDx = headWidth / 2.0
    val parts = scala.collection.mutable.ArrayBuffer(
      Array(0.0, 0.0, 0.0, stemLen))
    if (headLen > 0)
      parts += Array(-headDx, stemLen - headLen, 0.0, stemLen, headDx, stemLen - headLen)
    val rad = -direction / 180.0 * math.Pi
    val c = math.cos(rad); val s = math.sin(rad)
    parts.map { flat =>
      val out = new Array[Double](flat.length)
      var i = 0
      while (i + 1 < flat.length) {
        out(i) = flat(i) * c - flat(i + 1) * s
        out(i + 1) = flat(i) * s + flat(i + 1) * c
        i += 2
      }
      out
    }.toSeq
  }

  /** Straight filled arrow pointing at `direction` degrees
   * (`mapshaper-arrow-symbols.mjs:getArrowCoords`, straight-stem branch):
   * a 7-vertex polygon from stem + head dimensions, rotated. */
  def arrowCoords(stemLen: Double, stemWidth: Double, headLen: Double,
                  headWidth: Double, direction: Double = 0.0): Array[Double] = {
    val stemDx = stemWidth / 2.0
    val headDx = headWidth / 2.0
    val totalLen = stemLen + headLen
    val pts = Array(
      (stemDx, 0.0), (stemDx, stemLen), (headDx, stemLen),
      (0.0, totalLen),
      (-headDx, stemLen), (-stemDx, stemLen), (-stemDx, 0.0), (stemDx, 0.0))
    val rad = -direction / 180.0 * math.Pi // clockwise-positive rotation
    val c = math.cos(rad); val s = math.sin(rad)
    val out = new Array[Double](pts.length * 2)
    var i = 0
    while (i < pts.length) {
      out(i * 2) = pts(i)._1 * c - pts(i)._2 * s
      out(i * 2 + 1) = pts(i)._1 * s + pts(i)._2 * c
      i += 1
    }
    out
  }

  /**
   * `-symbols geographic` over a point layer: one symbol polygon per point,
   * scaled by meters-per-pixel and shifted to the point — per-row built-in
   * array arithmetic over a broadcast template, no shuffle
   * (`mapshaper-symbols.mjs:42-96`, scaleAndShiftCoords).
   */
  def geographic(points: DataFrame, xCol: String, yCol: String,
                 template: Array[Double], metersPerPx: Double,
                 radiusCol: Option[String] = None): DataFrame = {
    val tmpl = typedLit(template.toSeq)
    val scale = radiusCol.map(col(_) * metersPerPx).getOrElse(lit(metersPerPx))
    val ring = zip_with(tmpl, sequence(lit(0), lit(template.length - 1)),
      (v, i) => when(i % 2 === 0, v * scale + col(xCol)).otherwise(v * scale + col(yCol)))
    points.withColumn("symbol", ring)
  }
}

/**
 * `-svg-style` — set SVG presentation attributes as data columns, optionally
 * gated by a `where` predicate; rows excluded by the filter keep the column
 * but receive null, matching the reference's `setUndefinedFields`
 * (`mapshaper-svg-style.mjs:14-70`).
 */
object SvgStyle {

  /** The reference's supported style properties (`svg-properties.mjs`). */
  val supportedProperties: Set[String] = Set(
    "class", "dx", "dy", "fill", "fill-pattern", "fill-effect", "fill-opacity",
    "opacity", "r", "stroke", "stroke-width", "stroke-dasharray",
    "stroke-opacity", "stroke-miterlimit", "vector-effect",
    "label-text", "font-size", "font-family", "font-weight", "font-style",
    "letter-spacing", "dominant-baseline", "text-anchor", "line-height",
    "label-pos")

  def apply(df: DataFrame, props: Map[String, Column],
            where: Option[Column] = None): DataFrame = {
    props.foldLeft(df) { case (d, (name, value)) =>
      require(supportedProperties.contains(name), s"unsupported svg property: $name")
      d.withColumn(name, where match {
        case Some(pred) => when(pred, value)
        case None => value
      })
    }
  }
}
