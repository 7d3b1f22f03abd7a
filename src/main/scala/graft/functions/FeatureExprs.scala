package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The `-each` feature-proxy getter surface and injected expression helpers
 * (SURVEY §2.8; reference `src/expressions/mapshaper-feature-proxy.mjs:17-260`
 * and `mapshaper-expression-utils.mjs:7-16`), re-expressed as Spark Column
 * functions over flat closed-ring arrays `[x0,y0,x1,y1,…]`.
 *
 * All geometry getters are higher-order Column functions (aggregate /
 * transform over the ring array — Catalyst-evaluated, no Scala UDF
 * serialization, and sequential folds that bit-match a left-to-right Scala
 * loop, which keeps them DuckDB-mirrorable). The string helpers
 * (format_dms / parse_dms / blend) and int_median are JVM kernels with
 * exact integer arithmetic; format_dms and parse_dms are exposed as UDFs
 * for per-row use.
 */
object FeatureExprs {

  private def nPoints(ring: Column): Column = (size(ring) / 2).cast("int")

  private def xAt(ring: Column, i: Column): Column = element_at(ring, (i * 2 + 1).cast("int"))
  private def yAt(ring: Column, i: Column): Column = element_at(ring, (i * 2 + 2).cast("int"))

  /** Signed shoelace area of a closed flat ring (feature-proxy `area` /
    * `planarArea`). Sequential fold — mirrorable. Degenerate rings
    * (< 2 points — sequence(0, n-2) would run descending and index 0) → 0. */
  def ringSignedArea(ring: Column): Column =
    when(size(ring) < 4, lit(0.0)).otherwise(
      aggregate(sequence(lit(0), nPoints(ring) - 2), lit(0.0),
        (acc, i) => acc + (xAt(ring, i) * yAt(ring, i + 1) - xAt(ring, i + 1) * yAt(ring, i))) / 2.0)

  /** Perimeter of a closed flat ring (feature-proxy `perimeter`/`length`);
    * 0 for degenerate rings. */
  def ringPerimeter(ring: Column): Column =
    when(size(ring) < 4, lit(0.0)).otherwise(
      aggregate(sequence(lit(0), nPoints(ring) - 2), lit(0.0),
        (acc, i) => {
          val dx = xAt(ring, i + 1) - xAt(ring, i)
          val dy = yAt(ring, i + 1) - yAt(ring, i)
          acc + sqrt(dx * dx + dy * dy)
        }))

  /** Polsby–Popper compactness |A|·4π/P² (feature-proxy `compactness`,
    * reference mapshaper-polygon-geom.mjs:10-13; 0 for degenerate rings). */
  def compactness(ring: Column): Column = {
    val p = ringPerimeter(ring)
    when(p <= 0.0, 0.0).otherwise(abs(ringSignedArea(ring)) * math.Pi * 4.0 / (p * p))
  }

  private def coords(ring: Column, odd: Int): Column =
    transform(sequence(lit(0), nPoints(ring) - 1),
      i => element_at(ring, (i * 2 + 1 + odd).cast("int")))

  /** Feature-proxy `width` (bbox x-extent); NULL for an empty ring. */
  def bboxWidth(ring: Column): Column =
    when(size(ring) < 2, lit(null).cast("double")).otherwise(
      array_max(coords(ring, 0)) - array_min(coords(ring, 0)))

  /** Feature-proxy `height` (bbox y-extent); NULL for an empty ring. */
  def bboxHeight(ring: Column): Column =
    when(size(ring) < 2, lit(null).cast("double")).otherwise(
      array_max(coords(ring, 1)) - array_min(coords(ring, 1)))

  /** Feature-proxy `bboxContainsPoint`; false for an empty ring. */
  def bboxContainsPoint(ring: Column, px: Column, py: Column): Column =
    when(size(ring) < 2, lit(false)).otherwise(
      px >= array_min(coords(ring, 0)) && px <= array_max(coords(ring, 0)) &&
        py >= array_min(coords(ring, 1)) && py <= array_max(coords(ring, 1)))

  /** The reference's `round(v, digits)` helper (roundToDigits2,
    * mapshaper-rounding.mjs:18-24): JS Math.round = floor(v·k + 0.5). */
  def roundTo(v: Column, digits: Int): Column = {
    val k = math.pow(10.0, digits)
    floor(v * k + 0.5) / k
  }

  // ----------------------------------------------------------- JVM kernels

  /** `format_dms` with the reference's default format `[-]D°M'S.SSS`
    * (mapshaper-dms.mjs:67-105): r = floor(|coord|·3600·1000 + 0.5), then
    * integer splits — exact. */
  def formatDmsDefault(coord: Double): String = {
    val res = 1000L
    var r = math.floor(math.abs(coord) * (3600.0 * res) + 0.5).toLong
    val secMilli = r % (60 * res) // seconds scaled by res
    r /= (60 * res)
    val m = r % 60 // the default format has single-letter D/M codes: no padding
    val d = r / 60
    val sign = if (coord < 0) "-" else ""
    val secStr = "%.3f".formatLocal(java.util.Locale.ROOT, secMilli.toDouble / res)
    s"$sign$d°$m'$secStr"
  }

  /** `parse_dms` default-regex subset: [+-NSEW]D[°]M['’]S["]  → decimal
    * degrees (mapshaper-dms.mjs:5-21); NaN when unparsable. */
  def parseDmsDefault(str: String): Double = {
    val re = """(?i)^([nsew+-]?)([0-9.]+)[d°]? ?([0-9.]*)[m'′]? ?([0-9.]*)["″]? ?([nsew]?)$""".r
    str.trim match {
      case re(prefix, d, m, s, suffix) =>
        val deg = d.toDouble + (if (m.isEmpty) 0.0 else m.toDouble) / 60 +
          (if (s.isEmpty) 0.0 else s.toDouble) / 3600
        if (prefix.matches("(?i)[sw-]") || suffix.matches("(?i)[sw]")) -deg else deg
      case _ => Double.NaN
    }
  }

  /** `blend` over #rrggbb colors with weights (color/blending.mjs:6-31):
    * normalized weighted channel average, JS-rounded, hex-formatted;
    * '#eee' when the weights do not sum positive. */
  def blendHex(colors: Seq[String], weights: Seq[Double]): String = {
    val sum = weights.sum
    if (!(sum > 0)) return "#eee"
    var r = 0.0; var g = 0.0; var b = 0.0
    colors.zip(weights).foreach { case (c, w0) =>
      val w = w0 / sum
      val v = Integer.parseInt(c.stripPrefix("#"), 16)
      r += ((v >> 16) & 0xff) * w
      g += ((v >> 8) & 0xff) * w
      b += (v & 0xff) * w
    }
    def ch(x: Double): String = {
      val v = math.max(0, math.min(255, math.floor(x + 0.5).toInt))
      f"$v%02x"
    }
    s"#${ch(r)}${ch(g)}${ch(b)}"
  }

  /** `int_median(counts, breaks)` piecewise-linear interpolated median
    * (mapshaper-expression-utils.mjs:25-41); null on shape mismatch. */
  def intMedian(counts: Seq[Double], breaks: Seq[Double]): java.lang.Double = {
    if (counts == null || breaks == null || counts.length != breaks.length - 1) return null
    val total = counts.sum
    val medianIdx = math.floor(total / 2).toLong
    var lowerCount = 0.0
    var i = 1
    while (i < breaks.length) {
      val upperCount = lowerCount + counts(i - 1)
      if (medianIdx <= upperCount) {
        val t = (medianIdx - lowerCount) / (upperCount - lowerCount)
        return breaks(i - 1) + t * (breaks(i) - breaks(i - 1))
      }
      lowerCount = upperCount
      i += 1
    }
    null
  }

  val formatDmsUdf = udf((c: Double) => formatDmsDefault(c))
  val parseDmsUdf = udf((s: String) => parseDmsDefault(s))
}
