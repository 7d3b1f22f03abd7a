package graft.geom

import Polyhedral.{clamp, cross, dot, normalizeRadians, radiansToVector}

/**
 * Narukawa's 2022 AuthaGraph approximation — the reference's
 * `narukawa2022` (`/root/reference/src/crs/mapshaper-narukawa2022.mjs`;
 * facet formula from H. Narukawa, "Formulation of AuthaGraph Map
 * Projection", 2022; rectangular facet routing per Justin Kunimune's
 * public Imago arrangement).
 *
 * The sphere splits into 4 tetrahedral facets (nearest-facet by oblique
 * latitude); each facet's 120-degree sectors map through Narukawa's
 * published radial transform; a conditional reflect/fold/wrap layout tiles
 * the 4*sqrt(3) x 3 rectangle. Pure per-row arithmetic — Spark-map safe.
 */
object Narukawa {

  private final val D2R = math.Pi / 180.0
  private final val HalfPi = math.Pi / 2
  private val Sqrt2 = math.sqrt(2)
  private val Sqrt3 = math.sqrt(3)
  private val AsinOneThird = math.asin(1.0 / 3)
  private val EdgeScale = math.acos(-1.0 / 3) / 2
  private val XMin = -2 * Sqrt3
  private val XMax = 2 * Sqrt3
  private val YMin = -1.5
  private val YMax = 1.5
  private val BlockHeight = 2 * Sqrt3
  private val LayoutShift = 1.16
  private val Eps = 1e-12

  /** The published tetrahedron vertices (lat, lon) — extra precision keeps
   * the solid regular to ~1e-9 in vector dot products. */
  private val GeographicVertices = Array(
    Array(76.8810628, 149.4509913),
    Array(-27.9527772, 97.3570035),
    Array(-6.6370473, -18.8522325),
    Array(-22.9282364, -133.2827588))

  /** Imago's vertex-oriented block: (x, y, lat, lon, meridian, rotation). */
  private final case class Facet(id: Int, x: Double, y: Double, lat: Double,
                                 lon: Double, meridian: Double, rotation: Double)

  private val Facets = Array(
    Facet(0, 0, Sqrt3, HalfPi, 0, 0, -HalfPi),
    Facet(1, 0, -Sqrt3, -AsinOneThird, 0, math.Pi, HalfPi),
    Facet(2, 3, 0, -AsinOneThird, 2 * math.Pi / 3, math.Pi, 5 * math.Pi / 6),
    Facet(3, -3, 0, -AsinOneThird, -2 * math.Pi / 3, math.Pi, math.Pi / 6))

  // ------------------------------------------------------------ orientation
  // shared vector algebra lives in [[Polyhedral]]

  /** Basis aligning the published solid with the canonical facet frame. */
  private val (orientX, orientY, orientZ) = {
    def latLonToVector(p: Array[Double]) = radiansToVector(p(1) * D2R, p(0) * D2R)
    val north = latLonToVector(GeographicVertices(0))
    val south = latLonToVector(GeographicVertices(2))
    val proj = dot(south, north)
    val t = Array(south(0) - north(0) * proj, south(1) - north(1) * proj,
      south(2) - north(2) * proj)
    val k = 1.0 / math.sqrt(dot(t, t))
    val x = Array(t(0) * k, t(1) * k, t(2) * k)
    (x, cross(north, x), north)
  }

  private def toCanonical(lam: Double, phi: Double): (Double, Double) = {
    val v = radiansToVector(lam, phi)
    (math.atan2(dot(v, orientY), dot(v, orientX)),
      math.asin(clamp(dot(v, orientZ), -1, 1)))
  }

  private def fromCanonical(lam: Double, phi: Double): (Double, Double) = {
    val v = radiansToVector(lam, phi)
    val px = orientX(0) * v(0) + orientY(0) * v(1) + orientZ(0) * v(2)
    val py = orientX(1) * v(0) + orientY(1) * v(1) + orientZ(1) * v(2)
    val pz = orientX(2) * v(0) + orientY(2) * v(1) + orientZ(2) * v(2)
    (math.atan2(py, px), math.asin(clamp(pz, -1, 1)))
  }

  // --------------------------------------------------- oblique facet frame

  /** (lat1, lon1) relative to a facet pole (Kunimune's obliquify). */
  private def obliquify(lat: Double, lon: Double, pole: Facet): (Double, Double) = {
    val lat0 = pole.lat; val lon0 = pole.lon
    var lat1 = 0.0; var lon1 = 0.0
    if (math.abs(lat0 - HalfPi) < Eps) {
      lat1 = lat
      lon1 = lon - lon0
    } else {
      lat1 = math.asin(clamp(
        math.sin(lat0) * math.sin(lat) +
          math.cos(lat0) * math.cos(lat) * math.cos(lon0 - lon), -1, 1))
      val den = math.cos(lat1)
      val value = if (den < Eps) 1.0
        else (math.cos(lat0) * math.sin(lat) -
          math.sin(lat0) * math.cos(lat) * math.cos(lon0 - lon)) / den
      lon1 = math.acos(clamp(value, -1, 1)) - math.Pi
      if (math.sin(lon - lon0) > 0) lon1 = -lon1
    }
    (lat1, normalizeRadians(lon1 - pole.meridian))
  }

  private def deobliquify(lat: Double, lon0In: Double, pole: Facet): (Double, Double) = {
    val lat0 = pole.lat
    val lon = lon0In + pole.meridian
    val latOut = math.asin(clamp(
      math.sin(lat0) * math.sin(lat) -
        math.cos(lat0) * math.cos(lon) * math.cos(lat), -1, 1))
    val lonOut =
      if (math.abs(lat0 - HalfPi) < Eps) lon + pole.lon
      else {
        val value = math.sin(lat) / math.cos(lat0) / math.cos(latOut) -
          math.tan(lat0) * math.tan(latOut)
        if (math.sin(lon) > 0) pole.lon + math.acos(clamp(value, -1, 1))
        else pole.lon - math.acos(clamp(value, -1, 1))
      }
    (latOut, normalizeRadians(lonOut))
  }

  // ---------------------------------------------------------- facet formula

  /** Narukawa's published radial facet transform: (r, theta). */
  def faceForward(lam: Double, phi: Double): (Double, Double) = {
    val a = lam - math.asin(math.sin(lam) / Sqrt3)
    val theta = math.atan(2 * Sqrt3 / math.Pi * a)
    val den = 2 + Sqrt2 * math.tan(phi)
    val q = if (den > 0) (2 + math.cos(lam)) / den else 0.0
    (q * Sqrt3 / math.cos(theta), theta)
  }

  /** Bisection inverse of the facet transform: (phi, lam). */
  def faceInverse(r: Double, theta: Double): (Double, Double) = {
    val target = math.tan(theta) * math.Pi / (2 * Sqrt3)
    var lo = -math.Pi / 3
    var hi = math.Pi / 3
    var lam = 0.0
    var i = 0
    while (i < 55) {
      lam = (lo + hi) / 2
      val a = lam - math.asin(math.sin(lam) / Sqrt3)
      if (a < target) lo = lam else hi = lam
      i += 1
    }
    lam = (lo + hi) / 2
    val q = r * math.cos(theta) / Sqrt3
    val phi = if (q < Eps) HalfPi
      else math.atan(((2 + math.cos(lam)) / q - 2) / Sqrt2)
    (phi, lam)
  }

  private def findForwardFacet(lam: Double, phi: Double): Facet = {
    var best: Facet = null
    var bestLat = Double.NegativeInfinity
    var i = 0
    while (i < 4) {
      val rel = obliquify(phi, lam, Facets(i))
      if (rel._1 > bestLat) { bestLat = rel._1; best = Facets(i) }
      i += 1
    }
    best
  }

  /** Facet-frame projection + the sector it landed in — ONE implementation
   * shared by forward and regionKey so seam-cut region boundaries coincide
   * exactly with the forward projection's discontinuities. */
  private def projectFacetRawSector(lam: Double, phi: Double, facet: Facet)
      : (Double, Double, Double) = {
    val (rLat, rLon) = obliquify(phi, lam, facet)
    val sector = math.floor((rLon + math.Pi / 3) / (2 * math.Pi / 3))
    val base = sector * 2 * math.Pi / 3
    val (r, theta) = faceForward(rLon - base, rLat)
    val angle = theta + facet.rotation + base / 2
    (r * math.cos(angle) + facet.x, r * math.sin(angle) + facet.y, sector)
  }

  private def projectFacetRaw(lam: Double, phi: Double, facet: Facet): (Double, Double) = {
    val p = projectFacetRawSector(lam, phi, facet)
    (p._1, p._2)
  }

  /** Reflect out-of-block overshoot, fold to the lower half, x-wrap, clamp —
   * the reference's conditional layout. Also reports the layout flags
   * (oob, folded, wrap) for region encoding. */
  private def applyLayoutState(x0: Double, y0: Double, facet: Facet)
      : (Double, Double, Int, Int, Int) = {
    var x = x0; var y = y0
    var oob = 0; var folded = 0; var wrap = 0
    if (math.abs(x) > 3 + Eps) {
      x = 2 * facet.x - x
      y = -y
      oob = 1
    } else if (math.abs(y) > Sqrt3 + Eps) {
      x = -x
      y = BlockHeight * math.signum(y) - y
      oob = 2
    }
    var qx = y
    var qy = -x
    if (qy > Eps) {
      qx = BlockHeight - qx
      qy = -qy
      folded = 1
    }
    qx += LayoutShift
    if (qx < 0) { qx += 2 * BlockHeight; wrap = 1 }
    (clamp(qx - BlockHeight, XMin, XMax), clamp(qy + 1.5, YMin, YMax), oob, folded, wrap)
  }

  private def applyLayout(x0: Double, y0: Double, facet: Facet): (Double, Double) = {
    val s = applyLayoutState(x0, y0, facet)
    (s._1, s._2)
  }

  // ------------------------------------------------------------ public API

  /** Spherical radians → planar (edge-scaled radian units). */
  def forward(lam: Double, phi: Double): (Double, Double) = {
    val (cl, cp) = toCanonical(lam, phi)
    val facet = findForwardFacet(cl, cp)
    val (x, y) = projectFacetRaw(cl, cp, facet)
    val (lx, ly) = applyLayout(x, y, facet)
    (lx * EdgeScale, ly * EdgeScale)
  }

  /** Region id of the continuous layout piece containing a direction — the
   * reference's encodeRegion((facet*3+sector)*3+oob)*2+folded)*2+wrap; the
   * planar map is continuous within a region and jumps across them. */
  def regionKey(lam: Double, phi: Double): Int = {
    val (cl, cp) = toCanonical(lam, phi)
    val facet = findForwardFacet(cl, cp)
    val (x, y, sector) = projectFacetRawSector(cl, cp, facet)
    val s = applyLayoutState(x, y, facet)
    val sectorMod = (((sector.toInt % 3) + 3) % 3)
    ((((facet.id * 3 + sectorMod) * 3 + s._3) * 2 + s._4) * 2 + s._5)
  }

  /** Inverse via the layout unfolding + nearest-facet + bisection (the
   * reference keeps this internal for seam tracing; exposed for specs). */
  def inverse(x0: Double, y0: Double): (Double, Double) = {
    val x1 = x0 / EdgeScale; val y1 = y0 / EdgeScale
    val qx = x1 + BlockHeight
    var qy = y1 - 1.5
    var normalizedX = (qx - LayoutShift) / BlockHeight
    if (normalizedX > 1.5) normalizedX -= 2
    if (normalizedX > 0.5) {
      normalizedX = 1 - normalizedX
      qy = -qy
    }
    val x = -qy
    val y = normalizedX * BlockHeight
    var facet: Facet = null
    var minD = Double.PositiveInfinity
    Facets.foreach { f =>
      val d = math.hypot(x - f.x, y - f.y)
      if (d < minD) { minD = d; facet = f }
    }
    val dx = x - facet.x
    val dy = y - facet.y
    val r = math.hypot(dx, dy)
    val theta = normalizeRadians(math.atan2(dy, dx) - facet.rotation)
    val base = math.floor((theta + math.Pi / 6) / (math.Pi / 3)) * math.Pi / 3
    val (phi, lam) = faceInverse(r, theta - base)
    val (latOut, lonOut) = deobliquify(phi, lam + base * 2, facet)
    fromCanonical(lonOut, latOut)
  }
}
