package graft.geom

/**
 * CRS engine: the four projection families that cover most real usage of the
 * reference's `-proj` (`/root/reference/src/commands/mapshaper-proj.mjs`,
 * which delegates to a bundled PROJ port): Albers equal-area conic, Lambert
 * conformal conic, transverse Mercator / UTM, and azimuthal equidistant.
 *
 * Formulas are the standard published ones (Snyder, "Map Projections — A
 * Working Manual", USGS PP 1395: Albers 14-1..14-11, LCC 15-1..15-11, TM
 * 8-9..8-13 with the 3-21 meridian arc, AEQD 25-1..25-15 spherical form;
 * identical to PROJ's +proj=aea/lcc/tmerc/aeqd). Ellipsoid: WGS84 unless a
 * sphere is requested. All forwards are pure double math with a fixed
 * operation order, so results are bit-stable across partitions and can be
 * mirrored in ANSI SQL for the DuckDB oracle.
 */
object Crs {

  final val A = 6378137.0                      // WGS84 semi-major axis
  final val F = 1.0 / 298.257223563            // WGS84 flattening
  final val E2 = F * (2.0 - F)                 // first eccentricity squared
  final val E = math.sqrt(E2)
  final val D2R = math.Pi / 180.0
  final val R2D = 180.0 / math.Pi

  sealed trait Proj extends Serializable {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double)
    def inverse(x: Double, y: Double): (Double, Double)
    /** Allocation shape used by the codegen expression (primitive array). */
    final def forwardArr(lonDeg: Double, latDeg: Double): Array[Double] = {
      val xy = forward(lonDeg, latDeg)
      Array(xy._1, xy._2)
    }
  }

  // -------------------------------------------------- Albers equal-area conic

  /** q auxiliary (Snyder 3-12). */
  @inline def authalicQ(sinPhi: Double): Double =
    (1.0 - E2) * (sinPhi / (1.0 - E2 * sinPhi * sinPhi) -
      (1.0 / (2.0 * E)) * math.log((1.0 - E * sinPhi) / (1.0 + E * sinPhi)))

  /** m auxiliary (Snyder 14-15). */
  @inline def mAux(phi: Double): Double = {
    val s = math.sin(phi)
    math.cos(phi) / math.sqrt(1.0 - E2 * s * s)
  }

  /** Albers equal-area conic on the WGS84 ellipsoid (Snyder ch. 14). */
  final case class Albers(lat1Deg: Double, lat2Deg: Double, lat0Deg: Double, lon0Deg: Double)
      extends Proj {
    private val phi1 = lat1Deg * D2R
    private val phi2 = lat2Deg * D2R
    private val phi0 = lat0Deg * D2R
    private val m1 = mAux(phi1)
    private val m2 = mAux(phi2)
    private val q0 = authalicQ(math.sin(phi0))
    private val q1 = authalicQ(math.sin(phi1))
    private val q2 = authalicQ(math.sin(phi2))
    val n: Double = (m1 * m1 - m2 * m2) / (q2 - q1)
    val c: Double = m1 * m1 + n * q1
    val rho0: Double = A * math.sqrt(c - n * q0) / n

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val q = authalicQ(math.sin(latDeg * D2R))
      val rho = A * math.sqrt(c - n * q) / n
      val theta = n * (lonDeg - lon0Deg) * D2R
      (rho * math.sin(theta), rho0 - rho * math.cos(theta))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + (rho0 - y) * (rho0 - y)) * (if (n < 0) -1 else 1)
      val theta = math.atan2(x * math.signum(n), (rho0 - y) * math.signum(n))
      val q = (c - rho * rho * n * n / (A * A)) / n
      // iterate Snyder 3-16 for phi
      var phi = math.asin(math.max(-1.0, math.min(1.0, q / 2.0)))
      var i = 0
      while (i < 8) {
        val s = math.sin(phi)
        val den = 1.0 - E2 * s * s
        phi = phi + den * den / (2.0 * math.cos(phi)) *
          (q / (1.0 - E2) - s / den + math.log((1.0 - E * s) / (1.0 + E * s)) / (2.0 * E))
        i += 1
      }
      (lon0Deg + theta / n * R2D, phi * R2D)
    }
  }

  // ---------------------------------------------- Lambert conformal conic

  /** t auxiliary (Snyder 15-9). */
  @inline def tAux(phi: Double): Double = {
    val s = math.sin(phi)
    math.tan(math.Pi / 4.0 - phi / 2.0) /
      math.pow((1.0 - E * s) / (1.0 + E * s), E / 2.0)
  }

  /** Lambert conformal conic, 2SP, WGS84 (Snyder ch. 15). */
  final case class Lcc(lat1Deg: Double, lat2Deg: Double, lat0Deg: Double, lon0Deg: Double)
      extends Proj {
    private val phi1 = lat1Deg * D2R
    private val phi2 = lat2Deg * D2R
    private val phi0 = lat0Deg * D2R
    private val m1 = mAux(phi1)
    private val m2 = mAux(phi2)
    private val t0 = tAux(phi0)
    private val t1 = tAux(phi1)
    private val t2 = tAux(phi2)
    val n: Double =
      if (lat1Deg == lat2Deg) math.sin(phi1)
      else (math.log(m1) - math.log(m2)) / (math.log(t1) - math.log(t2))
    val f: Double = m1 / (n * math.pow(t1, n))
    val rho0: Double = A * f * math.pow(t0, n)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val rho = A * f * math.pow(tAux(latDeg * D2R), n)
      val theta = n * (lonDeg - lon0Deg) * D2R
      (rho * math.sin(theta), rho0 - rho * math.cos(theta))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + (rho0 - y) * (rho0 - y)) * (if (n < 0) -1 else 1)
      val theta = math.atan2(x * math.signum(n), (rho0 - y) * math.signum(n))
      val t = math.pow(rho / (A * f), 1.0 / n)
      // Snyder 7-9 iteration
      var phi = math.Pi / 2.0 - 2.0 * math.atan(t)
      var i = 0
      while (i < 8) {
        val s = E * math.sin(phi)
        phi = math.Pi / 2.0 - 2.0 * math.atan(t * math.pow((1.0 - s) / (1.0 + s), E / 2.0))
        i += 1
      }
      (lon0Deg + theta / n * R2D, phi * R2D)
    }
  }

  // ------------------------------------------------- transverse Mercator / UTM

  final val Ep2: Double = E2 / (1.0 - E2) // second eccentricity squared

  // meridian-arc series coefficients (Snyder 3-21), public so the SQL oracle
  // can interpolate the exact same doubles
  final val Mc0: Double = 1.0 - E2 / 4.0 - 3.0 * E2 * E2 / 64.0 - 5.0 * E2 * E2 * E2 / 256.0
  final val Mc2: Double = 3.0 * E2 / 8.0 + 3.0 * E2 * E2 / 32.0 + 45.0 * E2 * E2 * E2 / 1024.0
  final val Mc4: Double = 15.0 * E2 * E2 / 256.0 + 45.0 * E2 * E2 * E2 / 1024.0
  final val Mc6: Double = 35.0 * E2 * E2 * E2 / 3072.0

  /** Meridian arc length from equator (Snyder 3-21). */
  def meridianArc(phi: Double): Double =
    A * (Mc0 * phi - Mc2 * math.sin(2.0 * phi) +
      Mc4 * math.sin(4.0 * phi) - Mc6 * math.sin(6.0 * phi))

  /** Transverse Mercator (Snyder ch. 8 series), k0 scale at central meridian. */
  final case class Tmerc(lat0Deg: Double, lon0Deg: Double, k0: Double = 0.9996,
                         falseE: Double = 0.0, falseN: Double = 0.0) extends Proj {
    private val m0 = meridianArc(lat0Deg * D2R)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val sinP = math.sin(phi); val cosP = math.cos(phi)
      val tanP = sinP / cosP
      val nRad = A / math.sqrt(1.0 - E2 * sinP * sinP)
      val t = tanP * tanP
      val cc = Ep2 * cosP * cosP
      val aa = (lonDeg - lon0Deg) * D2R * cosP
      val m = meridianArc(phi)
      val x = k0 * nRad * (aa + (1.0 - t + cc) * aa * aa * aa / 6.0 +
        (5.0 - 18.0 * t + t * t + 72.0 * cc - 58.0 * Ep2) * math.pow(aa, 5) / 120.0)
      val y = k0 * (m - m0 + nRad * tanP * (aa * aa / 2.0 +
        (5.0 - t + 9.0 * cc + 4.0 * cc * cc) * math.pow(aa, 4) / 24.0 +
        (61.0 - 58.0 * t + t * t + 600.0 * cc - 330.0 * Ep2) * math.pow(aa, 6) / 720.0))
      (x + falseE, y + falseN)
    }

    def inverse(xIn: Double, yIn: Double): (Double, Double) = {
      val x = xIn - falseE
      val y = yIn - falseN
      val m = m0 + y / k0
      val mu = m / (A * (1.0 - E2 / 4.0 - 3.0 * E2 * E2 / 64.0 - 5.0 * E2 * E2 * E2 / 256.0))
      val e1 = (1.0 - math.sqrt(1.0 - E2)) / (1.0 + math.sqrt(1.0 - E2))
      val phi1 = mu + (3.0 * e1 / 2.0 - 27.0 * math.pow(e1, 3) / 32.0) * math.sin(2.0 * mu) +
        (21.0 * e1 * e1 / 16.0 - 55.0 * math.pow(e1, 4) / 32.0) * math.sin(4.0 * mu) +
        (151.0 * math.pow(e1, 3) / 96.0) * math.sin(6.0 * mu) +
        (1097.0 * math.pow(e1, 4) / 512.0) * math.sin(8.0 * mu)
      val sinP = math.sin(phi1); val cosP = math.cos(phi1)
      val tanP = sinP / cosP
      val c1 = Ep2 * cosP * cosP
      val t1 = tanP * tanP
      val n1 = A / math.sqrt(1.0 - E2 * sinP * sinP)
      val r1 = A * (1.0 - E2) / math.pow(1.0 - E2 * sinP * sinP, 1.5)
      val d = x / (n1 * k0)
      val phi = phi1 - (n1 * tanP / r1) * (d * d / 2.0 -
        (5.0 + 3.0 * t1 + 10.0 * c1 - 4.0 * c1 * c1 - 9.0 * Ep2) * math.pow(d, 4) / 24.0 +
        (61.0 + 90.0 * t1 + 298.0 * c1 + 45.0 * t1 * t1 - 252.0 * Ep2 - 3.0 * c1 * c1) *
          math.pow(d, 6) / 720.0)
      val lon = lon0Deg * D2R + (d - (1.0 + 2.0 * t1 + c1) * math.pow(d, 3) / 6.0 +
        (5.0 - 2.0 * c1 + 28.0 * t1 - 3.0 * c1 * c1 + 8.0 * Ep2 + 24.0 * t1 * t1) *
          math.pow(d, 5) / 120.0) / cosP
      (lon * R2D, phi * R2D)
    }
  }

  /** UTM zone (northern or southern hemisphere). */
  def utm(zone: Int, south: Boolean = false): Tmerc =
    Tmerc(0.0, zone * 6.0 - 183.0, 0.9996, 500000.0, if (south) 10000000.0 else 0.0)

  /** UTM zone of a longitude. */
  def utmZone(lonDeg: Double): Int =
    math.min(60, math.max(1, (math.floor((lonDeg + 180.0) / 6.0) + 1).toInt))

  private lazy val utmNorth: Array[Tmerc] = Array.tabulate(61)(z => if (z == 0) null else utm(z))
  private lazy val utmSouth: Array[Tmerc] =
    Array.tabulate(61)(z => if (z == 0) null else utm(z, south = true))

  /** Per-row UTM: zone from the longitude, hemisphere from the latitude —
   * static entry point for the codegen expression (cached projections,
   * zero per-row construction). */
  def utmForward(lonDeg: Double, latDeg: Double): Array[Double] = {
    val z = utmZone(lonDeg)
    (if (latDeg < 0) utmSouth(z) else utmNorth(z)).forwardArr(lonDeg, latDeg)
  }

  // ------------------------------------------------- spherical rotation

  /**
   * Spherical (Euler-angle) rotation — the reference's `-rotate`
   * (`/root/reference/src/crs/mapshaper-spherical-rotation.mjs:26-84`, itself
   * based on d3-geo's rotation.js): lambda shift with wrap, then the
   * phi/gamma rotation. Forward/inverse in degrees, so it plugs into the
   * same codegen [[Proj]] surface as the map projections.
   */
  final case class Rotation(aDeg: Double, bDeg: Double, cDeg: Double) extends Proj {
    private val a = aDeg * D2R
    private val b = bDeg * D2R
    private val c = cDeg * D2R
    private val cosB = math.cos(b); private val sinB = math.sin(b)
    private val cosC = math.cos(c); private val sinC = math.sin(c)

    private def wrap(lam: Double): Double =
      if (lam > math.Pi) lam - 2 * math.Pi
      else if (lam < -math.Pi) lam + 2 * math.Pi
      else lam

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      var lam = lonDeg * D2R
      var phi = latDeg * D2R
      if (a != 0) lam = wrap(lam + a)
      if (b != 0 || c != 0) {
        val cosPhi = math.cos(phi)
        val x = math.cos(lam) * cosPhi
        val y = math.sin(lam) * cosPhi
        val z = math.sin(phi)
        val k = z * cosB + x * sinB
        lam = math.atan2(y * cosC - k * sinC, x * cosB - z * sinB)
        phi = math.asin(k * cosC + y * sinC)
      }
      (lam * R2D, phi * R2D)
    }

    def inverse(xDeg: Double, yDeg: Double): (Double, Double) = {
      var lam = xDeg * D2R
      var phi = yDeg * D2R
      if (b != 0 || c != 0) {
        val cosPhi = math.cos(phi)
        val x = math.cos(lam) * cosPhi
        val y = math.sin(lam) * cosPhi
        val z = math.sin(phi)
        val k = z * cosC - y * sinC
        lam = math.atan2(y * cosC + z * sinC, x * cosB + k * sinB)
        phi = math.asin(k * cosB - x * sinB)
      }
      if (a != 0) lam = wrap(lam - a)
      (lam * R2D, phi * R2D)
    }
  }

  // --------------------------------------------- world projections (sphere)

  /** Plate carrée / +proj=longlat: identity in degrees. */
  case object Longlat extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = (lonDeg, latDeg)
    def inverse(x: Double, y: Double): (Double, Double) = (x, y)
  }

  /** Fuller Airocean / `-proj dymaxion` (`dymaxion2` = gnomonic facets):
   * the icosahedral unfolding in [[Polyhedral]]/[[Dymaxion]]. Engine output
   * is in sphere-radian units (reference convention); scaled here by A to
   * meters like the rest of the catalog. The reference ships forward-only;
   * our inverse is per-face (matrix inverse + analytic/Newton local invert
   * + membership check). */
  final case class DymaxionProj(gnomonicFacets: Boolean = false,
                                lon0Deg: Double = 0.0) extends Proj {
    @transient private lazy val engine =
      if (gnomonicFacets) Dymaxion.gnomonic else Dymaxion.fuller
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) =
      engine.forward(Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R),
          latDeg * D2R) match {
        case Some((x, y)) => (x * A, y * A)
        case None => (Double.PositiveInfinity, Double.PositiveInfinity)
      }
    def inverse(x: Double, y: Double): (Double, Double) =
      engine.inverse(x / A, y / A) match {
        case Some((lam, phi)) =>
          (Polyhedral.normalizeRadians(lam + lon0Deg * D2R) * R2D, phi * R2D)
        case None => (Double.NaN, Double.NaN)
      }
    /** Seam-cut region = icosahedron face id. */
    def regionAt(lonDeg: Double, latDeg: Double): Int =
      engine.faceLocal(Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R),
        latDeg * D2R).map(_._1).getOrElse(-1)
  }

  /** Generic mixed/compound projection (the reference's MixedProjection):
   * ordered frames, first containing lat/lon bbox wins; each frame projects
   * with its own CRS then applies its affine placement. Forward-only, like
   * the reference (`albersusa`'s specialized inverse lives on [[AlbersUsa]]).
   * Frames and their Matrix2D placement live in [[Mixed]]. */
  final case class MixedProj(frames: Seq[Mixed.Frame]) extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      var i = 0
      while (i < frames.length) {
        val f = frames(i)
        if (f.contains(lonDeg, latDeg)) return Mixed.forwardThrough(f, lonDeg, latDeg)
        i += 1
      }
      (Double.PositiveInfinity, Double.PositiveInfinity)
    }
    def inverse(x: Double, y: Double): (Double, Double) = (Double.NaN, Double.NaN)
  }

  /** Narukawa 2022 AuthaGraph approximation (`-proj narukawa2022`): the
   * [[Narukawa]] tetrahedral rectangle. Forward like the reference; the
   * inverse is the reference's internal seam-tracing inverse. */
  final case class NarukawaProj(lon0Deg: Double = 0.0) extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val (x, y) = Narukawa.forward(
        Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R), latDeg * D2R)
      (x * A, y * A)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val (lam, phi) = Narukawa.inverse(x / A, y / A)
      (Polyhedral.normalizeRadians(lam + lon0Deg * D2R) * R2D, phi * R2D)
    }
    /** Seam-cut region = the layout-piece id (facet/sector/oob/fold/wrap). */
    def regionAt(lonDeg: Double, latDeg: Double): Int =
      Narukawa.regionKey(Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R),
        latDeg * D2R)
  }

  /** Lee conformal tetrahedral rectangles (`-proj markley` / `calm`):
   * the [[Lee]] engine's 4-copy rectangular layout over the conformal
   * tetrahedral net. The reference ships these forward-only; our inverse is
   * the copy/wrap candidate scan + per-face damped Newton. */
  final case class LeeProj(variant: String, lon0Deg: Double = 0.0) extends Proj {
    @transient private lazy val engine =
      if (variant == "calm") Lee.calm else Lee.markley
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) =
      engine.forward(Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R),
          latDeg * D2R) match {
        case Some((x, y)) => (x * A, y * A)
        case None => (Double.PositiveInfinity, Double.PositiveInfinity)
      }
    def inverse(x: Double, y: Double): (Double, Double) =
      engine.inverse(x / A, y / A) match {
        case Some((lam, phi)) =>
          (Polyhedral.normalizeRadians(lam + lon0Deg * D2R) * R2D, phi * R2D)
        case None => (Double.NaN, Double.NaN)
      }
    /** Seam-cut region = (base face, layout copy, wrap shift). */
    def regionAt(lonDeg: Double, latDeg: Double): Int =
      engine.regionKey(Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R),
        latDeg * D2R)
  }

  /** Octahedral butterfly family (`-proj butterfly` / `butterfly2` /
   * `cahill_keyes`): CK-facet octants unfolded on the butterfly tree, or
   * the full Cahill-Keyes 12-zone layout. `butterfly` and `butterfly2`
   * share one engine and differ only in the default central meridian
   * (Pacific 157.5 vs Atlantic -20). Forward-only, like the reference. */
  final case class ButterflyProj(method: String, lon0Deg: Double) extends Proj {
    @transient private lazy val engine = method match {
      case "cahill_keyes" => Butterfly.cahillKeyes
      case _ => Butterfly.butterfly
    }
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val lam = Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R)
      engine.forward(lam, latDeg * D2R) match {
        case Some((x, y)) => (x * A, y * A)
        case None => (Double.PositiveInfinity, Double.PositiveInfinity)
      }
    }
    def inverse(x: Double, y: Double): (Double, Double) = (Double.NaN, Double.NaN)
    /** Seam-cut region: the butterfly unfolding is continuous within each
     * truncated-octahedron face; the cahill_keyes master layout is
     * continuous within each OCTANT (mj2g places octants separately). */
    def regionAt(lonDeg: Double, latDeg: Double): Int = {
      val lam = Polyhedral.normalizeRadians((lonDeg - lon0Deg) * D2R)
      if (method == "cahill_keyes") Butterfly.cahillKeyesOctant(lam, latDeg * D2R)
      else engine.faceLocal(lam, latDeg * D2R).map(_._1).getOrElse(-1)
    }
  }

  /** Spherical Mercator (+proj=merc / webmercator tiles use the same math). */
  final case class Mercator(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) =
      ((lonDeg - lon0Deg) * D2R * radius,
        math.log(math.tan(math.Pi / 4.0 + latDeg * D2R / 2.0)) * radius)
    def inverse(x: Double, y: Double): (Double, Double) =
      (lon0Deg + x / radius * R2D,
        (math.atan(math.exp(y / radius)) * 2.0 - math.Pi / 2.0) * R2D)
  }

  /** Orthographic, spherical (Snyder 1987 eq. 20-3/20-4) — hemisphere view;
    * the domain boundary is handled by [[clipSpec]] (clip angle 89.85°, the
    * reference's default, `src/crs/mapshaper-proj-extents.mjs:256`). */
  final case class Orthographic(lat0Deg: Double, lon0Deg: Double, radius: Double = A)
      extends Proj {
    private val phi0 = lat0Deg * D2R
    private val sinP0 = math.sin(phi0)
    private val cosP0 = math.cos(phi0)
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val lam = (lonDeg - lon0Deg) * D2R
      (radius * math.cos(phi) * math.sin(lam),
        radius * (cosP0 * math.sin(phi) - sinP0 * math.cos(phi) * math.cos(lam)))
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + y * y)
      if (rho == 0) return (lon0Deg, lat0Deg)
      val c = math.asin(math.min(1.0, rho / radius))
      val cosC = math.cos(c); val sinC = math.sin(c)
      val phi = math.asin(cosC * sinP0 + y * sinC * cosP0 / rho)
      val lam = math.atan2(x * sinC, rho * cosC * cosP0 - y * sinC * sinP0)
      (lon0Deg + lam * R2D, phi * R2D)
    }
  }

  /** Gnomonic, spherical (Snyder eq. 22-4/22-5); clip angle 60°. */
  final case class Gnomonic(lat0Deg: Double, lon0Deg: Double, radius: Double = A)
      extends Proj {
    private val phi0 = lat0Deg * D2R
    private val sinP0 = math.sin(phi0)
    private val cosP0 = math.cos(phi0)
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val lam = (lonDeg - lon0Deg) * D2R
      val cosC = sinP0 * math.sin(phi) + cosP0 * math.cos(phi) * math.cos(lam)
      (radius * math.cos(phi) * math.sin(lam) / cosC,
        radius * (cosP0 * math.sin(phi) - sinP0 * math.cos(phi) * math.cos(lam)) / cosC)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + y * y)
      if (rho == 0) return (lon0Deg, lat0Deg)
      val c = math.atan2(rho, radius)
      val cosC = math.cos(c); val sinC = math.sin(c)
      val phi = math.asin(cosC * sinP0 + y * sinC * cosP0 / rho)
      val lam = math.atan2(x * sinC, rho * cosC * cosP0 - y * sinC * sinP0)
      (lon0Deg + lam * R2D, phi * R2D)
    }
  }

  /** Lambert azimuthal equal-area, spherical (Snyder eq. 24-2); clip 179°. */
  final case class Laea(lat0Deg: Double, lon0Deg: Double, radius: Double = A)
      extends Proj {
    private val phi0 = lat0Deg * D2R
    private val sinP0 = math.sin(phi0)
    private val cosP0 = math.cos(phi0)
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val lam = (lonDeg - lon0Deg) * D2R
      val k = math.sqrt(2.0 / (1.0 + sinP0 * math.sin(phi) + cosP0 * math.cos(phi) * math.cos(lam)))
      (radius * k * math.cos(phi) * math.sin(lam),
        radius * k * (cosP0 * math.sin(phi) - sinP0 * math.cos(phi) * math.cos(lam)))
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + y * y)
      if (rho == 0) return (lon0Deg, lat0Deg)
      val c = 2.0 * math.asin(math.min(1.0, rho / (2.0 * radius)))
      val cosC = math.cos(c); val sinC = math.sin(c)
      val phi = math.asin(cosC * sinP0 + y * sinC * cosP0 / rho)
      val lam = math.atan2(x * sinC, rho * cosC * cosP0 - y * sinC * sinP0)
      (lon0Deg + lam * R2D, phi * R2D)
    }
  }

  /** Equirectangular / plate carrée (+proj=eqc, lat_ts): x = Rλ'cosφ₁,
    * y = Rφ. */
  final case class Equirectangular(latTsDeg: Double = 0.0, lon0Deg: Double = 0.0,
                                   radius: Double = A) extends Proj {
    private val cosTs = math.cos(latTsDeg * D2R)
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) =
      ((lonDeg - lon0Deg) * D2R * cosTs * radius, latDeg * D2R * radius)
    def inverse(x: Double, y: Double): (Double, Double) =
      (lon0Deg + x / (cosTs * radius) * R2D, y / radius * R2D)
  }

  /** Lambert cylindrical equal-area (+proj=cea, lat_ts): x = Rλ'cosφₜ,
    * y = R sinφ / cosφₜ (Snyder eq. 10-1/10-2). */
  final case class CylindricalEqualArea(latTsDeg: Double = 0.0, lon0Deg: Double = 0.0,
                                        radius: Double = A) extends Proj {
    private val cosTs = math.cos(latTsDeg * D2R)
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) =
      ((lonDeg - lon0Deg) * D2R * cosTs * radius,
        math.sin(latDeg * D2R) / cosTs * radius)
    def inverse(x: Double, y: Double): (Double, Double) =
      (lon0Deg + x / (cosTs * radius) * R2D,
        math.asin(math.max(-1.0, math.min(1.0, y * cosTs / radius))) * R2D)
  }

  /** Natural Earth I — the Šavrič–Jenny–Patterson–Hurni (2011) polynomial
    * pseudocylindrical (the published d3-geo `naturalEarth1Raw`
    * coefficients; public formula). Inverse by the published fixed-point
    * iteration, fixed 25 rounds (deterministic). */
  final case class NaturalEarth(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val lam = (lonDeg - lon0Deg) * D2R
      val phi = latDeg * D2R
      val phi2 = phi * phi
      val phi4 = phi2 * phi2
      (radius * lam * (0.8707 - 0.131979 * phi2 + phi4 *
        (-0.013791 + phi4 * (0.003971 * phi2 - 0.001529 * phi4))),
        radius * phi * (1.007226 + phi2 * (0.015085 + phi4 *
          (-0.044475 + 0.028874 * phi2 - 0.005916 * phi4))))
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val yr = y / radius
      var phi = yr
      var i = 0
      while (i < 25) {
        val phi2 = phi * phi
        val phi4 = phi2 * phi2
        val f = phi * (1.007226 + phi2 * (0.015085 + phi4 *
          (-0.044475 + 0.028874 * phi2 - 0.005916 * phi4))) - yr
        val fp = 1.007226 + phi2 * (0.015085 * 3 + phi4 *
          (-0.044475 * 7 + 0.028874 * 9 * phi2 - 0.005916 * 11 * phi4))
        phi -= f / fp
        i += 1
      }
      val phi2 = phi * phi
      val phi4 = phi2 * phi2
      val lam = x / radius / (0.8707 - 0.131979 * phi2 + phi4 *
        (-0.013791 + phi4 * (0.003971 * phi2 - 0.001529 * phi4)))
      (lon0Deg + lam * R2D, phi * R2D)
    }
  }

  /** Winkel tripel (standard parallel acos(2/π), the common form):
    * the arithmetic mean of equirectangular(φ₁) and Aitoff. Inverse by 2-D
    * Newton with finite differences, fixed 30 rounds (no closed form). */
  final case class WinkelTripel(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    private val cosPhi1 = 2.0 / math.Pi
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val lam = (lonDeg - lon0Deg) * D2R
      val phi = latDeg * D2R
      val alpha = math.acos(math.cos(phi) * math.cos(lam / 2.0))
      val sinca = if (alpha == 0.0) 1.0 else math.sin(alpha) / alpha
      (radius * 0.5 * (lam * cosPhi1 + 2.0 * math.cos(phi) * math.sin(lam / 2.0) / sinca),
        radius * 0.5 * (phi + math.sin(phi) / sinca))
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      var lam = x / (radius * cosPhi1)
      var phi = y / radius
      val d = 1e-7
      var i = 0
      while (i < 30) {
        val (fx, fy) = forwardRad(lam, phi)
        val (fxl, fyl) = forwardRad(lam + d, phi)
        val (fxp, fyp) = forwardRad(lam, phi + d)
        val ex = fx - x; val ey = fy - y
        val a = (fxl - fx) / d; val b = (fxp - fx) / d
        val c = (fyl - fy) / d; val e = (fyp - fy) / d
        val det = a * e - b * c
        if (det != 0.0) {
          lam -= (ex * e - ey * b) / det
          phi -= (ey * a - ex * c) / det
        }
        i += 1
      }
      (lon0Deg + lam * R2D, phi * R2D)
    }
    private def forwardRad(lam: Double, phi: Double): (Double, Double) = {
      val alpha = math.acos(math.cos(phi) * math.cos(lam / 2.0))
      val sinca = if (alpha == 0.0) 1.0 else math.sin(alpha) / alpha
      (radius * 0.5 * (lam * cosPhi1 + 2.0 * math.cos(phi) * math.sin(lam / 2.0) / sinca),
        radius * 0.5 * (phi + math.sin(phi) / sinca))
    }
  }

  // -------------------------------------------- spherical pre-clip domains

  /** Pre-projection clipping requirement of a projection — the reference's
    * proj-extents tables (`src/crs/mapshaper-proj-extents.mjs:207-262`):
    * restricted-range CRSs clamp to a bbox; azimuthal projections clip to a
    * small circle around the projection center; rotated normal-aspect
    * projections cut at the rotated antimeridian. */
  sealed trait ClipSpec
  /** Clamp coordinates into [minLon, minLat, maxLon, maxLat]. */
  final case class ClampBBox(minLon: Double, minLat: Double,
                             maxLon: Double, maxLat: Double) extends ClipSpec
  /** Keep only content within `angleDeg` great-circle degrees of center. */
  final case class ClipCircle(lon0Deg: Double, lat0Deg: Double,
                              angleDeg: Double) extends ClipSpec
  /** Split paths crossing the rotated antimeridian lon0±180 before
    * projecting; `alsoClamp` carries the CRS's coordinate-range clamp when
    * it has one (rotated Mercator both cuts AND clamps — the reference
    * applies getClampBBox independently of the cut). */
  final case class CutAtAntimeridian(cutLonDeg: Double,
                                     alsoClamp: Option[ClampBBox] = None) extends ClipSpec
  case object NoClip extends ClipSpec

  /** Polyhedral seam cut: the projection is continuous within each region
   * (face / layout piece) of `region` and jumps across them — paths must be
   * cut at region boundaries before projecting (the role of the reference's
   * `__projection_topology` seams). */
  final case class CutAtFaceSeams(region: (Double, Double) => Int) extends ClipSpec

  /** Wrap a longitude into (-180, 180]. */
  def wrapLon(lon: Double): Double = {
    var l = lon
    while (l <= -180.0) l += 360.0
    while (l > 180.0) l -= 360.0
    l
  }

  /** The reference's default clip/clamp/cut rule per projection
    * (getClampBBox / getDefaultClipAngle / insertPreProjectionCuts). */
  def clipSpec(proj: Proj): ClipSpec = proj match {
    case Mercator(lon0, _) =>
      if (lon0 != 0.0)
        CutAtAntimeridian(wrapLon(lon0 + 180.0), Some(ClampBBox(-180, -89, 180, 89)))
      else ClampBBox(-180, -89, 180, 89)
    case _: Lcc => ClampBBox(-180, -89, 180, 89)
    case Orthographic(lat0, lon0, _) => ClipCircle(lon0, lat0, 89.85)
    case Gnomonic(lat0, lon0, _) => ClipCircle(lon0, lat0, 60.0)
    case Laea(lat0, lon0, _) => ClipCircle(lon0, lat0, 179.0)
    case Stereographic(lat0, lon0, _) => ClipCircle(lon0, lat0, 142.0)
    case Robinson(lon0, _) if lon0 != 0 => CutAtAntimeridian(wrapLon(lon0 + 180.0))
    case Mollweide(lon0, _) if lon0 != 0 => CutAtAntimeridian(wrapLon(lon0 + 180.0))
    case Sinusoidal(lon0, _) if lon0 != 0 => CutAtAntimeridian(wrapLon(lon0 + 180.0))
    case EqualEarth(lon0, _) if lon0 != 0 => CutAtAntimeridian(wrapLon(lon0 + 180.0))
    case p: DymaxionProj => CutAtFaceSeams(p.regionAt)
    case p: ButterflyProj => CutAtFaceSeams(p.regionAt)
    case p: LeeProj => CutAtFaceSeams(p.regionAt)
    case p: NarukawaProj => CutAtFaceSeams(p.regionAt)
    case _ => NoClip
  }

  /** Sinusoidal (Sanson–Flamsteed), spherical: x = Rλcosφ, y = Rφ. */
  final case class Sinusoidal(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      ((lonDeg - lon0Deg) * D2R * math.cos(phi) * radius, phi * radius)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val phi = y / radius
      (lon0Deg + x / (radius * math.cos(phi)) * R2D, phi * R2D)
    }
  }

  /** Mollweide, spherical (Snyder 31-1..31-8): 2θ + sin2θ = π sinφ solved by
   * a FIXED 10-iteration Newton (bit-stable, SQL-mirrorable). */
  final case class Mollweide(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    private val Sqrt2 = math.sqrt(2.0)

    /** θ such that 2θ + sin 2θ = π sin φ (fixed iteration count). */
    def theta(phi: Double): Double = {
      val target = math.Pi * math.sin(phi)
      var th = phi
      var i = 0
      while (i < 10) {
        val denom = 2.0 + 2.0 * math.cos(2.0 * th)
        if (math.abs(denom) > 1e-14)
          th = th - (2.0 * th + math.sin(2.0 * th) - target) / denom
        i += 1
      }
      th
    }

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val th = theta(latDeg * D2R)
      (2.0 * Sqrt2 / math.Pi * radius * (lonDeg - lon0Deg) * D2R * math.cos(th),
        Sqrt2 * radius * math.sin(th))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val th = math.asin(math.max(-1.0, math.min(1.0, y / (Sqrt2 * radius))))
      val phi = math.asin(math.max(-1.0, math.min(1.0,
        (2.0 * th + math.sin(2.0 * th)) / math.Pi)))
      val lon = lon0Deg + x * math.Pi / (2.0 * Sqrt2 * radius * math.cos(th)) * R2D
      (lon, phi * R2D)
    }
  }

  /** Equal Earth (Šavrič, Patterson & Jenny 2018), spherical: the published
   * polynomial with a fixed 12-iteration Newton inverse. */
  final case class EqualEarth(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    final val A1 = 1.340264
    final val A2 = -0.081106
    final val A3 = 0.000893
    final val A4 = 0.003796
    private val M = math.sqrt(3.0) / 2.0

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val th = math.asin(M * math.sin(phi))
      val t2 = th * th
      val t6 = t2 * t2 * t2
      val x = (lonDeg - lon0Deg) * D2R * math.cos(th) /
        (M * (A1 + 3.0 * A2 * t2 + t6 * (7.0 * A3 + 9.0 * A4 * t2))) * radius
      val y = th * (A1 + A2 * t2 + t6 * (A3 + A4 * t2)) * radius
      (x, y)
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val yr = y / radius
      var th = yr
      var i = 0
      while (i < 12) {
        val t2 = th * th
        val t6 = t2 * t2 * t2
        val f = th * (A1 + A2 * t2 + t6 * (A3 + A4 * t2)) - yr
        val fp = A1 + 3.0 * A2 * t2 + t6 * (7.0 * A3 + 9.0 * A4 * t2)
        th = th - f / fp
        i += 1
      }
      val t2 = th * th
      val t6 = t2 * t2 * t2
      val lon = lon0Deg + x / radius * M *
        (A1 + 3.0 * A2 * t2 + t6 * (7.0 * A3 + 9.0 * A4 * t2)) / math.cos(th) * R2D
      val phi = math.asin(math.max(-1.0, math.min(1.0, math.sin(th) / M))) * R2D
      (lon, phi)
    }
  }

  /** Oblique stereographic, spherical form (Snyder 21-2..21-4, k0 = 1). */
  final case class Stereographic(lat0Deg: Double, lon0Deg: Double, radius: Double = A)
      extends Proj {
    private val phi0 = lat0Deg * D2R
    private val sin0 = math.sin(phi0)
    private val cos0 = math.cos(phi0)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val dl = (lonDeg - lon0Deg) * D2R
      val sinP = math.sin(phi); val cosP = math.cos(phi)
      val cosDl = math.cos(dl)
      val k = 2.0 * radius / (1.0 + sin0 * sinP + cos0 * cosP * cosDl)
      (k * cosP * math.sin(dl), k * (cos0 * sinP - sin0 * cosP * cosDl))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + y * y)
      if (rho == 0.0) return (lon0Deg, lat0Deg)
      val c = 2.0 * math.atan(rho / (2.0 * radius))
      val sinC = math.sin(c); val cosC = math.cos(c)
      val phi = math.asin(cosC * sin0 + y * sinC * cos0 / rho)
      var lon = lon0Deg + math.atan2(x * sinC, rho * cos0 * cosC - y * sin0 * sinC) * R2D
      if (lon > 180.0) lon -= 360.0 else if (lon < -180.0) lon += 360.0
      (lon, phi * R2D)
    }
  }

  /**
   * Robinson, from the published 5°-knot lookup table (Robinson 1974; the
   * same table PROJ's +proj=robin interpolates). Interpolation here is
   * clamped Catmull–Rom, with per-interval cubic coefficients precomputed
   * once — forward evaluation is a single polynomial, so the DuckDB oracle
   * can interpolate the SAME coefficients as literals.
   */
  final case class Robinson(lon0Deg: Double = 0.0, radius: Double = A) extends Proj {
    import Robinson._

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val absLat = math.min(90.0, math.abs(latDeg))
      val idx = math.min(17, (absLat / 5.0).toInt)
      val t = (absLat - idx * 5.0) / 5.0
      val xs = evalCubic(CoefX, idx, t)
      val ys = evalCubic(CoefY, idx, t)
      (0.8487 * radius * xs * (lonDeg - lon0Deg) * D2R,
        1.3523 * radius * ys * (if (latDeg < 0) -1.0 else 1.0))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val yAbs = math.abs(y) / (1.3523 * radius)
      // bisection on the monotone Y spline (fixed 40 steps — deterministic)
      var lo = 0.0; var hi = 90.0
      var i = 0
      while (i < 40) {
        val mid = (lo + hi) / 2.0
        val idx = math.min(17, (mid / 5.0).toInt)
        if (evalCubic(CoefY, idx, (mid - idx * 5.0) / 5.0) < yAbs) lo = mid else hi = mid
        i += 1
      }
      val absLat = (lo + hi) / 2.0
      val idx = math.min(17, (absLat / 5.0).toInt)
      val xs = evalCubic(CoefX, idx, (absLat - idx * 5.0) / 5.0)
      val lon = lon0Deg + x / (0.8487 * radius * xs) * R2D
      (lon, if (y < 0) -absLat else absLat)
    }
  }

  object Robinson {
    /** Robinson's published table: parallel-length scale X and parallel
     * distance Y at 5° steps, 0..90. */
    val TableX: Array[Double] = Array(
      1.0000, 0.9986, 0.9954, 0.9900, 0.9822, 0.9730, 0.9600, 0.9427, 0.9216,
      0.8962, 0.8679, 0.8350, 0.7986, 0.7597, 0.7186, 0.6732, 0.6213, 0.5722, 0.5322)
    val TableY: Array[Double] = Array(
      0.0000, 0.0620, 0.1240, 0.1860, 0.2480, 0.3100, 0.3720, 0.4340, 0.4958,
      0.5571, 0.6176, 0.6769, 0.7346, 0.7903, 0.8435, 0.8936, 0.9394, 0.9761, 1.0000)

    /** Per-interval Hermite coefficients (c0 + c1 t + c2 t² + c3 t³ on t∈[0,1])
     * from Catmull–Rom tangents (one-sided at the ends). */
    private def hermite(v: Array[Double]): Array[Array[Double]] = {
      val n = v.length
      val m = Array.tabulate(n) { i =>
        if (i == 0) v(1) - v(0)
        else if (i == n - 1) v(n - 1) - v(n - 2)
        else (v(i + 1) - v(i - 1)) / 2.0
      }
      Array.tabulate(n - 1) { i =>
        val d = v(i + 1) - v(i)
        Array(v(i), m(i), 3.0 * d - 2.0 * m(i) - m(i + 1), -2.0 * d + m(i) + m(i + 1))
      }
    }

    val CoefX: Array[Array[Double]] = hermite(TableX)
    val CoefY: Array[Array[Double]] = hermite(TableY)

    @inline def evalCubic(c: Array[Array[Double]], idx: Int, t: Double): Double = {
      val k = c(idx)
      k(0) + t * (k(1) + t * (k(2) + t * k(3)))
    }
  }

  // --------------------------------------------------- AlbersUSA composite

  /**
   * AlbersUSA mixed projection — the reference's most-used custom projection
   * (`src/crs/mapshaper-custom-projections.mjs:29-75`,
   * `mapshaper-mixed-projection.mjs`): a CONUS Albers plus Alaska / Hawaii
   * (and optional Puerto Rico / Virgin Islands) inset frames. A point routes
   * to the FIRST frame whose lat/lon bbox contains it; inset output is scaled
   * about the frame origin's projected position and translated so the origin
   * lands on its placement point. Points outside every frame project to
   * (∞, ∞), matching the reference.
   */
  final case class AlbersUsa(includePR: Boolean = false, includeVI: Boolean = false)
      extends Proj {
    import AlbersUsa._
    private val frames: Seq[Frame] =
      Seq(Main, AK, HI) ++ (if (includePR) Seq(PR) else Nil) ++ (if (includeVI) Seq(VI) else Nil)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) =
      frames.find(_.contains(lonDeg, latDeg)) match {
        case Some(f) => f.apply(lonDeg, latDeg)
        case None => (Double.PositiveInfinity, Double.PositiveInfinity)
      }

    /** Inverse tries the INSET frames before the main one: the insets are
     * placed over empty-ocean corners of the main frame's output region, so
     * a point decoding into an inset's lat/lon bbox belongs to that inset
     * (the same disambiguation d3's albersUsa.invert applies via viewport
     * rects; the reference's mixed projection has no inverse at all). */
    def inverse(x: Double, y: Double): (Double, Double) = {
      var i = frames.length - 1
      while (i >= 0) {
        val f = frames(i)
        val (lon, lat) = f.invert(x, y)
        if (f.contains(lon, lat)) return (lon, lat)
        i -= 1
      }
      (Double.NaN, Double.NaN)
    }
  }

  object AlbersUsa {
    /** One frame: projection + routing bbox + affine placement. A thin view
     * over the GENERIC [[Mixed.Frame]] machinery (this composite is the
     * fixed-frame instance of it), adding the frame-wise inverse. */
    final case class Frame(proj: Proj, bbox: (Double, Double, Double, Double),
                           originLL: Option[(Double, Double)],
                           placement: Option[(Double, Double)],
                           scale: Double) {
      private val mixed = Mixed.Frame(proj, bbox, originLL, placement, scale = scale)
      def contains(lon: Double, lat: Double): Boolean = mixed.contains(lon, lat)
      def apply(lon: Double, lat: Double): (Double, Double) =
        Mixed.forwardThrough(mixed, lon, lat)
      def invert(x: Double, y: Double): (Double, Double) = {
        val (ux, uy) = mixed.inverseTransform(x, y)
        proj.inverse(ux, uy)
      }
      /** Placement affine constants (for the oracle mirror). */
      def affine: (Double, Double, Double, Double, Double, Double) = mixed.affine
    }

    // frame parameters from the reference (custom-projections.mjs:30-65)
    val Main: Frame = Frame(Albers(29.5, 45.5, 37.5, -96.0),
      (-129, 23, -62, 52), None, None, 1.0)
    val AK: Frame = Frame(Albers(55.0, 70.0, 65.0, -148.0),
      (-172.26, 50.89, -127.00, 73.21), Some((-152.0, 63.0)),
      Some((-1882782.0, -969242.0)), 0.37)
    val HI: Frame = Frame(Albers(19.0, 24.0, 20.9, -156.5),
      (-160.50, 18.72, -154.57, 22.58), Some((-157.0, 21.0)),
      Some((-1050326.0, -1055362.0)), 1.0)
    val PR: Frame = Frame(Albers(18.0, 18.43, 17.83, -66.43),
      (-68.092, 17.824, -65.151, 18.787), Some((-66.431, 18.228)),
      Some((1993101.0, -1254517.0)), 1.0)
    val VI: Frame = Frame(Albers(18.0, 18.43, 17.83, -66.43),
      (-65.104, 17.665, -64.454, 18.505), Some((-66.431, 18.228)),
      Some((1993101.0, -1254517.0)), 1.0)
  }

  // ------------------------------------------------------ proj-string parser

  /** The `-projections` listing (`src/cli/mapshaper-options.mjs:2603` /
   * `printProjections`): every `+proj=` id this catalog implements, with a
   * one-line name. Kept next to the parser — `ProjectionsSpec` asserts every
   * id here round-trips through [[fromProj4]]. */
  val supportedProjections: Seq[(String, String)] = Seq(
    "aea" -> "Albers equal-area conic (WGS84 ellipsoid)",
    "aeqd" -> "Azimuthal equidistant (spherical; +ellps= geodesic variant)",
    "butterfly" -> "Butterfly projection (Pacific aspect, CK facets)",
    "butterfly2" -> "Butterfly projection (Atlantic aspect)",
    "cahill_keyes" -> "Cahill-Keyes 12-zone butterfly",
    "calm" -> "Conformal Authagraph-Like Map (Lee tetrahedral)",
    "cea" -> "Cylindrical equal-area (lat_ts)",
    "dymaxion" -> "Dymaxion / Fuller airocean (Gray-Fuller facets)",
    "dymaxion2" -> "Dymaxion (gnomonic facets)",
    "eqc" -> "Equirectangular (lat_ts)",
    "eqearth" -> "Equal Earth",
    "gnom" -> "Gnomonic (spherical)",
    "laea" -> "Lambert azimuthal equal-area (spherical)",
    "lcc" -> "Lambert conformal conic (WGS84 ellipsoid)",
    "longlat" -> "Plate carree / identity in degrees",
    "markley" -> "Markley conformal tetrahedral world map",
    "merc" -> "Spherical Mercator / web tiles",
    "moll" -> "Mollweide",
    "natearth" -> "Natural Earth polynomial",
    "narukawa2022" -> "Narukawa 2022 tetrahedral world map (AuthaGraph approx.)",
    "ortho" -> "Orthographic (spherical)",
    "robin" -> "Robinson (published table + cubic interpolation)",
    "sinu" -> "Sinusoidal (Sanson-Flamsteed)",
    "stere" -> "Oblique stereographic (spherical)",
    "tmerc" -> "Transverse Mercator (ellipsoidal series)",
    "utm" -> "Universal Transverse Mercator (+zone, +south)",
    "wintri" -> "Winkel tripel")

  /**
   * `+proj=` string / named-projection front-end over the typed [[Proj]] API
   * — the reference accepts both PROJ.4 strings and aliases
   * (`src/crs/mapshaper-projections.mjs:14-60`). Unsupported projections
   * throw with the offending name.
   */
  def fromProj4(spec: String): Proj = {
    val aliases = Map(
      "robinson" -> "+proj=robin", "mollweide" -> "+proj=moll",
      "sinusoidal" -> "+proj=sinu", "equalearth" -> "+proj=eqearth",
      "webmercator" -> "+proj=merc", "mercator" -> "+proj=merc",
      "wgs84" -> "+proj=longlat", "latlong" -> "+proj=longlat",
      "dymaxion" -> "+proj=dymaxion", "dymaxion2" -> "+proj=dymaxion2",
      "butterfly" -> "+proj=butterfly", "butterfly2" -> "+proj=butterfly2",
      "cahill_keyes" -> "+proj=cahill_keyes", "cahillkeyes" -> "+proj=cahill_keyes",
      "markley" -> "+proj=markley", "calm" -> "+proj=calm",
      "narukawa2022" -> "+proj=narukawa2022", "narukawa" -> "+proj=narukawa2022")
    val s0 = spec.trim
    // custom composite: "albersusa" with optional "+PR" / "+VI" flags
    // (the reference's parseCustomProjection surface)
    if (s0.toLowerCase.startsWith("albersusa")) {
      val flags = s0.split("\\s+").drop(1).map(_.stripPrefix("+").toUpperCase).toSet
      return AlbersUsa(includePR = flags.contains("PR"), includeVI = flags.contains("VI"))
    }
    val s = if (s0.startsWith("+")) s0 else aliases.getOrElse(s0.toLowerCase,
      throw new IllegalArgumentException(s"unknown projection name: $s0"))
    val kv: Map[String, String] = s.split("\\s+").filter(_.startsWith("+")).map { p =>
      p.stripPrefix("+").split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> ""
      }
    }.toMap
    def d(k: String, dflt: Double): Double = kv.get(k).map(_.toDouble).getOrElse(dflt)
    kv.getOrElse("proj", throw new IllegalArgumentException(s"missing +proj in: $spec")) match {
      case "aea" => Albers(d("lat_1", 29.5), d("lat_2", 45.5), d("lat_0", 0), d("lon_0", 0))
      case "lcc" => Lcc(d("lat_1", 33.0), d("lat_2", 45.0), d("lat_0", 0), d("lon_0", 0))
      case "tmerc" => Tmerc(d("lat_0", 0), d("lon_0", 0), d("k_0", d("k", 1.0)),
        d("x_0", 0), d("y_0", 0))
      case "utm" => utm(kv.getOrElse("zone",
        throw new IllegalArgumentException("+proj=utm requires +zone")).toInt,
        kv.contains("south"))
      case "aeqd" =>
        // +ellps= / +datum= selects the ellipsoidal (geodesic) variant,
        // +R= forces a sphere — PROJ's own convention for aeqd
        if (kv.contains("R") || kv.contains("a") && !kv.contains("ellps") && !kv.contains("datum"))
          Aeqd(d("lat_0", 0), d("lon_0", 0), d("R", d("a", A)))
        else if (kv.contains("ellps") || kv.contains("datum"))
          AeqdGeodesic(d("lat_0", 0), d("lon_0", 0))
        else Aeqd(d("lat_0", 0), d("lon_0", 0))
      case "merc" => Mercator(d("lon_0", 0))
      case "robin" => Robinson(d("lon_0", 0))
      case "moll" => Mollweide(d("lon_0", 0))
      case "sinu" => Sinusoidal(d("lon_0", 0))
      case "stere" => Stereographic(d("lat_0", 90.0), d("lon_0", 0))
      case "ortho" => Orthographic(d("lat_0", 0), d("lon_0", 0))
      case "gnom" => Gnomonic(d("lat_0", 0), d("lon_0", 0))
      case "laea" => Laea(d("lat_0", 0), d("lon_0", 0))
      case "eqc" => Equirectangular(d("lat_ts", 0), d("lon_0", 0))
      case "cea" => CylindricalEqualArea(d("lat_ts", 0), d("lon_0", 0))
      case "natearth" => NaturalEarth(d("lon_0", 0))
      case "wintri" => WinkelTripel(d("lon_0", 0))
      case "eqearth" => EqualEarth(d("lon_0", 0))
      case "longlat" | "latlong" | "lonlat" => Longlat
      case "dymaxion" => DymaxionProj(gnomonicFacets = false, d("lon_0", 0))
      case "dymaxion2" => DymaxionProj(gnomonicFacets = true, d("lon_0", 0))
      case "markley" => LeeProj("markley", d("lon_0", 0))
      case "calm" => LeeProj("calm", d("lon_0", 0))
      case "narukawa2022" => NarukawaProj(d("lon_0", 0))
      case "butterfly" => ButterflyProj("butterfly", d("lon_0", 157.5))
      case "butterfly2" => ButterflyProj("butterfly2", d("lon_0", -20.0))
      case "cahill_keyes" => ButterflyProj("cahill_keyes", d("lon_0", -20.0))
      case other => throw new IllegalArgumentException(s"unsupported +proj=$other")
    }
  }

  // ------------------------------------------ densified path reprojection

  /** Squared distance from point p to segment (a, b). */
  private def pointSegDistSq(px: Double, py: Double, ax: Double, ay: Double,
                             bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t = if (len2 == 0.0) 0.0
      else math.max(0.0, math.min(1.0, ((px - ax) * dx + (py - ay) * dy) / len2))
    val cx = ax + t * dx; val cy = ay + t * dy
    (px - cx) * (px - cx) + (py - cy) * (py - cy)
  }

  /**
   * Project a lon/lat path with on-the-fly densification — the reference's
   * projectAndDensifyArcs semantics (`src/crs/mapshaper-densify.mjs:103-185`):
   * a projected segment is recursively bisected at the unprojected midpoint
   * while the projected midpoint deviates from the projected chord by more
   * than interval/2; segments shorter than 0.01° (unprojected) or 5×interval
   * (projected) are never split. Deterministic; runs per-path inside a Spark
   * map with no shuffle.
   */
  def projectPathDensified(flat: Array[Double], proj: Proj, interval: Double): Array[Double] = {
    val out = Array.newBuilder[Double]
    val minIntervalSq = interval * interval * 25.0
    val maxDevSq = interval * interval * 0.25

    def densify(lng0: Double, lat0: Double, x0: Double, y0: Double,
                lng2: Double, lat2: Double, x2: Double, y2: Double): Unit = {
      val lng1 = (lng0 + lng2) / 2.0
      val lat1 = (lat0 + lat2) / 2.0
      val p = proj.forward(lng1, lat1)
      val distSq = pointSegDistSq(p._1, p._2, x0, y0, x2, y2)
      if (distSq > maxDevSq &&
          Geom.distance(lng0, lat0, lng2, lat2) > 0.01) {
        densify(lng0, lat0, x0, y0, lng1, lat1, p._1, p._2)
        out += p._1; out += p._2
        densify(lng1, lat1, p._1, p._2, lng2, lat2, x2, y2)
      }
    }

    if (flat.length < 2) return flat
    var prev = proj.forward(flat(0), flat(1))
    out += prev._1; out += prev._2
    var i = 2
    while (i + 1 < flat.length) {
      val lng = flat(i); val lat = flat(i + 1)
      val p = proj.forward(lng, lat)
      if (Geom.distanceSq(p._1, p._2, prev._1, prev._2) > minIntervalSq)
        densify(flat(i - 2), flat(i - 1), prev._1, prev._2, lng, lat, p._1, p._2)
      out += p._1; out += p._2
      prev = p
      i += 2
    }
    out.result()
  }

  // ------------------------------------------------- azimuthal equidistant

  /** Azimuthal equidistant, spherical form (Snyder 25-1..25-15) on the
   * WGS84 semi-major sphere — the variant used for quick range maps. */
  // ------------------------------------------------ ellipsoidal geodesics

  final val B = A * (1.0 - F) // WGS84 semi-minor axis

  /**
   * Direct geodesic problem on the WGS84 ellipsoid (Vincenty 1975, public
   * formulas): from (lat1, lon1) along initial azimuth `aziDeg` for
   * `s` meters → (lon2, lat2, azi2). The reference reaches the same
   * semantics through geographiclib (`src/geom/mapshaper-geodesic.mjs:92-99`)
   * for ellipsoidal CRS buffers and distance work.
   */
  def geodesicDirect(lat1Deg: Double, lon1Deg: Double, aziDeg: Double,
                     s: Double): (Double, Double, Double) = {
    val alpha1 = aziDeg * D2R
    val sinA1 = math.sin(alpha1); val cosA1 = math.cos(alpha1)
    val tanU1 = (1.0 - F) * math.tan(lat1Deg * D2R)
    val cosU1 = 1.0 / math.sqrt(1.0 + tanU1 * tanU1)
    val sinU1 = tanU1 * cosU1
    val sigma1 = math.atan2(tanU1, cosA1)
    val sinAlpha = cosU1 * sinA1
    val cos2Alpha = 1.0 - sinAlpha * sinAlpha
    val u2 = cos2Alpha * (A * A - B * B) / (B * B)
    val bigA = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    val bigB = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    var sigma = s / (B * bigA)
    var cos2SigmaM = 0.0; var sinSigma = 0.0; var cosSigma = 0.0
    var iter = 0; var delta = 1.0
    while (iter < 100 && math.abs(delta) > 1e-14) {
      cos2SigmaM = math.cos(2.0 * sigma1 + sigma)
      sinSigma = math.sin(sigma); cosSigma = math.cos(sigma)
      val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
        (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
          bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
            (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
      val next = s / (B * bigA) + dSigma
      delta = next - sigma
      sigma = next
      iter += 1
    }
    cos2SigmaM = math.cos(2.0 * sigma1 + sigma)
    sinSigma = math.sin(sigma); cosSigma = math.cos(sigma)
    val tmp = sinU1 * sinSigma - cosU1 * cosSigma * cosA1
    val phi2 = math.atan2(sinU1 * cosSigma + cosU1 * sinSigma * cosA1,
      (1.0 - F) * math.sqrt(sinAlpha * sinAlpha + tmp * tmp))
    val lambda = math.atan2(sinSigma * sinA1, cosU1 * cosSigma - sinU1 * sinSigma * cosA1)
    val c = F / 16.0 * cos2Alpha * (4.0 + F * (4.0 - 3.0 * cos2Alpha))
    val l = lambda - (1.0 - c) * F * sinAlpha * (sigma + c * sinSigma *
      (cos2SigmaM + c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
    val azi2 = math.atan2(sinAlpha, -tmp)
    (lon1Deg + l * R2D, phi2 * R2D, azi2 * R2D)
  }

  /**
   * Inverse geodesic problem (Vincenty 1975): distance in meters and initial
   * azimuth from (lat1, lon1) to (lat2, lon2). Converges everywhere except
   * nearly-antipodal pairs, where it falls back to the last iterate (the
   * buffer/AEQD use sites never operate near the antipode).
   */
  def geodesicInverse(lat1Deg: Double, lon1Deg: Double,
                      lat2Deg: Double, lon2Deg: Double): (Double, Double) = {
    val bigL = (lon2Deg - lon1Deg) * D2R
    val tanU1 = (1.0 - F) * math.tan(lat1Deg * D2R)
    val cosU1 = 1.0 / math.sqrt(1.0 + tanU1 * tanU1); val sinU1 = tanU1 * cosU1
    val tanU2 = (1.0 - F) * math.tan(lat2Deg * D2R)
    val cosU2 = 1.0 / math.sqrt(1.0 + tanU2 * tanU2); val sinU2 = tanU2 * cosU2
    var lambda = bigL
    var sinSigma = 0.0; var cosSigma = 1.0; var sigma = 0.0
    var cos2Alpha = 1.0; var cos2SigmaM = 0.0
    var iter = 0; var delta = 1.0
    while (iter < 200 && math.abs(delta) > 1e-13) {
      val sinL = math.sin(lambda); val cosL = math.cos(lambda)
      val t1 = cosU2 * sinL
      val t2 = cosU1 * sinU2 - sinU1 * cosU2 * cosL
      sinSigma = math.sqrt(t1 * t1 + t2 * t2)
      if (sinSigma == 0.0) return (0.0, 0.0) // coincident points
      cosSigma = sinU1 * sinU2 + cosU1 * cosU2 * cosL
      sigma = math.atan2(sinSigma, cosSigma)
      val sinAlpha = cosU1 * cosU2 * sinL / sinSigma
      cos2Alpha = 1.0 - sinAlpha * sinAlpha
      cos2SigmaM = if (cos2Alpha == 0.0) 0.0 // equatorial line
        else cosSigma - 2.0 * sinU1 * sinU2 / cos2Alpha
      val c = F / 16.0 * cos2Alpha * (4.0 + F * (4.0 - 3.0 * cos2Alpha))
      val next = bigL + (1.0 - c) * F * sinAlpha * (sigma + c * sinSigma *
        (cos2SigmaM + c * cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM)))
      delta = next - lambda
      lambda = next
      iter += 1
    }
    val u2 = cos2Alpha * (A * A - B * B) / (B * B)
    val bigA = 1.0 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    val bigB = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    val dSigma = bigB * sinSigma * (cos2SigmaM + bigB / 4.0 *
      (cosSigma * (-1.0 + 2.0 * cos2SigmaM * cos2SigmaM) -
        bigB / 6.0 * cos2SigmaM * (-3.0 + 4.0 * sinSigma * sinSigma) *
          (-3.0 + 4.0 * cos2SigmaM * cos2SigmaM)))
    val s = B * bigA * (sigma - dSigma)
    val azi1 = math.atan2(cosU2 * math.sin(lambda),
      cosU1 * sinU2 - sinU1 * cosU2 * math.cos(lambda))
    (s, azi1 * R2D)
  }

  /**
   * Ellipsoidal azimuthal equidistant: x = s·sin(azi), y = s·cos(azi) from
   * the geodesic inverse (how PROJ computes +proj=aeqd on an ellipsoid);
   * inverse recovers the point with the direct problem. True distance from
   * the center along any azimuth — the property the spherical [[Aeqd]] only
   * has on the sphere.
   */
  final case class AeqdGeodesic(lat0Deg: Double, lon0Deg: Double) extends Proj {
    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val (s, azi) = geodesicInverse(lat0Deg, lon0Deg, latDeg, lonDeg)
      (s * math.sin(azi * D2R), s * math.cos(azi * D2R))
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val s = math.sqrt(x * x + y * y)
      if (s == 0.0) return (lon0Deg, lat0Deg)
      val azi = math.atan2(x, y) * R2D
      val (lon2, lat2, _) = geodesicDirect(lat0Deg, lon0Deg, azi, s)
      (lon2, lat2)
    }
  }

  final case class Aeqd(lat0Deg: Double, lon0Deg: Double, radius: Double = A) extends Proj {
    private val phi0 = lat0Deg * D2R
    private val sin0 = math.sin(phi0)
    private val cos0 = math.cos(phi0)

    def forward(lonDeg: Double, latDeg: Double): (Double, Double) = {
      val phi = latDeg * D2R
      val dl = (lonDeg - lon0Deg) * D2R
      val sinP = math.sin(phi); val cosP = math.cos(phi)
      val cosC = sin0 * sinP + cos0 * cosP * math.cos(dl)
      val c = math.acos(math.max(-1.0, math.min(1.0, cosC)))
      val k = if (c == 0.0) 1.0 else c / math.sin(c)
      (radius * k * cosP * math.sin(dl),
        radius * k * (cos0 * sinP - sin0 * cosP * math.cos(dl)))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val rho = math.sqrt(x * x + y * y)
      if (rho == 0.0) return (lon0Deg, lat0Deg)
      val c = rho / radius
      val sinC = math.sin(c); val cosC = math.cos(c)
      val phi = math.asin(cosC * sin0 + y * sinC * cos0 / rho)
      val lon = lon0Deg + math.atan2(x * sinC, rho * cos0 * cosC - y * sin0 * sinC) * R2D
      (lon, phi * R2D)
    }
  }
}
