package graft.geom

/**
 * Polyhedral (unfolded-solid) projections — the reference's
 * `-proj dymaxion` family (`/root/reference/src/crs/mapshaper-polyhedral-projection.mjs`,
 * `mapshaper-dymaxion.mjs`; both derive from d3-geo-polygon's published
 * algorithms and Robert W. Gray's Fuller-facet equations).
 *
 * Model: the sphere is covered by spherical polygon FACES; each face has a
 * local azimuthal projector; a spanning tree (`parents`) attaches each
 * face's plane to its parent by aligning their shared edge (a similarity
 * transform), composing into one flat unfolding. A global spherical rotation
 * orients the solid; a planar rotation + scale-to-radians + centering
 * finishes the output frame.
 *
 * The per-point forward is pure arithmetic over ~24 candidate faces — on
 * Spark it runs inside a map with a broadcast-friendly immutable engine
 * (all face data precomputed at construction; zero per-row allocation
 * beyond the result tuple).
 */
object Polyhedral {

  private final val D2R = math.Pi / 180.0
  private final val R2D = 180.0 / math.Pi
  private final val EPS = 1e-12

  // ----------------------------------------------------------- vector algebra
  // package-private: the concrete solids (Dymaxion/Butterfly/Lee/Narukawa)
  // share these — one definition keeps the oracle-verified arithmetic in
  // one place

  @inline private[geom] def dot(a: Array[Double], b: Array[Double]): Double =
    a(0) * b(0) + a(1) * b(1) + a(2) * b(2)

  private[geom] def cross(a: Array[Double], b: Array[Double]): Array[Double] =
    Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))

  private[geom] def normalize(p: Array[Double]): Array[Double] = {
    val k = 1.0 / math.sqrt(dot(p, p))
    Array(p(0) * k, p(1) * k, p(2) * k)
  }

  private[geom] def radiansToVector(lam: Double, phi: Double): Array[Double] = {
    val cosPhi = math.cos(phi)
    Array(math.cos(lam) * cosPhi, math.sin(lam) * cosPhi, math.sin(phi))
  }

  private[geom] def degreesToVector(lon: Double, lat: Double): Array[Double] =
    radiansToVector(lon * D2R, lat * D2R)

  private[geom] def clamp(v: Double, lo: Double, hi: Double): Double =
    math.max(lo, math.min(hi, v))

  private[geom] def vectorToDegreesArr(p: Array[Double]): Array[Double] =
    Array(math.atan2(p(1), p(0)) * R2D, math.asin(clamp(p(2), -1, 1)) * R2D)

  /** Spherical centroid of a polygon given as (lon, lat) degree pairs —
   * normalized vector sum, back to degrees. */
  private[geom] def sphericalCentroidDeg(coords: Array[Array[Double]]): Array[Double] = {
    val s = Array(0.0, 0.0, 0.0)
    coords.foreach { p =>
      val v = degreesToVector(p(0), p(1))
      s(0) += v(0); s(1) += v(1); s(2) += v(2)
    }
    vectorToDegreesArr(normalize(s))
  }

  def normalizeRadians(lam0: Double): Double = {
    var lam = lam0
    while (lam > math.Pi) lam -= math.Pi * 2
    while (lam < -math.Pi) lam += math.Pi * 2
    lam
  }

  // --------------------------------------------------------- sphere rotation

  /** d3-style spherical rotation in radians (lambda shift then phi/gamma),
   * identical op order to the reference's `rotateRadians`. */
  def rotateRadians(lam0: Double, phi: Double, dLam: Double, dPhi: Double,
                    dGamma: Double, invert: Boolean = false): (Double, Double) = {
    if (invert) {
      val (l, p) = rotatePhiGamma(lam0, phi, dPhi, dGamma, invert = true)
      (normalizeRadians(l - dLam), p)
    } else {
      val lam = normalizeRadians(lam0 + dLam)
      rotatePhiGamma(lam, phi, dPhi, dGamma, invert = false)
    }
  }

  private def rotatePhiGamma(lam: Double, phi: Double, dPhi: Double,
                             dGamma: Double, invert: Boolean): (Double, Double) = {
    val cosDP = math.cos(dPhi); val sinDP = math.sin(dPhi)
    val cosDG = math.cos(dGamma); val sinDG = math.sin(dGamma)
    val cosPhi = math.cos(phi)
    val x = math.cos(lam) * cosPhi
    val y = math.sin(lam) * cosPhi
    val z = math.sin(phi)
    if (invert) {
      val k = z * cosDG - y * sinDG
      (math.atan2(y * cosDG + z * sinDG, x * cosDP + k * sinDP),
        math.asin(clamp(k * cosDP - x * sinDP, -1, 1)))
    } else {
      val k = z * cosDP + x * sinDP
      (math.atan2(y * cosDG - k * sinDG, x * cosDP - z * sinDP),
        math.asin(clamp(k * cosDG + y * sinDG, -1, 1)))
    }
  }

  /** Rotation with deltas given in degrees (the face projectors' form). */
  def rotateSphericalRadians(lam: Double, phi: Double, rotDeg: Array[Double],
                             invert: Boolean = false): (Double, Double) =
    rotateRadians(lam, phi, rotDeg(0) * D2R, rotDeg(1) * D2R, rotDeg(2) * D2R, invert)

  // ------------------------------------------------------------ affine 2x2+t

  /** Row-major 2x3 affine [a b tx; c d ty] as a 6-array. */
  private def identityMatrix: Array[Double] = Array(1, 0, 0, 0, 1, 0)

  private def multiplyMatrices(a: Array[Double], b: Array[Double]): Array[Double] = Array(
    a(0) * b(0) + a(1) * b(3),
    a(0) * b(1) + a(1) * b(4),
    a(0) * b(2) + a(1) * b(5) + a(2),
    a(3) * b(0) + a(4) * b(3),
    a(3) * b(1) + a(4) * b(4),
    a(3) * b(2) + a(4) * b(5) + a(5))

  @inline private def applyMatrix(m: Array[Double], x: Double, y: Double): (Double, Double) =
    (m(0) * x + m(1) * y + m(2), m(3) * x + m(4) * y + m(5))

  private def invertMatrix(m: Array[Double]): Array[Double] = {
    val det = m(0) * m(4) - m(1) * m(3)
    Array(m(4) / det, -m(1) / det, (m(1) * m(5) - m(4) * m(2)) / det,
      -m(3) / det, m(0) / det, (m(3) * m(2) - m(0) * m(5)) / det)
  }

  /** Similarity transform mapping segment `src` onto segment `dest`. */
  private def edgeTransform(dest: Array[Array[Double]], src: Array[Array[Double]]): Array[Double] = {
    val ux = dest(1)(0) - dest(0)(0); val uy = dest(1)(1) - dest(0)(1)
    val vx = src(1)(0) - src(0)(0); val vy = src(1)(1) - src(0)(1)
    val scale = math.sqrt((ux * ux + uy * uy) / (vx * vx + vy * vy))
    val angle = math.atan2(ux * vy - uy * vx, ux * vx + uy * vy)
    val cos = math.cos(angle) * scale
    val sin = math.sin(angle) * scale
    Array(cos, sin, dest(0)(0) - cos * src(0)(0) - sin * src(0)(1),
      -sin, cos, dest(0)(1) + sin * src(0)(0) - cos * src(0)(1))
  }

  // ------------------------------------------------------------------- faces

  /** A face's local projector: spherical radians -> face-plane coordinates. */
  trait FaceProjector extends Serializable {
    def project(lam: Double, phi: Double): (Double, Double)
    /** Local-plane inverse (None if numerically unavailable). */
    def invert(x: Double, y: Double): Option[(Double, Double)]
  }

  final class Face(val id: Int, val coordsDeg: Array[Array[Double]],
                   val centroidDeg: Array[Double]) extends Serializable {
    val vectors: Array[Array[Double]] =
      coordsDeg.map(p => degreesToVector(p(0), p(1)))
    private val inside: Array[Double] = {
      val s = Array(0.0, 0.0, 0.0)
      vectors.foreach { v => s(0) += v(0); s(1) += v(1); s(2) += v(2) }
      normalize(s)
    }
    val edgeNormals: Array[Array[Double]] = Array.tabulate(vectors.length) { i =>
      cross(vectors(i), vectors((i + 1) % vectors.length))
    }
    val edgeSigns: Array[Int] = edgeNormals.map(n => if (dot(n, inside) < 0) -1 else 1)
    var projector: FaceProjector = _
    var transform: Array[Double] = _

    def contains(p: Array[Double]): Boolean = {
      var i = 0
      while (i < edgeNormals.length) {
        if (dot(edgeNormals(i), p) * edgeSigns(i) < -EPS) return false
        i += 1
      }
      true
    }
  }

  private def angularDistance(a: Array[Double], b: Array[Double]): Double =
    math.acos(clamp(dot(degreesToVector(a(0), a(1)), degreesToVector(b(0), b(1))), -1, 1))

  private def samePoint(a: Array[Double], b: Array[Double]): Boolean =
    math.abs(a(0) - b(0)) < EPS && math.abs(a(1) - b(1)) < EPS

  // ---------------------------------------------------------------- engine

  /**
   * @param facesDeg   spherical polygons, degrees, one per face
   * @param sitesDeg   per-face centroid override (rotation center of the
   *                   local projector) — pre-split centroids for dymaxion
   * @param parents    spanning tree (parents(i) < 0 for the root)
   * @param rotationDeg global spherical rotation [dLam, dPhi, dGamma] degrees
   * @param angleDeg   planar rotation applied after unfolding
   */
  final class Engine(facesDeg: Array[Array[Array[Double]]], sitesDeg: Array[Array[Double]],
                     parents: Array[Int], rotationDeg: Array[Double], angleDeg: Double,
                     mkProjector: Face => FaceProjector,
                     findFaceFn: Option[(Double, Double) => Int] = None) extends Serializable {

    val faces: Array[Face] = Array.tabulate(facesDeg.length) { i =>
      new Face(i, facesDeg(i), sitesDeg(i))
    }
    faces.foreach(f => f.projector = mkProjector(f))

    /** Spanning-tree parent of a face (negative for the root). */
    def parentOf(id: Int): Int = parents(id)

    private def initTransform(id: Int): Unit = {
      val face = faces(id)
      if (face.transform != null) return
      val parentId = parents(id)
      if (parentId < 0) { face.transform = identityMatrix; return }
      initTransform(parentId)
      val parent = faces(parentId)
      val shared = findSharedEdge(face.coordsDeg, parent.coordsDeg)
        .getOrElse(throw new IllegalArgumentException(s"no shared edge $id->$parentId"))
      val childEdge = shared.map { p =>
        val (x, y) = face.projector.project(p(0) * D2R, p(1) * D2R); Array(x, y)
      }
      val parentEdge = shared.map { p =>
        val (x, y) = parent.projector.project(p(0) * D2R, p(1) * D2R); Array(x, y)
      }
      face.transform = multiplyMatrices(parent.transform, edgeTransform(parentEdge, childEdge))
    }
    faces.indices.foreach(initTransform)

    private def findSharedEdge(a: Array[Array[Double]],
                               b: Array[Array[Double]]): Option[Array[Array[Double]]] = {
      for (i <- a.indices; j <- b.indices) {
        val p = a(i); val q = a((i + 1) % a.length)
        val c = b(j); val d = b((j + 1) % b.length)
        if ((samePoint(p, c) && samePoint(q, d)) || (samePoint(p, d) && samePoint(q, c)))
          return Some(Array(p, q))
      }
      None
    }

    // scale: root face's longest spherical edge vs its planar image
    private val (scale, planarAngle) = {
      val coords = faces(0).coordsDeg
      var best: Array[Array[Double]] = null
      var max = Double.NegativeInfinity
      for (i <- coords.indices) {
        val e = Array(coords(i), coords((i + 1) % coords.length))
        val len = angularDistance(e(0), e(1))
        if (len > max) { max = len; best = e }
      }
      val pe = best.map { p =>
        val (x, y) = faces(0).projector.project(p(0) * D2R, p(1) * D2R); Array(x, y)
      }
      val dx = pe(1)(0) - pe(0)(0); val dy = pe(1)(1) - pe(0)(1)
      (max / math.sqrt(dx * dx + dy * dy), angleDeg * D2R)
    }

    /** Unfolded local point -> output frame (scale, y-flip, planar rotation). */
    private def toOutput(x0: Double, y0: Double): (Double, Double) = {
      val x = x0 * scale
      val y = -y0 * scale // local planes are screen-oriented (y down)
      if (planarAngle != 0)
        (x * math.cos(planarAngle) - y * math.sin(planarAngle),
          x * math.sin(planarAngle) + y * math.cos(planarAngle))
      else (x, y)
    }

    /** Boundary rings of the unfolding (cut edges connected), output frame,
     * BEFORE centering — used to derive the centering offset. */
    private def buildOutline(): Array[Array[Array[Double]]] = {
      val attached = faces.indices.flatMap { i =>
        val p = parents(i); if (p >= 0) Seq((math.min(i, p), math.max(i, p))) else Nil
      }.toSet
      def adjacentFace(faceId: Int, a: Array[Double], b: Array[Double]): Int = {
        faces.indices.foreach { i =>
          if (i != faceId) {
            val cs = faces(i).coordsDeg
            cs.indices.foreach { j =>
              val c = cs(j); val d = cs((j + 1) % cs.length)
              if ((samePoint(a, c) && samePoint(b, d)) || (samePoint(a, d) && samePoint(b, c)))
                return i
            }
          }
        }
        -1
      }
      val edges = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Double]]]
      faces.foreach { face =>
        val cs = face.coordsDeg
        cs.indices.foreach { i =>
          val a = cs(i); val b = cs((i + 1) % cs.length)
          val adj = adjacentFace(face.id, a, b)
          val isAttached = adj >= 0 && attached((math.min(face.id, adj), math.max(face.id, adj)))
          if (!isAttached) {
            def unfold(p: Array[Double]): Array[Double] = {
              val (lx, ly) = face.projector.project(p(0) * D2R, p(1) * D2R)
              val (tx, ty) = applyMatrix(face.transform, lx, ly)
              Array(tx, ty)
            }
            edges += Array(unfold(a), unfold(b))
          }
        }
      }
      // connect cut edges into closed rings (1e-9 coordinate tolerance)
      def near(a: Array[Double], b: Array[Double]) =
        math.abs(a(0) - b(0)) < 1e-9 && math.abs(a(1) - b(1)) < 1e-9
      val unused = scala.collection.mutable.ArrayBuffer(edges.toSeq: _*)
      val rings = scala.collection.mutable.ArrayBuffer.empty[Array[Array[Double]]]
      while (unused.nonEmpty) {
        val e0 = unused.remove(unused.length - 1)
        val ring = scala.collection.mutable.ArrayBuffer(e0(0), e0(1))
        var open = true
        while (open && !near(ring.head, ring.last)) {
          val last = ring.last
          val idx = unused.indexWhere(e => near(last, e(0)) || near(last, e(1)))
          if (idx < 0) open = false
          else {
            val e = unused.remove(idx)
            ring += (if (near(last, e(0))) e(1) else e(0))
          }
        }
        if (ring.length > 3 && near(ring.head, ring.last)) {
          ring(ring.length - 1) = ring.head
          rings += ring.toArray
        }
      }
      rings.toArray.map(_.map { p => val (x, y) = toOutput(p(0), p(1)); Array(x, y) })
    }

    private val (centerX, centerY) = {
      var minX = Double.PositiveInfinity; var minY = Double.PositiveInfinity
      var maxX = Double.NegativeInfinity; var maxY = Double.NegativeInfinity
      rawOutline.foreach(_.foreach { p =>
        minX = math.min(minX, p(0)); minY = math.min(minY, p(1))
        maxX = math.max(maxX, p(0)); maxY = math.max(maxY, p(1))
      })
      ((minX + maxX) / 2, (minY + maxY) / 2)
    }
    private lazy val rawOutline: Array[Array[Array[Double]]] = buildOutline()

    /** Projection outline (cut boundary), centered output frame. */
    lazy val outline: Array[Array[Array[Double]]] =
      rawOutline.map(_.map(p => Array(p(0) - centerX, p(1) - centerY)))

    private val rotLam = rotationDeg(0) * D2R
    private val rotPhi = rotationDeg(1) * D2R
    private val rotGamma = rotationDeg(2) * D2R
    // zero rotation must be a true identity: rotatePhiGamma's trig
    // round-trip perturbs lambda by ulps, which flips knife-edge region
    // decisions (octant boundaries) against callers that pass raw lambdas
    private val rotIdentity = rotLam == 0 && rotPhi == 0 && rotGamma == 0

    /** Rotated-frame face lookup: FIRST face containing the direction (the
     * reference scans in id order — ties on shared edges go to the lower id). */
    def findFaceRotated(lam: Double, phi: Double): Int = findFaceFn match {
      case Some(f) => f(lam, phi)
      case None =>
        val p = radiansToVector(lam, phi)
        var i = 0
        while (i < faces.length) {
          if (faces(i).contains(p)) return i
          i += 1
        }
        -1
    }

    /** Face id + LOCAL face-plane coordinates (pre-unfold) — the arithmetic
     * core, mirrored verbatim by the q_dymaxion oracle. */
    def faceLocal(lam0: Double, phi0: Double): Option[(Int, Double, Double)] = {
      val (lam, phi) =
        if (rotIdentity) (normalizeRadians(lam0), phi0)
        else rotateRadians(lam0, phi0, rotLam, rotPhi, rotGamma)
      val id = findFaceRotated(lam, phi)
      if (id < 0) None
      else {
        val (x, y) = faces(id).projector.project(lam, phi)
        Some((id, x, y))
      }
    }

    /** Full forward: radians -> centered planar (radius-of-sphere units). */
    def forward(lam0: Double, phi0: Double): Option[(Double, Double)] =
      faceLocal(lam0, phi0).map { case (id, lx, ly) =>
        val (tx, ty) = applyMatrix(faces(id).transform, lx, ly)
        val (ox, oy) = toOutput(tx, ty)
        (ox - centerX, oy - centerY)
      }

    // face.transform never changes after construction — precompute inverses
    // once instead of per inverse() probe (callers scan all faces in a loop)
    @transient private lazy val invTransforms: Array[Array[Double]] =
      faces.map(f => invertMatrix(f.transform))

    /** Inverse via per-face local inversion + membership check. */
    def inverse(x: Double, y: Double): Option[(Double, Double)] = {
      // undo centering, planar rotation, scale, y-flip
      val x1 = x + centerX; val y1 = y + centerY
      val (x2, y2) =
        if (planarAngle != 0)
          (x1 * math.cos(planarAngle) + y1 * math.sin(planarAngle),
            -x1 * math.sin(planarAngle) + y1 * math.cos(planarAngle))
        else (x1, y1)
      val ux = x2 / scale; val uy = -y2 / scale
      var i = 0
      while (i < faces.length) {
        val face = faces(i)
        val inv = invTransforms(i)
        val (lx, ly) = applyMatrix(inv, ux, uy)
        face.projector.invert(lx, ly) match {
          case Some((lam, phi)) if findFaceRotated(lam, phi) == i =>
            return Some(
              if (rotIdentity) (normalizeRadians(lam), phi)
              else rotateRadians(lam, phi, rotLam, rotPhi, rotGamma, invert = true))
          case _ =>
        }
        i += 1
      }
      None
    }
  }
}
