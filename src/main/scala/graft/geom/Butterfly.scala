package graft.geom

import Polyhedral._

/**
 * Octahedral butterfly projections — the reference's `butterfly`,
 * `butterfly2` and `cahill_keyes`
 * (`/root/reference/src/crs/mapshaper-butterfly-projections.mjs`; face
 * layouts follow the published d3-geo-polygon octahedral arrangements).
 *
 * The sphere splits into 8 octant faces, truncated at the octahedron
 * vertices (corner weight sin 17°) into hexagons + 24 corner triangles
 * (32 faces total). Octant interiors use the Cahill-Keyes 12-zone facet
 * transform; corner triangles inherit their hexagon's projector through the
 * spanning tree, so the unfolded "wings" regroup the polar caps.
 */
object Butterfly {

  private final val D2R = math.Pi / 180.0
  private final val R2D = 180.0 / math.Pi

  private val ButterflyParents = Array(-1, 0, 0, 1, 0, 1, 4, 5)
  private val CahillKeyesParents = Array(-1, 3, 0, 2, 0, 1, 4, 5)

  /** Default central meridians (the reference's DEFAULT_LON0). */
  val DefaultLon0: Map[String, Double] =
    Map("butterfly" -> 157.5, "butterfly2" -> -20.0, "cahill_keyes" -> -20.0)

  // ------------------------------------------------------------- vectors
  // shared vector algebra lives in [[Polyhedral]]

  private def addScaled(a: Array[Double], ka: Double, b: Array[Double], kb: Double) =
    Array(a(0) * ka + b(0) * kb, a(1) * ka + b(1) * kb, a(2) * ka + b(2) * kb)

  // ----------------------------------------------------- face construction

  private def octahedron: Array[Array[Array[Double]]] = {
    val vertices = Array(
      Array(0.0, 90.0), Array(-90.0, 0.0), Array(0.0, 0.0),
      Array(90.0, 0.0), Array(180.0, 0.0), Array(0.0, -90.0))
    Array(
      Array(0, 2, 1), Array(0, 3, 2), Array(5, 1, 2), Array(5, 2, 3),
      Array(0, 1, 4), Array(0, 4, 3), Array(5, 4, 1), Array(5, 3, 4)
    ).map(_.map(vertices(_)))
  }

  private final case class TruncatedFaces(faces: Array[Array[Array[Double]]],
                                          parents: Array[Int],
                                          cornerNormals: Array[Array[Array[Double]]])

  /** Octant hexagons (vertices pulled toward edges by edge/vertex weights)
   * + 24 corner triangles; shared vertices canonicalized so cross-face edge
   * matching is exact. */
  private def truncatedOctahedronFaces(edgeWeight: Double, vertexWeight: Double,
                                       baseParents: Array[Int]): TruncatedFaces = {
    val oct = octahedron
    val hexes: Array[Array[Array[Double]]] = oct.map { face =>
      val vectors = face.map(p => degreesToVector(p(0), p(1)))
      val hexagon = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var a = vectors.last
      vectors.foreach { b =>
        hexagon += vectorToDegreesArr(normalize(addScaled(a, edgeWeight, b, vertexWeight)))
        hexagon += vectorToDegreesArr(normalize(addScaled(b, edgeWeight, a, vertexWeight)))
        a = b
      }
      hexagon.toArray
    }
    // canonicalize: identical spherical points (1e-12 key) share one value
    val index = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    val faces = scala.collection.mutable.ArrayBuffer(hexes.toSeq: _*)
    faces.foreach { face =>
      face.indices.foreach { i =>
        val v = degreesToVector(face(i)(0), face(i)(1))
        val key = f"${v(0)}%.12f,${v(1)}%.12f,${v(2)}%.12f"
        index.get(key) match {
          case Some(p) => face(i) = p
          case None => index(key) = face(i)
        }
      }
    }
    val cornerNormals = hexes.map { hexagon =>
      Array.tabulate(3) { i =>
        val a = hexagon((i * 2 + 2) % 6)
        val b = hexagon((i * 2 + 1) % 6)
        cross(degreesToVector(a(0), a(1)), degreesToVector(b(0), b(1)))
      }
    }
    val parents = scala.collection.mutable.ArrayBuffer(baseParents.toSeq: _*)
    hexes.indices.foreach { j =>
      val face = oct(j)
      val hexagon = faces(j)
      (0 until 3).foreach { i =>
        faces += Array(face(i), hexagon((i * 2 + 2) % 6), hexagon((i * 2 + 1) % 6))
        parents += j
      }
    }
    TruncatedFaces(faces.toArray, parents.toArray, cornerNormals)
  }

  /** Direct octant dispatch + corner-normal tests (the reference's custom
   * finder — O(1), and authoritative at hexagon/triangle boundaries). */
  private def truncatedFaceFinder(cornerNormals: Array[Array[Array[Double]]])
      : (Double, Double) => Int = { (lam, phi) =>
    val cosPhi = math.cos(phi)
    val p = Array(cosPhi * math.cos(lam), cosPhi * math.sin(lam), math.sin(phi))
    val face =
      if (lam < -math.Pi / 2) { if (phi < 0) 6 else 4 }
      else if (lam < 0) { if (phi < 0) 2 else 0 }
      else if (lam < math.Pi / 2) { if (phi < 0) 3 else 1 }
      else { if (phi < 0) 7 else 5 }
    val normals = cornerNormals(face)
    if (dot(normals(0), p) < 0) 8 + 3 * face
    else if (dot(normals(1), p) < 0) 8 + 3 * face + 1
    else if (dot(normals(2), p) < 0) 8 + 3 * face + 2
    else face
  }

  private def normalizeRadiansMod(lam: Double): Double =
    (lam + math.Pi * 3) % (math.Pi * 2) - math.Pi

  /** Strip a raw facet's global placement/scale, keeping its shape: origin
   * at the longest projected edge, unit length along it, interior on +y. */
  private final class NormalizedFacetProjector(coords: Array[Array[Double]],
                                               raw: (Double, Double) => (Double, Double))
      extends FaceProjector {
    private val points = coords.map(p => { val q = raw(p(0) * D2R, p(1) * D2R); Array(q._1, q._2) })
    private val (origin, ux, uy, maxLengthSq, side) = {
      var edge = 0
      var best = -1.0
      points.indices.foreach { i =>
        val a = points(i); val b = points((i + 1) % points.length)
        val dx = b(0) - a(0); val dy = b(1) - a(1)
        val l = dx * dx + dy * dy
        if (l > best) { best = l; edge = i }
      }
      val o = points(edge)
      val e = points((edge + 1) % points.length)
      val vx = e(0) - o(0); val vy = e(1) - o(1)
      val cx = points.map(_(0) / points.length).sum
      val cy = points.map(_(1) / points.length).sum
      val s = if (vx * (cy - o(1)) - vy * (cx - o(0)) < 0) -1.0 else 1.0
      (o, vx, vy, best, s)
    }
    def project(lam: Double, phi: Double): (Double, Double) = {
      val p = raw(lam, phi)
      val x = p._1 - origin(0)
      val y = p._2 - origin(1)
      ((x * ux + y * uy) / maxLengthSq, side * (ux * y - uy * x) / maxLengthSq)
    }
    def invert(x: Double, y: Double): Option[(Double, Double)] = None
  }

  private final class RawProjector(raw: (Double, Double) => (Double, Double))
      extends FaceProjector {
    def project(lam: Double, phi: Double): (Double, Double) = raw(lam, phi)
    def invert(x: Double, y: Double): Option[(Double, Double)] = None
  }

  // ------------------------------------------------------------- engines

  private def computedCentroid(face: Array[Array[Double]]): Array[Double] =
    Polyhedral.sphericalCentroidDeg(face)

  /** Butterfly (CK facets, pacific/atlantic aspect picked by lon0). */
  lazy val butterfly: Engine = {
    val faceCenters = Array(-45.0, 45.0, -45.0, 45.0, -135.0, 135.0, -135.0, 135.0)
    val data = truncatedOctahedronFaces(
      math.cos(17 * D2R), math.sin(17 * D2R), ButterflyParents)
    val ck = new CahillKeyes(10000)
    new Engine(data.faces, data.faces.map(computedCentroid), data.parents,
      Array(0.0, 0.0, 0.0), angleDeg = 150,
      face => {
        val baseId = if (face.id < 8) face.id else data.parents(face.id)
        val center = faceCenters(baseId) * D2R
        new NormalizedFacetProjector(face.coordsDeg,
          (lam, phi) => ck.forwardFace(normalizeRadiansMod(lam - center), phi))
      },
      Some(truncatedFaceFinder(data.cornerNormals)))
  }

  /** Region function for the cahill_keyes SEAM CUT: the raw master layout
   * places each octant (and meridian side) separately — its discontinuities
   * are octant boundaries, not the truncated-octahedron face edges used by
   * the butterfly unfolding. */
  lazy val cahillKeyesOctant: (Double, Double) => Int = {
    val ck = new CahillKeyes(10000)
    (lam, phi) => ck.regionKey(lam, phi)
  }

  /** Cahill-Keyes: the 12-zone transform places octants itself; the
   * unfolding tree only carries the corner triangles. */
  lazy val cahillKeyes: Engine = {
    val data = truncatedOctahedronFaces(
      math.cos(17 * D2R), math.sin(17 * D2R), CahillKeyesParents)
    val ck = new CahillKeyes(10000)
    new Engine(data.faces, data.faces.map(computedCentroid), data.parents,
      Array(0.0, 0.0, 0.0), angleDeg = 0,
      _ => new RawProjector((lam, phi) => {
        val p = ck.forward(lam, phi)
        (p._1, -p._2)
      }),
      Some(truncatedFaceFinder(data.cornerNormals)))
  }
}
