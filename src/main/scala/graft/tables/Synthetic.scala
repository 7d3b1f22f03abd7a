package graft.tables

import graft.geom.Geom
import graft.index.PolygonLayer

/** SplitMix64 — tiny deterministic PRNG for synthetic data (public algorithm). */
final class SplitMix64(seed0: Long) extends Serializable {
  private var state = seed0
  def nextLong(): Long = {
    state += 0x9e3779b97f4a7c15L
    var z = state
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  /** Uniform double in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
}

object SplitMix64 {
  /** Stateless hash of a long — usable inside Spark expressions for determinism. */
  def hash(v0: Long): Long = {
    var z = v0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/**
 * Deterministic synthetic geometry (seed-driven, no external data), in the
 * spirit of the reference's hand-made polygon fixtures
 * (`/root/reference/test/data/features/...`). Domain is planar [0,100)².
 */
object Synthetic {

  /** Star-convex "blob" ring around (cx, cy): nV vertices at varying radii, closed, CCW. */
  def blobRing(cx: Double, cy: Double, rBase: Double, nV: Int, rng: SplitMix64): Array[Double] = {
    val pts = new Array[Double]((nV + 1) * 2)
    var i = 0
    while (i < nV) {
      val ang = 2.0 * math.Pi * i / nV
      val r = rBase * (0.55 + 0.45 * rng.nextDouble())
      pts(i * 2) = cx + r * math.cos(ang)
      pts(i * 2 + 1) = cy + r * math.sin(ang)
      i += 1
    }
    pts(nV * 2) = pts(0)
    pts(nV * 2 + 1) = pts(1)
    pts
  }

  /**
   * Polygon layer of n blob shapes on a jittered grid covering [0,100)².
   * Shape keys are 0..n-1. Every `holeEvery`-th shape gets a centered hole
   * (even-odd semantics exercise).
   */
  def polygonLayer(n: Int, seed: Long = 42L, holeEvery: Int = 5): PolygonLayer = {
    val rng = new SplitMix64(seed)
    val side = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    val pitch = 100.0 / side
    val shapes = (0 until n).map { i =>
      val gx = (i % side + 0.5) * pitch + (rng.nextDouble() - 0.5) * pitch * 0.3
      val gy = (i / side + 0.5) * pitch + (rng.nextDouble() - 0.5) * pitch * 0.3
      val outer = blobRing(gx, gy, pitch * 0.52, 8 + rng.nextInt(5), rng)
      val rings =
        if (holeEvery > 0 && i % holeEvery == holeEvery - 1)
          Seq(outer, Geom.reverseRing(blobRing(gx, gy, pitch * 0.18, 6, rng)))
        else Seq(outer)
      (i.toLong, rings)
    }
    PolygonLayer.fromShapes(shapes)
  }

  /**
   * The FIXED oracle polygon layer: small enough to mirror verbatim into the
   * DuckDB oracle SQL as a VALUES edge list. 8 blob shapes, one with a hole.
   * Deterministic — both the Spark operator and the SQL literal derive from
   * this exact object.
   */
  lazy val oracleLayer: PolygonLayer = polygonLayer(8, seed = 7L, holeEvery = 8)

  /**
   * Edge list of a layer: (shapeKey, ringIdx, x1, y1, x2, y2) per segment, in
   * ring order. Used to emit SQL VALUES literals for the ray-cast oracle.
   */
  def edges(layer: PolygonLayer): Seq[(Long, Int, Double, Double, Double, Double)] = {
    val out = Seq.newBuilder[(Long, Int, Double, Double, Double, Double)]
    var r = 0
    while (r < layer.numRings) {
      val key = layer.shapeKeys(layer.ringShape(r))
      var i = layer.ringStart(r)
      while (i < layer.ringStart(r + 1) - 1) {
        out += ((key, r, layer.xx(i), layer.yy(i), layer.xx(i + 1), layer.yy(i + 1)))
        i += 1
      }
      r += 1
    }
    out.result()
  }

  /** SQL VALUES literal for the edge list. Coordinates are emitted in
   * scientific notation with 17 significant digits: E-notation makes DuckDB
   * parse them directly as DOUBLE (a plain decimal literal goes through
   * DECIMAL, whose cast to DOUBLE is off by 1 ulp for some values). */
  def edgesSqlValues(layer: PolygonLayer): String = {
    def d(v: Double): String = "%.16e".format(v)
    edges(layer).map { case (k, r, x1, y1, x2, y2) =>
      s"($k, $r, ${d(x1)}, ${d(y1)}, ${d(x2)}, ${d(y2)})"
    }.mkString(", ")
  }

  /** SQL VALUES literal of the OPEN ring vertex lists (closing duplicate
   * dropped): (shapeKey, ring, idx, x, y) — for oracle mirrors that need
   * ordered vertices (e.g. the Sutherland–Hodgman clip mirror). */
  def ringVertsSqlValues(layer: PolygonLayer): String = {
    def d(v: Double): String = "%.16e".format(v)
    val rows = for {
      r <- 0 until layer.numRings
      st = layer.ringStart(r)
      i <- st until (layer.ringStart(r + 1) - 1)
    } yield s"(${layer.shapeKeys(layer.ringShape(r))}, $r, ${i - st}, ${d(layer.xx(i))}, ${d(layer.yy(i))})"
    rows.mkString(", ")
  }
}
