package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{Geom, Simplify}
import graft.tables.{SplitMix64, Synthetic}

class GeomSpec extends AnyFunSuite {

  // -------------------------------------------------------------- ray / PIP

  /** Brute-force reference PIP: standard half-open crossing rule (valid for
   * points whose x never equals a vertex x — guaranteed by the generators). */
  def bruteForcePip(x: Double, y: Double, xx: Array[Double], yy: Array[Double]): Boolean = {
    var in = false
    var i = 0
    while (i < xx.length - 1) {
      if ((xx(i) > x) != (xx(i + 1) > x)) {
        val yInt = yy(i) + (x - xx(i)) * (yy(i + 1) - yy(i)) / (xx(i + 1) - xx(i))
        if (yInt > y) in = !in
      }
      i += 1
    }
    in
  }

  test("pointInRing matches brute force on random blobs and points") {
    val rng = new SplitMix64(123)
    for (_ <- 0 until 50) {
      val ring = Synthetic.blobRing(50 + rng.nextDouble() * 10, 50 + rng.nextDouble() * 10,
        20 + rng.nextDouble() * 10, 8 + rng.nextInt(8), rng)
      val n = ring.length / 2
      val xx = Array.tabulate(n)(i => ring(i * 2))
      val yy = Array.tabulate(n)(i => ring(i * 2 + 1))
      for (_ <- 0 until 200) {
        val px = rng.nextDouble() * 100
        val py = rng.nextDouble() * 100
        val got = Geom.pointInRing(px, py, xx, yy, 0, n)
        val want = bruteForcePip(px, py, xx, yy)
        assert((got == Geom.IN) == want, s"($px,$py) got=$got want=$want")
      }
    }
  }

  test("point exactly on horizontal segment is boundary") {
    // square with a bottom edge y=0 from (0,0) to (4,0)
    val xx = Array(0.0, 4.0, 4.0, 0.0, 0.0)
    val yy = Array(0.0, 0.0, 4.0, 4.0, 0.0)
    assert(Geom.pointInRing(2.0, 0.0, xx, yy, 0, 5) == Geom.ON)
    assert(Geom.pointInRing(0.0, 2.0, xx, yy, 0, 5) == Geom.ON) // on vertical edge
    assert(Geom.pointInRing(2.0, 2.0, xx, yy, 0, 5) == Geom.IN)
    assert(Geom.pointInRing(5.0, 2.0, xx, yy, 0, 5) == Geom.OUT)
    assert(Geom.pointInRing(0.0, 0.0, xx, yy, 0, 5) == Geom.ON) // corner
  }

  test("vertex-aligned ray counts crossings exactly once (diamond apex)") {
    // diamond: ray from directly below the bottom vertex passes through 2 edges' shared vertex
    val xx = Array(0.0, 2.0, 0.0, -2.0, 0.0)
    val yy = Array(-2.0, 0.0, 2.0, 0.0, -2.0)
    assert(Geom.pointInRing(0.0, -3.0, xx, yy, 0, 5) == Geom.OUT) // below apex: even crossings
    assert(Geom.pointInRing(0.0, 0.0, xx, yy, 0, 5) == Geom.IN)   // center
  }

  test("even-odd hole semantics") {
    val outer = (Array(0.0, 10.0, 10.0, 0.0, 0.0), Array(0.0, 0.0, 10.0, 10.0, 0.0))
    val hole = (Array(3.0, 7.0, 7.0, 3.0, 3.0), Array(3.0, 3.0, 7.0, 7.0, 3.0))
    def shapeContains(x: Double, y: Double): Boolean =
      Geom.combineRings(Iterator(
        Geom.pointInRing(x, y, outer._1, outer._2, 0, 5),
        Geom.pointInRing(x, y, hole._1, hole._2, 0, 5)))
    assert(shapeContains(1.0, 1.0))     // in outer, not hole
    assert(!shapeContains(5.0, 5.0))    // inside hole -> out
    assert(shapeContains(3.0, 5.0))     // on hole boundary counts as enclosed
    assert(!shapeContains(11.0, 5.0))   // outside
  }

  // ----------------------------------------------------------- area / misc

  test("signed area and centroid of unit square") {
    val xx = Array(0.0, 1.0, 1.0, 0.0, 0.0)
    val yy = Array(0.0, 0.0, 1.0, 1.0, 0.0)
    assert(Geom.signedRingArea(xx, yy, 0, 5) == 1.0)
    val (cx, cy) = Geom.ringCentroid(xx, yy, 0, 5)
    assert(math.abs(cx - 0.5) < 1e-12 && math.abs(cy - 0.5) < 1e-12)
    assert(math.abs(Geom.pathLength(xx, yy, 0, 5) - 4.0) < 1e-12)
  }

  test("orient2d robust on degenerate collinear input") {
    assert(Geom.orient2d(0, 0, 1, 1, 2, 2) == 0)
    assert(Geom.orient2d(0, 0, 1, 1, 2, 2.0000000001) > 0)
    assert(Geom.orient2d(0, 0, 1, 1, 2, 1.9999999999) < 0)
    // near-degenerate: tiny offsets that double arithmetic alone misjudges
    val tiny = 1e-18
    assert(Geom.orient2d(0.5, 0.5, 12.0, 12.0, 24.0, 24.0 + tiny) >= 0)
  }

  test("segmentsIntersect basic cases") {
    assert(Geom.segmentsIntersect(0, 0, 2, 2, 0, 2, 2, 0))   // X cross
    assert(!Geom.segmentsIntersect(0, 0, 1, 1, 2, 2, 3, 3))  // disjoint collinear
    assert(Geom.segmentsIntersect(0, 0, 2, 0, 1, 0, 3, 0))   // overlapping collinear
    assert(Geom.segmentsIntersect(0, 0, 2, 0, 2, 0, 3, 5))   // shared endpoint
  }

  test("snap interval is power-of-two scaled and idempotent") {
    val iv = Geom.snapInterval(100.0)
    assert(iv == math.pow(2, 7) / math.pow(2, 51)) // 2^ceil(log2 100) = 128
    val v = 33.333333333333
    val s1 = Geom.snap(v, iv)
    assert(Geom.snap(s1, iv) == s1)
  }

  // ------------------------------------------------------------- simplify

  test("Visvalingam thresholds: endpoints infinite, monotone removal order") {
    val rng = new SplitMix64(99)
    val n = 50
    val xx = Array.tabulate(n)(i => i.toDouble + rng.nextDouble() * 0.5)
    val yy = Array.tabulate(n)(_ => rng.nextDouble() * 10)
    val kk = Simplify.thresholds(xx, yy, Simplify.Visvalingam)
    assert(kk(0).isPosInfinity && kk(n - 1).isPosInfinity)
    // filtering at any interval keeps endpoints and yields decreasing counts
    val counts = Seq(0.0, 0.5, 1.0, 2.0, 1e9).map { iv =>
      val (fx, _) = Geom.unzipRing(Simplify.filter(Geom.zipRing(xx, yy), kk, iv, keepShapes = false))
      assert(fx.head == xx.head && fx.last == xx.last)
      fx.length
    }
    assert(counts == counts.sorted.reverse)
    assert(counts.last == 2)
  }

  test("Visvalingam removes the straightest vertex first") {
    // one almost-collinear vertex (1, 0.001) vs a sharp one (2, 5)
    val xx = Array(0.0, 1.0, 2.0, 3.0)
    val yy = Array(0.0, 0.001, 5.0, 0.0)
    val kk = Simplify.visvalingam(xx, yy, Simplify.standardMetric)
    assert(kk(1) < kk(2))
  }

  test("Douglas-Peucker keeps extreme vertex longest") {
    val xx = Array(0.0, 1.0, 2.0, 3.0, 4.0)
    val yy = Array(0.0, 0.1, 3.0, 0.1, 0.0)
    val kk = Simplify.thresholds(xx, yy, Simplify.DouglasPeucker)
    assert(kk(2) > kk(1) && kk(2) > kk(3))
  }

  test("spherical measures: hemisphere-band area and equatorial length") {
    import graft.geom.Geom
    // equatorial band ring: lat in [-30, 30], full longitude sweep — exact
    // area = 2*pi*R^2 * (sin 30 - sin -30) = 2*pi*R^2 (zone area theorem).
    val steps = 720
    val lons = new Array[Double](steps * 2 + 3)
    val lats = new Array[Double](steps * 2 + 3)
    var k = 0
    def push(lon: Double, lat: Double): Unit = { lons(k) = lon; lats(k) = lat; k += 1 }
    (0 to steps).foreach(i => push(-180.0 + 360.0 * i / steps, 30.0))
    (0 to steps).foreach(i => push(180.0 - 360.0 * i / steps, -30.0))
    push(-180.0, 30.0)
    val r = 6378137.0
    val a = math.abs(Geom.sphericalRingArea(lons, lats, 0, k, r))
    val want = 2.0 * math.Pi * r * r // sin(30) - sin(-30) = 1
    assert(math.abs(a / want - 1.0) < 1e-6, s"$a vs $want")

    // one degree of longitude along the equator = R * pi/180 meters
    val dLen = Geom.sphericalPathLength(Array(0.0, 1.0), Array(0.0, 0.0), 0, 2)
    assert(math.abs(dLen - 6371008.8 * math.Pi / 180.0) < 1e-3)
  }

  // ------------------------------------------------------- closed flat rings

  /** A closed flat ring of `n` >= `min` points, the last repeating the first
   * (one point for n = 1), of any doubles — NaN and infinities included. */
  private def closedRing(min: Int): org.scalacheck.Gen[Array[Double]] = {
    import org.scalacheck.{Arbitrary, Gen}
    for {
      n <- Gen.choose(min, 12)
      mid <- Gen.listOfN(2 * math.max(n - 2, 0), Arbitrary.arbitrary[Double])
      x0 <- Arbitrary.arbitrary[Double]
      y0 <- Arbitrary.arbitrary[Double]
    } yield (if (n == 1) Seq(x0, y0) else (x0 +: y0 +: mid) ++ Seq(x0, y0)).toArray
  }

  private def holds(p: org.scalacheck.Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  private def bits(a: Array[Double], b: Array[Double]): Boolean = java.util.Arrays.equals(a, b)

  test("zipRing inverts unzipRing and reverseRing is an involution (1- and 2-point rings too)") {
    holds(org.scalacheck.Prop.forAll(closedRing(1)) { r =>
      val (xs, ys) = Geom.unzipRing(r)
      xs.length == r.length / 2 && bits(Geom.zipRing(xs, ys), r) &&
        bits(Geom.reverseRing(Geom.reverseRing(r)), r)
    })
  }

  test("ringArea is signedRingArea over hand-split arrays, bit for bit") {
    holds(org.scalacheck.Prop.forAll(closedRing(1)) { r =>
      val n = r.length / 2
      val xs = Array.tabulate(n)(i => r(i * 2))
      val ys = Array.tabulate(n)(i => r(i * 2 + 1))
      java.lang.Double.doubleToLongBits(Geom.ringArea(r)) ==
        java.lang.Double.doubleToLongBits(Geom.signedRingArea(xs, ys, 0, n))
    })
  }

  test("PolygonLayer.ring returns the rings fromShapes was given") {
    import org.scalacheck.Gen
    val shapes = Gen.listOf(Gen.choose(1, 3).flatMap(k => Gen.listOfN(k, closedRing(4))))
    holds(org.scalacheck.Prop.forAll(shapes) { ss =>
      val in = ss.zipWithIndex.map { case (rings, k) => (k.toLong, rings) }
      val layer = graft.index.PolygonLayer.fromShapes(in)
      val rings = ss.flatten
      layer.numRings == rings.length &&
        rings.indices.forall(r => bits(layer.ring(r), rings(r)))
    })
  }
}
