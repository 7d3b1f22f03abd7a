package perfbench

import graft.cell.CellIndex
import graft.geom.Geom
import graft.index.PolygonLayer
import graft.operators.Tiling
import graft.tables.{Images, SplitMix64}

/** Single-thread microbenchmarks of the per-row kernels, and the brute-force
 * point-in-polygon reference the tile check uses. */
object Probe {

  /** Seeded tile centres: the footprint of a random logical image, one of its
   * 4x4 tiles each (the same geometry as the tile assignment). */
  def tileCentres(seed: Long, n: Int): (Array[Double], Array[Double]) = {
    val rng = new SplitMix64(seed)
    val side = Tiling.FootprintSide
    val xs = new Array[Double](n); val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val ph = rng.nextLong() & ((1L << 52) - 1)
      val t = rng.nextInt(16)
      xs(i) = Images.lonOf(ph) - side / 2 + (t % 4 + 0.5) * (side / 4)
      ys(i) = Images.latOf(ph) - side / 2 + (t / 4 + 0.5) * (side / 4)
      i += 1
    }
    (xs, ys)
  }

  /** Millions of calls per second of `f` over the sample, repeated for at
   * least `minSec`; the second value is a checksum that keeps the calls live. */
  private def rate(n: Int, minSec: Double)(f: Int => Long): (Double, Long) = {
    var sum = 0L
    var calls = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minSec) {
      var i = 0
      while (i < n) { sum += f(i); i += 1 }
      calls += n
      el = (System.nanoTime() - t0) / 1e9
    }
    (calls / el / 1e6, sum)
  }

  /** The per-layer kernel figures of a traced run; records their spans
   * whatever tracer state the workload's last call left. */
  def kernels(tracer: Tracer, layer: PolygonLayer, seed: Long, minSec: Double): Map[String, Double] = {
    tracer.enable()
    val n = 50000
    val (xs, ys) = tileCentres(seed, n)
    // one untimed pass builds the lazy grid index and warms the JIT
    rate(n, 0.0)(i => layer.findFirstKey(xs(i), ys(i)) + layer.findKeys(xs(i), ys(i)).length)
    val (first, _) = tracer.span("PolygonLayer.findFirstKey")(rate(n, minSec)(i => layer.findFirstKey(xs(i), ys(i))))
    val (all, _) = tracer.span("PolygonLayer.findKeys")(rate(n, minSec)(i => layer.findKeys(xs(i), ys(i)).length.toLong))
    var keys = 0L
    var i = 0
    while (i < n) { keys += layer.findKeys(xs(i), ys(i)).length; i += 1 }
    val (enc, _) = tracer.span("CellIndex.cellId")(rate(n, minSec)(i => CellIndex.cellId(xs(i), ys(i), 9)))
    Map(
      "index.pip_first_mprobe_s" -> first,
      "index.pip_all_mprobe_s" -> all,
      "index.keys_per_probe" -> keys.toDouble / n,
      "cell.encode_mops" -> enc)
  }

  /** Key of the lowest-index shape enclosing (x, y), or -1, by an even-odd
   * test over every ring of the layer: no grid, no tree. */
  def bruteFirstKey(layer: PolygonLayer, x: Double, y: Double): Long = {
    val in = new Array[Boolean](layer.numShapes)
    val on = new Array[Boolean](layer.numShapes)
    var r = 0
    while (r < layer.numRings) {
      val s = layer.ringShape(r)
      layer.pointInRing(x, y, r) match {
        case Geom.ON => on(s) = true
        case Geom.IN => in(s) = !in(s)
        case _ =>
      }
      r += 1
    }
    var s = 0
    while (s < layer.numShapes) {
      if (in(s) || on(s)) return layer.shapeKeys(s)
      s += 1
    }
    -1L
  }
}
