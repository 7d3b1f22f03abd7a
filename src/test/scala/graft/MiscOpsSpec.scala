package graft

import org.apache.spark.sql.functions._

import graft.geom.Overlay
import graft.operators.{Grids, SimplifyOp}
import graft.tables.{SplitMix64, Synthetic}

class MiscOpsSpec extends SparkSuite {

  import spark.implicits._

  private def rect(x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] =
    Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1)

  test("inlay: coverage area = base ∪ inlay") {
    val base = Seq(Seq(rect(0, 0, 10, 10)))
    val in = Seq(Seq(rect(8, 8, 12, 12)))
    val out = Overlay.inlay(base, in)
    assert(math.abs(Overlay.layerArea(out) - (100.0 + 16.0 - 4.0)) < 1e-9)
  }

  test("variable simplify: weight 0 keeps all vertices, weight 1 simplifies") {
    val rng = new SplitMix64(4)
    val rings = (0 until 8).map { i =>
      (i.toLong, if (i < 4) 0.0 else 1.0, Synthetic.blobRing(50, 50, 20, 64, rng))
    }.toDF("ring_id", "w", "ring")
    val out = SimplifyOp.simplifyVariable(spark, rings, "ring", "w", pct = 0.3)
      .select("ring_id", "w", "n_before", "n_after")
      .as[(Long, Double, Long, Long)].collect()
    out.filter(_._2 == 0.0).foreach { case (_, _, b, a) => assert(a == b) }
    out.filter(_._2 == 1.0).foreach { case (_, _, b, a) => assert(a < b) }
  }

  test("filterSlivers drops small rings only") {
    val rings = Seq(
      (1L, rect(0, 0, 10, 10)),   // area 100
      (2L, rect(0, 0, 0.1, 0.1)), // area 0.01
      (3L, rect(0, 0, 2, 2)))     // area 4
      .toDF("id", "ring")
    val kept = SimplifyOp.filterSlivers(rings, "ring", 1.0)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("dotFill: all dots inside the shape (with hole), deterministic") {
    val outer = rect(0, 0, 10, 10)
    val hole = graft.geom.Geom.reverseRing(rect(4, 4, 6, 6))
    val dots1 = Grids.dotFill(Seq(outer, hole), 200, seed = 7)
    val dots2 = Grids.dotFill(Seq(outer, hole), 200, seed = 7)
    assert(dots1.toSeq == dots2.toSeq)
    assert(dots1.length == 400)
    var i = 0
    while (i < dots1.length) {
      val x = dots1(i); val y = dots1(i + 1)
      assert(x >= 0 && x <= 10 && y >= 0 && y <= 10)
      assert(!(x > 4 && x < 6 && y > 4 && y < 6), s"dot in hole: ($x,$y)")
      i += 2
    }
  }

  test("stitch merges polygon pieces cut at the antimeridian") {
    import graft.operators.Stitch
    // rectangle [170, 190] x [-10, 10] cut into east [170,180] + west [-180,-170]
    val east = rect(170, -10, 180, 10)
    val west = rect(-180, -10, -170, 10)
    val out = Stitch.antimeridian(Seq(east, west))
    assert(out.size == 1)
    assert(math.abs(math.abs(Overlay.layerArea(out)) - 400.0) < 1e-9)
    // a polygon NOT touching the meridian is untouched
    val inner = rect(0, 0, 10, 10)
    val out2 = Stitch.antimeridian(Seq(inner))
    assert(out2.size == 1 && math.abs(math.abs(Overlay.layerArea(out2)) - 100.0) < 1e-9)
  }

  test("split by expression produces per-value layers") {
    import graft.operators.Split
    val df = Seq((1, "a"), (2, "b"), (3, "a"), (4, "c")).toDF("id", "k")
    val layers = Split.toLayers(df, col("k"))
    assert(layers.keySet == Set("a", "b", "c"))
    assert(layers("a").select("id").as[Int].collect().sorted.toSeq == Seq(1, 3))
    assert(layers("c").count() == 1)
  }
}
