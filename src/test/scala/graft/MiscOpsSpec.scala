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

  test("simplify edge cases: weights, pct >= 1, exactPct, keep-shapes, short rings, world edges") {
    import graft.geom.{Geom, Simplify}
    def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)
    // the retention rule written out: threshold >= cut; with keep-shapes a
    // closed ring of >= 4 vertices keeping < 4 restores its top interior
    // thresholds (ties -> lower index)
    def expected(flat: Seq[Double], thr: Seq[Double], cut: Double, keepShapes: Boolean): Seq[Double] = {
      val n = thr.length
      val keep = Array.tabulate(n)(i => thr(i) >= cut)
      val closed = n >= 4 && flat(0) == flat(2 * n - 2) && flat(1) == flat(2 * n - 1)
      if (keepShapes && closed && keep.count(identity) < 4)
        (1 until n - 1).sortBy(j => (-thr(j), j)).filterNot(keep(_))
          .take(4 - keep.count(identity)).foreach(keep(_) = true)
      (0 until n).filter(keep(_)).flatMap(i => Seq(flat(2 * i), flat(2 * i + 1)))
    }
    def clamp(w: Double) = math.max(0.0, math.min(1.0, w))

    // planar: a closed blob, an open path and rings of 0, 1 and 2 vertices,
    // each under null, NaN, out-of-range and in-range weights
    val rng = new SplitMix64(21)
    val shapes = Seq(
      Synthetic.blobRing(50, 50, 20, 40, rng).toSeq,
      (0 until 30).flatMap(i => Seq(i.toDouble, rng.nextDouble() * 5)),
      Seq.empty[Double], Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0, 4.0))
    val weights = Seq(None, Some(Double.NaN), Some(-0.5), Some(0.0), Some(0.5), Some(1.0), Some(2.0))
    val planar = (for ((w, wi) <- weights.zipWithIndex; (r, ri) <- shapes.zipWithIndex)
      yield ((wi * 10 + ri).toLong, w, r)).toDF("id", "w", "ring")
    val byId = planar.as[(Long, Option[Double], Seq[Double])].collect()
      .map { case (id, w, r) => id -> (w, r) }.toMap
    def kernel(r: Seq[Double], m: Simplify.Method): Seq[Double] = {
      val (xx, yy) = Geom.unzipRing(r.toArray)
      Simplify.thresholds(xx, yy, m).toSeq
    }
    for (m <- Seq(Simplify.Visvalingam, Simplify.WeightedVisvalingam, Simplify.DouglasPeucker)) {
      SimplifyOp.withThresholds(planar, "ring", m).select("id", "thresholds")
        .as[(Long, Seq[Double])].collect().foreach { case (id, thr) =>
          assert(bits(thr) == bits(kernel(byId(id)._2, m)), s"$m thresholds of ring $id")
        }
    }
    val interior = byId.values.toSeq.flatMap { case (_, r) =>
      kernel(r, Simplify.WeightedVisvalingam).filter(z => !z.isNaN && !z.isPosInfinity) }.sorted
    for (pct <- Seq(0.3, 1.0, 1.5); exactPct <- Seq(false, true)) {
      val out = SimplifyOp.simplify(spark, planar, "ring", pct, exactPct = exactPct)
        .select("id", "simplified", "n_before", "n_after", "interval")
        .as[(Long, Seq[Double], Long, Long, Double)].collect()
      val interval = out.head._5
      assert(out.forall(_._5 == interval))
      if (pct >= 1.0) assert(interval == 0.0 && out.forall(o => o._4 == o._3), s"pct $pct")
      else if (exactPct) {
        val k = math.min(interior.length - 1, math.floor((1.0 - pct) * interior.length).toInt)
        assert(bits(Seq(interval)) == bits(Seq(interior(k))), s"exact interval at pct $pct")
      }
      out.foreach { case (id, simplified, nBefore, nAfter, _) =>
        val r = byId(id)._2
        val want = expected(r, kernel(r, Simplify.WeightedVisvalingam), interval, keepShapes = false)
        assert(bits(simplified) == bits(want), s"ring $id at pct $pct")
        assert(nBefore == r.length / 2 && nAfter == want.length / 2)
      }
      if (exactPct) {
        // variable: the same global interval, scaled per ring by clamp(w)
        val variable = SimplifyOp.simplifyVariable(spark, planar, "ring", "w", pct, exactPct = true)
        assert(!variable.columns.contains("interval"))
        variable.select("id", "simplified", "n_after").collect().foreach { row =>
          val id = row.getLong(0)
          val (w, r) = byId(id)
          w match {
            case None => assert(row.isNullAt(1) && row.isNullAt(2), s"null weight, ring $id")
            case Some(wv) =>
              val want = expected(r, kernel(r, Simplify.WeightedVisvalingam),
                interval * clamp(wv), keepShapes = false)
              assert(bits(row.getSeq[Double](1)) == bits(want), s"weight $wv, ring $id")
              if (wv.isNaN) assert(want.isEmpty)
              if (wv <= 0.0) assert(want == r)
          }
        }
      }
    }

    // spherical: a tiny closed square and a tiny open path (both collapse to
    // their 2 endpoints at a coarse interval), a large ring that sets the
    // interval, a ring with vertices on the ±180 / ±90 frame, short rings
    val square = Seq(0.0, 0.0, 0.001, 0.0, 0.001, 0.001, 0.0, 0.001, 0.0, 0.0)
    val openPath = Seq(5.0, 5.0, 5.001, 5.0, 5.001, 5.001, 5.0, 5.001, 5.0005, 5.0002)
    val big = (0 to 40).flatMap { i =>
      val a = 2 * math.Pi * (i % 40) / 40.0
      Seq(20.0 + 10.0 * math.cos(a), 20.0 + 10.0 * math.sin(a))
    }
    val edge = Seq(170.0, 80.0, 180.0, 84.0, 178.0, 86.0, 175.0, 90.0, 160.0, 85.0, 165.0, 82.0,
      170.0, 80.0)
    val sphShapes = Seq(square, openPath, big, edge, Seq.empty[Double], Seq(1.0, 2.0),
      Seq(-180.0, 0.0, 180.0, -90.0))
    val sph = sphShapes.zipWithIndex.map { case (r, i) => (i.toLong, r) }.toDF("id", "ring")
    def sphKernel(r: Seq[Double]): Seq[Double] = {
      val (lon, lat) = Geom.unzipRing(r.toArray)
      Simplify.protectWorldEdges(lon, lat,
        Simplify.sphericalThresholds(lon, lat, Simplify.WeightedVisvalingam)).toSeq
    }
    SimplifyOp.withSphericalThresholds(sph, "ring", Simplify.WeightedVisvalingam)
      .select("id", "thresholds").as[(Long, Seq[Double])].collect().foreach { case (id, thr) =>
        assert(bits(thr) == bits(sphKernel(sphShapes(id.toInt))), s"spherical thresholds of ring $id")
      }
    val edgeThr = sphKernel(edge)
    val edgeMax = edgeThr.filter(_ < Double.PositiveInfinity).max
    assert(Seq(1, 3).forall(edgeThr(_) == edgeMax), s"world-edge vertices not locked: $edgeThr")
    for (keepShapes <- Seq(true, false)) {
      val out = SimplifyOp.simplifySpherical(spark, sph, "ring", pct = 0.05, keepShapes = keepShapes)
        .select("id", "simplified", "n_after", "interval")
        .as[(Long, Seq[Double], Long, Double)].collect().sortBy(_._1)
      val interval = out.head._4
      out.foreach { case (id, simplified, nAfter, _) =>
        val r = sphShapes(id.toInt)
        val want = expected(r, sphKernel(r), interval, keepShapes)
        assert(bits(simplified) == bits(want), s"spherical ring $id, keepShapes $keepShapes")
        assert(nAfter == want.length / 2)
      }
      assert(out(0)._3 == (if (keepShapes) 4 else 2), "closed square under keep-shapes")
      assert(out(1)._3 == 2, "an open path is never restored")
      Seq(4, 5, 6).foreach(i => assert(out(i)._3 == sphShapes(i).length / 2, s"short ring $i"))
    }
  }

  test("simplify passes a null ring through: null thresholds, null simplified") {
    import graft.geom.Simplify
    val rings = Seq((1L, Some(rect(0, 0, 10, 10).toSeq), 1.0), (2L, None, 1.0))
      .toDF("id", "ring", "w")
    val thr = SimplifyOp.withThresholds(rings, "ring", Simplify.WeightedVisvalingam)
      .select("id", "thresholds").collect().sortBy(_.getLong(0))
    assert(!thr(0).isNullAt(1) && thr(1).isNullAt(1), thr.toSeq)
    Seq(
      "simplify" -> SimplifyOp.simplify(spark, rings, "ring", pct = 0.5),
      "simplifyVariable" -> SimplifyOp.simplifyVariable(spark, rings, "ring", "w", pct = 0.5),
      "simplifySpherical" -> SimplifyOp.simplifySpherical(spark, rings, "ring", pct = 0.5)
    ).foreach { case (op, df) =>
      val out = df.collect().sortBy(_.getAs[Long]("id"))
      assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L), op)
      assert(out(0).getSeq[Double](out(0).fieldIndex("simplified")).nonEmpty, op)
      val nullRing = out(1)
      assert(Seq("ring", "simplified", "n_before", "n_after").forall(c =>
        nullRing.isNullAt(nullRing.fieldIndex(c))), s"$op: $nullRing")
      assert(nullRing.getAs[Double]("w") == 1.0, s"$op: $nullRing")
      if (df.columns.contains("interval"))
        assert(nullRing.getAs[Double]("interval") == out(0).getAs[Double]("interval"), op)
    }
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
