package graft

import org.apache.spark.sql.functions._

import graft.operators.{CheckGeometry, FilterIslands2, Lines, Scalebar, Shapes, SvgStyle, Symbols}

class LinesFurnitureSpec extends SparkSuite {

  import spark.implicits._

  private def rect(x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] =
    Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1)

  // ------------------------------------------------------------- -lines

  test("-lines: 2x1 square pair classifies outer / field-boundary / inner") {
    // two unit squares sharing edge x=1; g differs -> shared edge is a g-boundary
    val polys = Seq(
      (1L, "a", rect(0, 0, 1, 1)),
      (2L, "b", rect(1, 0, 2, 1))).toDF("key", "g", "ring")
    val out = Lines.polygonsToLines(polys, "key", "ring", Seq("g"))
      .collect().map(r => ((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)),
        (r.getString(4), r.getLong(5))))
      .toMap
    assert(out.size == 7) // 4+4 edges - 1 shared
    assert(out((1.0, 0.0, 1.0, 1.0)) == ("g", 1L))
    assert(out((0.0, 0.0, 0.0, 1.0)) == ("outer", 0L))
    assert(out.count(_._2._1 == "outer") == 6)
  }

  test("-lines: same field value -> shared edge is inner") {
    val polys = Seq(
      (1L, "a", rect(0, 0, 1, 1)),
      (2L, "a", rect(1, 0, 2, 1))).toDF("key", "g", "ring")
    val out = Lines.polygonsToLines(polys, "key", "ring", Seq("g")).collect()
    val shared = out.filter(r => r.getDouble(0) == 1.0 && r.getDouble(2) == 1.0)
    assert(shared.length == 1 && shared.head.getString(4) == "inner"
      && shared.head.getLong(5) == 2L)
    // key_a / key_b carried in order
    assert(shared.head.getLong(6) == 1L && shared.head.getLong(7) == 2L)
  }

  test("-lines chain assembly: contiguous same-key edges merge, junctions split") {
    // three unit squares in a row, same g: each square's outer edges form one
    // chain (3 edges for the end squares, 2 for the middle); each shared
    // (inner) edge is its own single-edge chain (distinct key pairs)
    val polys = Seq(
      (1L, "a", rect(0, 0, 1, 1)),
      (2L, "a", rect(1, 0, 2, 1)),
      (3L, "a", rect(2, 0, 3, 1))).toDF("key", "g", "ring")
    val classified = Lines.polygonsToLines(polys, "key", "ring", Seq("g"))
    val chains = Lines.assembleChains(spark, classified)
      .select("type", "key_a", "n_edges")
      .as[(String, Long, Long)].collect()
    val inner = chains.filter(_._1 == "inner")
    assert(inner.length == 2 && inner.forall(_._3 == 1))
    val outer = chains.filter(_._1 == "outer")
    // outer edges: square1 left+top+bottom (one 3-edge chain), square2
    // top+bottom (two 1-edge chains: they never touch within the group),
    // square3 right+top+bottom (one 3-edge chain)
    assert(outer.map(_._3).sorted.toSeq == Seq(1L, 1L, 3L, 3L), outer.mkString(","))
  }

  test("-lines points->line assembles in order; groups are independent") {
    val pts = Seq((1L, 0), (3L, 0), (2L, 0), (10L, 1), (11L, 1))
      .toDF("id", "g")
      .withColumn("x", col("id").cast("double"))
      .withColumn("y", col("id").cast("double") * 2)
    val out = Lines.pointsToLines(pts, "g", "id", "x", "y")
      .orderBy("group").as[(Int, Seq[Double], Long)].collect()
    assert(out(0)._2 == Seq(1.0, 2.0, 2.0, 4.0, 3.0, 6.0) && out(0)._3 == 3)
    assert(out(1)._2 == Seq(10.0, 20.0, 11.0, 22.0) && out(1)._3 == 2)
  }

  test("-lines callouts: horizontal segments of width/50") {
    val pts = Seq((1L, 0.0, 5.0), (2L, 100.0, 7.0)).toDF("id", "x", "y")
    val out = Lines.callouts(pts, "x", "y").orderBy("id")
      .select("cx1", "cy1", "cx2", "cy2").as[(Double, Double, Double, Double)].collect()
    assert(out(0) == (0.0, 5.0, 2.0, 5.0)) // width 100 / 50 = 2
    assert(out(1) == (100.0, 7.0, 102.0, 7.0))
  }

  test("-lines segments mode explodes each ring edge with its index") {
    val polys = Seq((1L, rect(0, 0, 1, 1))).toDF("key", "ring")
    val segs = Lines.segments(polys, "ring", Seq("key"))
    assert(segs.count() == 4)
    assert(segs.agg(sum("seg")).head().getLong(0) == 6) // 0+1+2+3
  }

  // ----------------------------------------------------- -check-geometry

  test("-check-geometry finds the planted crossing and nothing else") {
    val segs = Seq(
      (1L, 0.0, 0.0, 10.0, 10.0),  // crosses seg 2
      (2L, 0.0, 10.0, 10.0, 0.0),
      (3L, 20.0, 0.0, 30.0, 0.0),  // disjoint
      (4L, 30.0, 0.0, 40.0, 5.0))  // shares an endpoint with 3 -> excluded
      .toDF("sid", "x1", "y1", "x2", "y2")
    val pairs = CheckGeometry.intersectingPairs(segs, "sid", cellSize = 4.0)
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    assert(CheckGeometry.intersectionCount(segs, "sid", 100.0) == 1)
  }

  test("-check-geometry supercover walk matches brute force on diagonal fans") {
    // long near-diagonal segments at a small cellSize: bbox cover would emit
    // O((len/cell)^2) candidates; the column walk stays linear AND complete
    val rng = new graft.tables.SplitMix64(5)
    val segs = (1 to 40).map { i =>
      (i.toLong, rng.nextDouble() * 20, rng.nextDouble() * 20,
        rng.nextDouble() * 20 + 30, rng.nextDouble() * 20 + 28)
    }.toDF("sid", "x1", "y1", "x2", "y2")
    val got = CheckGeometry.intersectingPairs(segs, "sid", cellSize = 0.5)
      .as[(Long, Long)].collect().toSet
    val rows = segs.as[(Long, Double, Double, Double, Double)].collect()
    def orient(ax: Double, ay: Double, bx: Double, by: Double, px: Double, py: Double) =
      (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    val brute = (for {
      a <- rows; b <- rows if a._1 < b._1
      shares = (a._2, a._3) == (b._2, b._3) || (a._2, a._3) == (b._4, b._5) ||
        (a._4, a._5) == (b._2, b._3) || (a._4, a._5) == (b._4, b._5)
      o1 = orient(a._2, a._3, a._4, a._5, b._2, b._3)
      o2 = orient(a._2, a._3, a._4, a._5, b._4, b._5)
      o3 = orient(b._2, b._3, b._4, b._5, a._2, a._3)
      o4 = orient(b._2, b._3, b._4, b._5, a._4, a._5)
      if !shares && o1 * o2 <= 0 && o3 * o4 <= 0 &&
        math.min(a._2, a._4) <= math.max(b._2, b._4) &&
        math.min(b._2, b._4) <= math.max(a._2, a._4) &&
        math.min(a._3, a._5) <= math.max(b._3, b._5) &&
        math.min(b._3, b._5) <= math.max(a._3, a._5) &&
        !(o1 == 0 && o2 == 0)
    } yield (a._1, b._1)).toSet
    assert(got == brute && brute.nonEmpty)
  }

  test("-check-geometry: cell partitioning does not double-count straddling pairs") {
    // long segments spanning many cells at cellSize=1
    val segs = Seq(
      (1L, 0.0, 0.5, 50.0, 0.5),
      (2L, 25.0, -10.0, 25.0, 10.0)).toDF("sid", "x1", "y1", "x2", "y2")
    assert(CheckGeometry.intersectionCount(segs, "sid", 1.0) == 1)
  }

  // --------------------------------------------------- -filter-islands2

  test("-filter-islands2 removes small islands, keeps shared-border rings and donuts") {
    val rings = Seq(
      // big standalone island (kept: fails the area criterion)
      (1L, 10L, rect(0, 0, 10, 10)),
      // small island (removed)
      (2L, 11L, rect(20, 0, 21, 1)),
      // small island with a hole inside (kept: ringHasHoles)
      (3L, 12L, rect(30, 0, 32, 2)),
      (4L, 12L, rect(30.5, 0.5, 31.5, 1.5).reverse), // hole (reversed -> negative)
      // small ring sharing an edge with a neighbor (kept: not an island)
      (5L, 13L, rect(40, 0, 41, 1)),
      (6L, 14L, rect(41, 0, 42, 1)),
      // small island whose hole's first vertex (52, 1) lies ON its right
      // edge (kept: boundary counts as enclosed, as in Geom.combineRings)
      (7L, 15L, rect(50, 0, 52, 2)),
      (8L, 15L, Array(52.0, 1.0, 51.0, 0.5, 51.0, 1.5, 52.0, 1.0)))
      .toDF("rid", "key", "ring")
    // hole ring must be negative-area: reverse of flat array is not a valid
    // ring reversal, build it properly
    val fixed = rings.withColumn("ring",
      when(col("rid") === 4L, typedLit(Array(30.5, 0.5, 30.5, 1.5, 31.5, 1.5, 31.5, 0.5, 30.5, 0.5).toSeq))
        .otherwise(col("ring")))
    val out = FilterIslands2(fixed, "rid", "key", "ring", minArea = 5.0)
      .select("rid").as[Long].collect().toSet
    assert(out == Set(1L, 3L, 4L, 5L, 6L, 7L, 8L))
  }

  test("-filter-islands2 min-vertices criterion") {
    val rings = Seq(
      (1L, 1L, rect(0, 0, 1, 1)), // 4 vertices -> removed at minVertices=6
      (2L, 2L, Shapes.circle(5, 5, 1, vertices = 12))) // 12 vertices -> kept
      .toDF("rid", "key", "ring")
    val out = FilterIslands2(rings, "rid", "key", "ring", minVertices = 6)
      .select("rid").as[Long].collect().toSet
    assert(out == Set(2L))
  }

  // ------------------------------------------------------- -shape family

  test("-shape rectangle densifies sides at the 0.5 interval and closes") {
    val r = Shapes.rectangle(0, 0, 2, 1)
    // sides: 2 verts/unit: left 2 pts (h=1 -> 2 segs), top 4, right 2, bottom 4 = 12 + close
    assert(r.length == 2 * 13)
    assert(r(0) == 0.0 && r(1) == 0.0)
    assert(r(r.length - 2) == 0.0 && r(r.length - 1) == 0.0)
    val area = {
      val n = r.length / 2
      val xs = Array.tabulate(n)(i => r(i * 2)); val ys = Array.tabulate(n)(i => r(i * 2 + 1))
      graft.geom.Geom.signedRingArea(xs, ys, 0, n)
    }
    assert(math.abs(math.abs(area) - 2.0) < 1e-12)
  }

  test("-shape circle: first vertex due north, area converges to pi r^2") {
    val c = Shapes.circle(10, 20, 2, vertices = 360)
    assert(math.abs(c(0) - 10.0) < 1e-12 && math.abs(c(1) - 22.0) < 1e-12)
    val n = c.length / 2
    val xs = Array.tabulate(n)(i => c(i * 2)); val ys = Array.tabulate(n)(i => c(i * 2 + 1))
    val area = math.abs(graft.geom.Geom.signedRingArea(xs, ys, 0, n))
    assert(math.abs(area - math.Pi * 4) < 0.001)
  }

  test("-add-shape coordinate inference: point / ring / open path") {
    assert(Shapes.inferGeometry(Array(1, 2)) == "Point")
    assert(Shapes.inferGeometry(Array(0, 0, 1, 0, 1, 1, 0, 0)) == "Polygon")
    assert(Shapes.inferGeometry(Array(0, 0, 1, 0, 1, 1)) == "LineString")
    val (flat, poly) = Shapes.fromCoords(Array(0, 0, 4, 0), offsets = Array(0, 3), closed = true)
    assert(poly && flat.length == 8 && flat(4) == 4.0 && flat(5) == 3.0)
  }

  test("-frame: percentage and pixel offsets, aspect fill-out, derived height") {
    val pts = Seq((0.0, 0.0), (100.0, 50.0)).toDF("x", "y")
    val f0 = Shapes.frame(pts, "x", "y", widthPx = 800)
    assert(f0.heightPx == 400.0) // 800 / (100/50)
    // 10% offset on all sides: post-offset frame w2 = 100/(1-0.2) = 125
    val f1 = Shapes.frameOfBbox(0, 0, 100, 50, 800, 0, (0.1, 0.1, 0.1, 0.1), (0, 0, 0, 0))
    assert(math.abs((f1.xmax - f1.xmin) - 125.0) < 1e-9)
    // both px dims: fill out to the pixel aspect (expand-only)
    val f2 = Shapes.frameOfBbox(0, 0, 100, 50, 800, 800, (0, 0, 0, 0), (0, 0, 0, 0))
    assert(math.abs((f2.ymax - f2.ymin) - 100.0) < 1e-9) // heightened to square
    assert(math.abs(f2.ymin - (-25.0)) < 1e-9)
    // pixel offsets at scale: width 100 over (800-40-40)px -> scale 0.1388..
    val f3 = Shapes.frameOfBbox(0, 0, 100, 50, 800, 0, (0, 0, 0, 0), (40, 0, 40, 0))
    val scale = 100.0 / (800.0 - 80.0)
    assert(math.abs(f3.xmin - (-40 * scale)) < 1e-12)
  }

  // ---------------------------------------------------------- -scalebar

  test("scalebar label parsing: fractions, commas, units") {
    assert(Scalebar.labelToKm("1/8 MILE") == 0.125 * 1.60934)
    assert(Scalebar.labelToKm("1,000 KM") == 1000.0)
    assert(Scalebar.labelToKm("5 miles") == 5 * 1.60934)
    assert(Scalebar.labelToKm("5 furlongs").isNaN)
    assert(Scalebar.parseUnits("10 kilometers") == "km")
  }

  test("scalebar auto label picks the first ladder entry wider than 70px") {
    // metersPerPx = 100 -> minKm = 7; first mile option with km > 7 is "5 MILES" (8.05km)
    assert(Scalebar.autoLabel(800, 100.0) == "5 MILES")
    // tiny map scale -> fractional miles
    assert(Scalebar.autoLabel(800, 2.0) == "1/8 MILE") // minKm=0.14, 1/8mi=0.201
  }

  test("scalebar render: length, position, style-b tics") {
    val bar = Scalebar.render(800, 600, metersPerPx = 100.0, label = "10 KM",
      style = "b", position = "bottom-right")
    assert(bar.lengthPx == 100) // 10km / 100 m/px * 1000
    assert(bar.dx == 800 - 100 - 12)
    assert(bar.coords.head.length == 4) // ticked path
    val plain = Scalebar.render(800, 600, metersPerPx = 100.0, label = "10 KM")
    assert(plain.coords == Seq(Seq((0.0, 0.0), (100.0, 0.0))))
  }

  // ----------------------------------------------------------- -symbols

  test("symbols: n-gon vertex count, radius, orientation") {
    val sq = Symbols.polygonCoords("square", 2.0)
    assert(sq.length == 10)
    // even sides start at half-step: first vertex at 45 deg
    assert(math.abs(sq(0) - 2 * math.sin(math.Pi / 4)) < 1e-12)
    val tri = Symbols.polygonCoords("triangle", 1.0)
    assert(math.abs(tri(0)) < 1e-12 && math.abs(tri(1) - 1.0) < 1e-12) // odd: starts north
    val circle = Symbols.polygonCoords("circle", 1.0)
    assert(circle.length == (72 + 1) * 2)
  }

  test("symbols: star minor radius matches the tangent construction for 5 points") {
    // 5-point star: skip=1, pointAngle=36, innerAngle=72
    val m = Symbols.minorRadius(5)
    val thetaA = math.Pi / 180 * 36
    val thetaB = math.Pi / 180 * 18
    val a = math.tan(thetaB) / (math.tan(thetaB) + math.tan(thetaA))
    assert(math.abs(m - a / math.cos(thetaA)) < 1e-15)
    val star = Symbols.starCoords(5, 1.0)
    assert(star.length == 22)
  }

  test("symbols geographic: per-point scale and shift, no shuffle") {
    val pts = Seq((1L, 100.0, 200.0), (2L, 300.0, 400.0)).toDF("id", "x", "y")
    val tmpl = Symbols.polygonCoords("square", 1.0)
    val out = Symbols.geographic(pts, "x", "y", tmpl, metersPerPx = 10.0)
    val rows = out.orderBy("id").select("symbol").as[Seq[Double]].collect()
    assert(math.abs(rows(0).head - (tmpl(0) * 10 + 100)) < 1e-12)
    assert(math.abs(rows(1)(1) - (tmpl(1) * 10 + 400)) < 1e-12)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("symbols: ring radii list -> solid center + annuli with holes") {
    def area(flat: Array[Double]): Double = {
      val n = flat.length / 2
      val xs = Array.tabulate(n)(i => flat(i * 2)); val ys = Array.tabulate(n)(i => flat(i * 2 + 1))
      graft.geom.Geom.signedRingArea(xs, ys, 0, n)
    }
    // odd count: solid disc r=1, then annulus 2..3
    val rings = Symbols.ringCoords(Seq(1.0, 2.0, 3.0))
    assert(rings.length == 2)
    assert(rings(0).length == 1 && math.abs(math.abs(area(rings(0).head)) - math.Pi) < 0.02)
    assert(rings(1).length == 2)
    val net = area(rings(1)(0)) + area(rings(1)(1)) // hole is reversed -> cancels
    assert(math.abs(math.abs(net) - math.Pi * (9 - 4)) < 0.1, s"net=$net")
    // even count: single annulus
    val ann = Symbols.ringCoords(Seq(2.0, 4.0))
    assert(ann.length == 1 && ann.head.length == 2)
  }

  test("symbols: straight arrow polygon tips at stem+head") {
    val a = Symbols.arrowCoords(stemLen = 10, stemWidth = 2, headLen = 5, headWidth = 6)
    assert(a(6) == 0.0 && a(7) == 15.0) // tip
    val east = Symbols.arrowCoords(10, 2, 5, 6, direction = 90)
    assert(math.abs(east(6) - 15.0) < 1e-12 && math.abs(east(7)) < 1e-12)
  }

  test("symbols: arrow sizing defaults and stick arrow strokes") {
    // default head width = 3x stem; head length from the 40-degree ratio
    val (sw, hw, hl) = Symbols.arrowSize()
    assert(sw == 2.0 && hw == 6.0)
    assert(math.abs(hl - hw * Symbols.headSizeRatio(40)) < 1e-12)
    // explicit head length derives width
    val (_, hw2, hl2) = Symbols.arrowSize(headLen = 5.0)
    assert(math.abs(hw2 - 5.0 / Symbols.headSizeRatio(40)) < 1e-12 && hl2 == 5.0)
    // head narrower than stem rejected
    intercept[IllegalArgumentException] { Symbols.arrowSize(stemWidth = 4, headWidth = 3) }
    // stick arrow: stem + 2-stroke head; east rotation maps north to +x
    val parts = Symbols.stickArrowCoords(10, 4, 6, direction = 90)
    assert(parts.length == 2)
    assert(math.abs(parts(0)(2) - 10.0) < 1e-12 && math.abs(parts(0)(3)) < 1e-12)
    assert(math.abs(parts(1)(2) - 10.0) < 1e-12) // head apex at the tip
  }

  // --------------------------------------------------------- -svg-style

  test("svg-style sets columns; where= leaves excluded rows null") {
    val df = Seq((1L, 10.0), (2L, 30.0)).toDF("id", "v")
    val out = SvgStyle(df,
      Map("fill" -> lit("red"), "stroke-width" -> col("v") / 10.0),
      where = Some(col("v") > 20))
    val rows = out.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(0).isNullAt(3))
    assert(rows(1).getString(2) == "red" && rows(1).getDouble(3) == 3.0)
    intercept[IllegalArgumentException] {
      SvgStyle(df, Map("bogus" -> lit(1)))
    }
  }
}
