package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.{Geom, Overlay, RectClip}

/**
 * Golden parity against the reference's OWN test expectations: the inputs
 * and expected outputs below are transcribed from mapshaper's mocha suites
 * (`/root/reference/test/dissolve2-test.mjs:44-140`,
 * `clip-erase-test.mjs:107-128`) — the authoritative statement of the
 * intended overlay semantics. Geometry comparison is rotation- and
 * orientation-invariant (rings are cycles; both engines may start/wind
 * differently without being wrong).
 */
class ReferenceParitySpec extends AnyFunSuite {

  private def ring(pts: (Double, Double)*): Array[Double] =
    pts.flatMap { case (x, y) => Seq(x, y) }.toArray

  /** Canonical form of a ring: open vertex multiset + unsigned area. */
  private def canon(r: Array[Double]): (Set[(Double, Double)], Double) = {
    val n0 = r.length / 2
    val n = if (n0 >= 2 && r(0) == r(r.length - 2) && r(1) == r(r.length - 1)) n0 - 1 else n0
    val verts = (0 until n).map(i => (r(i * 2), r(i * 2 + 1))).toSet
    val xs = Array.tabulate(n0)(i => r(i * 2))
    val ys = Array.tabulate(n0)(i => r(i * 2 + 1))
    (verts, math.abs(Geom.signedRingArea(xs, ys, 0, n0)))
  }

  private def assertRingsMatch(got: Seq[Array[Double]], want: Seq[Array[Double]]): Unit = {
    assert(got.size == want.size, s"ring count: got ${got.size}, want ${want.size}")
    val gc = got.map(canon).toSet
    val wc = want.map(canon).toSet
    assert(gc == wc, s"rings differ:\n got  ${gc.map(_._2)}\n want ${wc.map(_._2)}")
  }

  // reference dissolve2-test "dissolves cw ring inside another cw ring"
  test("dissolve2: cw ring inside another cw ring collapses to the outer") {
    val outer = ring((0, 0), (0, 3), (3, 3), (3, 0), (0, 0))
    val inner = ring((1, 1), (1, 2), (2, 2), (2, 1), (1, 1))
    val out = Overlay.dissolve2(Seq(Seq(outer), Seq(inner)))
    assertRingsMatch(out, Seq(outer))
  }

  // reference dissolve2-test "dissolving single polygon preserves hole"
  test("dissolve2: single polygon's hole is preserved") {
    val outer = ring((0, 0), (0, 3), (3, 3), (3, 0), (0, 0))
    val hole = ring((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))
    val out = Overlay.dissolve2(Seq(Seq(outer, hole)))
    assertRingsMatch(out, Seq(outer, hole))
  }

  // reference dissolve2-test "gap-fill-area removes hole" (1.1 > hole area 1)
  test("dissolve2: gap-fill-area above the hole area removes it") {
    val outer = ring((0, 100), (0, 103), (3, 103), (3, 100), (0, 100))
    val hole = ring((1, 101), (2, 101), (2, 102), (1, 102), (1, 101))
    val out = Overlay.dissolve2GapFill(Seq(Seq(outer, hole)), gapFillArea = 1.1)
    assertRingsMatch(out, Seq(outer))
  }

  // reference dissolve2-test "gap-fill-area=<smaller area> retains hole"
  test("dissolve2: gap-fill-area below the hole area retains it") {
    val outer = ring((0, 100), (0, 103), (3, 103), (3, 100), (0, 100))
    val hole = ring((1, 101), (2, 101), (2, 102), (1, 102), (1, 101))
    val out = Overlay.dissolve2GapFill(Seq(Seq(outer, hole)), gapFillArea = 0.9)
    assertRingsMatch(out, Seq(outer, hole))
  }

  // reference dissolve2-test "donut and hole dissolve cleanly"
  test("dissolve2: donut plus hole-filling square dissolve to a solid square") {
    val outer = ring((0, 0), (0, 3), (3, 3), (3, 0), (0, 0))
    val hole = ring((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))
    // the filler is rotated relative to the containing hole in the fixture
    val filler = ring((1, 2), (2, 2), (2, 1), (1, 1), (1, 2))
    val out = Overlay.dissolve2(Seq(Seq(outer, hole), Seq(filler)))
    assertRingsMatch(out, Seq(outer))
  }

  // reference simplify-test "-simplify planar 0% removes all removable
  // vertices": [[0,0],[0,1],[0.1,1.1],[0,1.2],[0,2]] -> [[0,0],[0,2]]
  test("simplify 0%: every removable vertex drops, endpoints survive") {
    val xx = Array(0.0, 0.0, 0.1, 0.0, 0.0)
    val yy = Array(0.0, 1.0, 1.1, 1.2, 2.0)
    val kk = graft.geom.Simplify.thresholds(xx, yy, graft.geom.Simplify.WeightedVisvalingam)
    val (sx, sy) = Geom.unzipRing(
      graft.geom.Simplify.filter(Geom.zipRing(xx, yy), kk, Double.PositiveInfinity, keepShapes = false))
    assert(sx.toSeq == Seq(0.0, 0.0) && sy.toSeq == Seq(0.0, 2.0),
      s"${sx.toSeq} / ${sy.toSeq}")
  }

  // reference simplify-test "-simplify target=a 5%":
  // [[0,0],[0,1],[1,1]] -> [[0,0],[1,1]]
  test("simplify 5% of a 3-point elbow keeps only the endpoints") {
    val xx = Array(0.0, 0.0, 1.0)
    val yy = Array(0.0, 1.0, 1.0)
    val kk = graft.geom.Simplify.thresholds(xx, yy, graft.geom.Simplify.WeightedVisvalingam)
    val (sx, sy) = Geom.unzipRing(
      graft.geom.Simplify.filter(Geom.zipRing(xx, yy), kk, Double.PositiveInfinity, keepShapes = false))
    assert(sx.toSeq == Seq(0.0, 1.0) && sy.toSeq == Seq(0.0, 1.0))
  }

  // reference dissolve2-test "Fix: dissolving preserves simplification":
  // simplify planar interval=0.5 then dissolve2 of the wiggly square
  // -> [[0,0],[0,2],[2,2],[2,0],[0,0]]
  test("simplify interval=0.5 then dissolve2 yields the reference square") {
    val flat = ring((0, 0), (0, 1), (0.1, 1.1), (0, 1.2), (0, 2), (2, 2), (2, 0), (0, 0))
    val (xx, yy) = Geom.unzipRing(flat)
    val kk = graft.geom.Simplify.thresholds(xx, yy, graft.geom.Simplify.WeightedVisvalingam)
    val simplified = graft.geom.Simplify.filter(flat, kk, 0.5, keepShapes = false)
    val out = Overlay.dissolve2(Seq(Seq(simplified)))
    assertRingsMatch(out, Seq(ring((0, 0), (0, 2), (2, 2), (2, 0), (0, 0))))
  }

  // reference clip-erase-test "Clip a polyline layer with a bbox":
  // [[0,1],[5,1]] clipped to bbox 1,0,2,2 -> [[1,1],[2,1]]
  test("clip bbox: polyline fragment matches the reference expectation") {
    val bboxRing = ring((1, 0), (2, 0), (2, 2), (1, 2), (1, 0))
    val pieces = graft.operators.Buffer
      .divideLine(Array(0.0, 1.0, 5.0, 1.0), Seq(bboxRing))
      .filter(_._2) // keep inside
    assert(pieces.size == 1, s"want one inside fragment, got ${pieces.size}")
    assert(pieces.head._1.toSeq == Seq(1.0, 1.0, 2.0, 1.0), pieces.head._1.toSeq.toString)
  }

  // reference lines-test.mjs:374-398 (`polygonsToLines` on the 2x2 quad grid
  // `lyrb`, foo: a,a,b,b / bar: 1,1,2,3): one-field expectation is
  // [inner x2 @RANK2, foo x2 @RANK1, outer x4 @RANK0]; two-field is
  // [inner x1 @RANK3, bar x1 @RANK2, foo x2 @RANK1, outer x4 @RANK0].
  // Our model emits classified edges; assembled chains correspond 1:1 to the
  // reference's merged arc-lines on this fixture.
  test("-lines classification matches the reference's 2x2 grid expectations") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    def sq(x0: Double, y0: Double): Array[Double] =
      Array(x0, y0, x0 + 1, y0, x0 + 1, y0 + 1, x0, y0 + 1, x0, y0)
    val polys = Seq(
      (1L, "a", 1L, sq(0, 1)), // tl
      (2L, "a", 1L, sq(1, 1)), // tr
      (3L, "b", 2L, sq(0, 0)), // bl
      (4L, "b", 3L, sq(1, 0))) // br
      .toDF("key", "foo", "bar", "ring")

    def histogram(fields: Seq[String]): Map[(String, Long), Long] =
      graft.operators.Lines.assembleChains(spark,
        graft.operators.Lines.polygonsToLines(polys, "key", "ring", fields))
        .groupBy("type", "rank").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap

    assert(histogram(Seq("foo")) ==
      Map(("inner", 2L) -> 2L, ("foo", 1L) -> 2L, ("outer", 0L) -> 4L))
    assert(histogram(Seq("foo", "bar")) ==
      Map(("inner", 3L) -> 1L, ("bar", 2L) -> 1L, ("foo", 1L) -> 2L, ("outer", 0L) -> 4L))
  }

  // reference affine-test.mjs:51-77 — rotate-about-anchor and scale cases
  test("-affine rotate/scale parameterization matches the reference's cases") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    // rotate=90 anchor=2,1: (2,2) -> (3,1)
    val (a1, b1, c1, d1, tx1, ty1) = graft.operators.Points.affineParams(90, 1, 0, 0, 2, 1)
    val r1 = graft.operators.Points.affine(
      Seq((2.0, 2.0)).toDF("x", "y"), "x", "y", a1, b1, c1, d1, tx1, ty1)
      .select("ax", "ay").head()
    assert(math.abs(r1.getDouble(0) - 3.0) < 1e-12 && math.abs(r1.getDouble(1) - 1.0) < 1e-12)
    // scale=2 about the bbox center (3,3): (2,2)->(1,1), (4,4)->(5,5)
    val (a2, b2, c2, d2, tx2, ty2) = graft.operators.Points.affineParams(0, 2, 0, 0, 3, 3)
    val r2 = graft.operators.Points.affine(
      Seq((2.0, 2.0), (4.0, 4.0)).toDF("x", "y"), "x", "y", a2, b2, c2, d2, tx2, ty2)
      .orderBy("x").select("ax", "ay").collect()
    assert(r2(0).getDouble(0) == 1.0 && r2(0).getDouble(1) == 1.0)
    assert(r2(1).getDouble(0) == 5.0 && r2(1).getDouble(1) == 5.0)
  }

  // reference smooth-test.mjs:68-110 — smoothing invariants (straight line
  // stays straight, open endpoints pinned, closed rings stay closed with
  // rounded corners), checked against our Chaikin kernel
  test("-smooth invariants match the reference's behavioral expectations") {
    import graft.geom.PathOps
    // straight line stays on y = 2x + 3
    val straight = (0 to 20).flatMap(i => Seq(i.toDouble, 2.0 * i + 3)).toArray
    val s1 = PathOps.smooth(straight, 0.25, 3)
    val dev = (0 until s1.length / 2)
      .map(j => math.abs(s1(j * 2 + 1) - (2 * s1(j * 2) + 3))).max
    assert(dev < 1e-9, s"deviation from line: $dev")
    // open endpoints pinned
    val wavy = (0 to 40).flatMap(i => Seq(i.toDouble, math.sin(i.toDouble))).toArray
    val s2 = PathOps.smooth(wavy, 0.25, 2)
    assert(s2(0) == 0.0 && s2(1) == math.sin(0.0))
    assert(s2(s2.length - 2) == 40.0 && s2(s2.length - 1) == math.sin(40.0))
    // closed square ring: stays closed, corners rounded inward
    val corners = Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0))
    val ring = corners.sliding(2).flatMap { case Seq((ax, ay), (bx, by)) =>
      (0 until 10).flatMap(k => Seq(ax + (bx - ax) * k / 10.0, ay + (by - ay) * k / 10.0))
    }.toArray ++ Array(0.0, 0.0)
    val s3 = PathOps.smooth(ring, 0.25, 2)
    val n = s3.length / 2
    assert(n >= 16)
    assert(s3(0) == s3(s3.length - 2) && s3(1) == s3(s3.length - 1), "ring must stay closed")
    val reaches = (0 until n).exists(i => s3(i * 2) > 9.9 && s3(i * 2 + 1) > 9.9)
    assert(!reaches, "expected corners rounded inward")
  }

  // reference uniq-test.mjs:8-42 — all four option behaviors on the
  // [a, b, a, a] fixture, transcribed verbatim (document order = row id)
  test("-uniq option behaviors match the reference's uniq-test fixture") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq((0L, "a"), (1L, "b"), (2L, "a"), (3L, "a")).toDF("id", "foo")
    def ids(out: org.apache.spark.sql.DataFrame): Seq[Long] =
      out.orderBy("id").select("id").as[Long].collect().toSeq
    // default: keep first of each key -> rows 0, 1
    assert(ids(graft.operators.Uniq(df, Seq("foo"), Seq(col("id")))) == Seq(0L, 1L))
    // max-count=2 -> rows 0, 1, 2
    assert(ids(graft.operators.Uniq(df, Seq("foo"), Seq(col("id")), maxCount = 2)) == Seq(0L, 1L, 2L))
    // index -> all rows kept, 1-based occurrence indexes [1, 1, 2, 3]
    val idx = graft.operators.Uniq(df, Seq("foo"), Seq(col("id")), index = true)
      .orderBy("id").select("index").as[Int].collect().toSeq
    assert(idx == Seq(1, 1, 2, 3))
    // invert -> the removed side: rows 2, 3
    assert(ids(graft.operators.Uniq(df, Seq("foo"), Seq(col("id")), invert = true)) == Seq(2L, 3L))
    // a pre-existing user column named `index` survives non-index mode...
    val withUser = df.withColumn("index", col("id") * 10)
    val kept = graft.operators.Uniq(withUser, Seq("foo"), Seq(col("id")))
      .orderBy("id").select("index").as[Long].collect().toSeq
    assert(kept == Seq(0L, 10L))
    // ...and is replaced by the occurrence index only when index=true
    val replaced = graft.operators.Uniq(withUser, Seq("foo"), Seq(col("id")), index = true)
      .orderBy("id").select("index").as[Int].collect().toSeq
    assert(replaced == Seq(1, 1, 2, 3))
  }

  // reference point-grid-test.mjs:57-110 — rows/cols margins + world default
  test("-point-grid rows/cols margins match the reference's expectations") {
    val spark = SparkTestBase.spark
    def pts(rows: Int, cols: Int, bbox: Option[(Double, Double, Double, Double)]): Seq[(Double, Double)] = {
      val df = bbox match {
        case Some((a, b, c, d)) => graft.operators.Grids.pointGridRowsCols(spark, rows, cols, a, b, c, d)
        case None => graft.operators.Grids.pointGridRowsCols(spark, rows, cols)
      }
      df.orderBy("gid").collect().map(r => (r.getDouble(3), r.getDouble(4))).toSeq
    }
    // bbox [0,0,2,4], rows=2 cols=1 -> (1,1),(1,3)
    assert(pts(2, 1, Some((0, 0, 2, 4))) == Seq((1.0, 1.0), (1.0, 3.0)))
    // default world bbox, rows=1 cols=2 -> (-90,0),(90,0)
    assert(pts(1, 2, None) == Seq((-90.0, 0.0), (90.0, 0.0)))
  }

  // reference points-test.mjs:186-190 — parseWKTPoint forms
  test("WKT point parsing matches the reference's parseWKTPoint cases") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val df = Seq(
      (1L, "POINT (10 20)"), (2L, "point(5 2)"),
      (3L, "POINT Z (1 2 3)"), (4L, "LINESTRING (0 0, 1 1)"))
      .toDF("id", "wkt")
    val out = graft.operators.Points.fromWkt(df, "wkt")
      .orderBy("id").select("x", "y").collect()
    assert(out(0).getDouble(0) == 10.0 && out(0).getDouble(1) == 20.0)
    assert(out(1).getDouble(0) == 5.0 && out(1).getDouble(1) == 2.0)
    assert(out(2).getDouble(0) == 1.0 && out(2).getDouble(1) == 2.0)
    assert(out(3).isNullAt(0) && out(3).isNullAt(1)) // non-POINT -> null
  }

  // reference visvalingam-test.mjs:10-54 — getArcCalculator threshold
  // expectations (raw area thresholds incl. the monotonicity clamp),
  // transcribed verbatim
  test("Visvalingam raw thresholds match the reference's path fixtures") {
    import graft.geom.Simplify
    def thr(xx: Array[Double], yy: Array[Double]): Seq[Double] =
      Simplify.visvalingam(xx, yy, Simplify.standardMetric).toSeq
    val inf = Double.PositiveInfinity
    // two-vertex path
    assert(thr(Array(0, 1), Array(0, 0)) == Seq(inf, inf))
    // three-vertex path
    assert(thr(Array(0, 1, 2), Array(0, 1, 0)) == Seq(inf, 1.0, inf))
    // four-vertex path w/ threshold update (clamp lifts the collinear 0 to 0.5)
    assert(thr(Array(0, 0, 1, 3), Array(0, 1, 0, 0)) == Seq(inf, 0.5, 0.5, inf))
    // five-vertex path w/ spike
    assert(thr(Array(0, 1, 1, 1, 2), Array(0, 0, 1, 0, 0)) == Seq(inf, 0, 0, 0, inf))
    // weightedMetric degenerate triangles are 0 (visvalingam-test.mjs:109-112)
    val wm = Simplify.weightedMetric(0.7)
    assert(wm(1, 1, 1, 1, 2, 3) == 0.0)
    assert(wm(1, 1, 2, 3, 1, 1) == 0.0)
    assert(wm(2, 3, 1, 1, 1, 1) == 0.0)
    assert(wm(1, 1, 1, 1, 1, 1) == 0.0)
  }

  // reference scalebar-test.mjs:13-35 — parseScalebarLabelToKm and
  // formatDistanceLabel expectations, transcribed verbatim
  test("scalebar label parsing/formatting matches the reference's own cases") {
    import graft.operators.Scalebar.{labelToKm, formatDistanceLabel}
    val toKm = 1.60934
    assert(labelToKm("1 mile") == toKm)
    assert(labelToKm("1 MILE") == toKm)
    assert(labelToKm("50 mi") == 50 * toKm)
    assert(labelToKm("1 / 2 MILE") == 1.0 / 2 * toKm)
    assert(labelToKm("1/2 MILE") == 1.0 / 2 * toKm)
    assert(labelToKm("0.5 MILE") == 0.5 * toKm)
    assert(labelToKm("1km") == 1.0)
    assert(labelToKm("5 k.m.") == 5.0)
    assert(labelToKm("1 kilometer") == 1.0)
    assert(labelToKm("5 kilometres") == 5.0)
    assert(labelToKm("5 kilomètres") == 5.0)
    assert(labelToKm("250 公里") == 250.0)
    assert(labelToKm("2英里") == 2 * toKm)
    assert(labelToKm("1,000 KILOMETERS") == 1000.0)
    assert(formatDistanceLabel("1,000", "mile") == "1,000 MILES")
    assert(formatDistanceLabel("1", "mile") == "1 MILE")
    assert(formatDistanceLabel("1.5", "mile") == "1.5 MILES")
    assert(formatDistanceLabel("1/8", "mile") == "1/8 MILE")
    assert(formatDistanceLabel("1/8", "km") == "1/8 KM")
  }

  // reference topojson-test "calcExportBounds()": all four sizing branches,
  // expectations transcribed from /root/reference/test/topojson-test.mjs:16-44
  test("topojson export grid sizing matches the reference's calcExportBounds") {
    import graft.sources.TopoJsonIO.exportGrid
    // "default uses 0.02 of avg. segment": two arcs, bounds (0,0,2,1) -> [50,50]
    val twoArcs = Seq(Array(0.0, 0.0, 2.0, 1.0), Array(0.0, 1.0, 2.0, 0.0))
    assert(exportGrid(twoArcs, 2.0, 1.0) == (50L, 50L))
    // "user-defined precision" (topojson_precision=0.1), one arc -> [10,10]
    val oneArc = Seq(Array(0.0, 0.0, 2.0, 1.0))
    assert(exportGrid(oneArc, 2.0, 1.0, topojsonPrecision = 0.1) == (10L, 10L))
    // "quantization option" (quantization=1000) -> [999,999]
    assert(exportGrid(oneArc, 2.0, 1.0, quantization = 1000) == (999L, 999L))
    // "precision option" (precision=0.1) -> [20,10]
    assert(exportGrid(oneArc, 2.0, 1.0, precision = 0.1) == (20L, 10L))
  }
}
