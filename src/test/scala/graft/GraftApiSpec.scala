package graft

import org.apache.spark.sql.functions._

/** A reference user's pipeline expressed through the [[Graft]] facade:
 * read → join → clip → dissolve → project → export. */
class GraftApiSpec extends SparkSuite {

  import spark.implicits._

  private def rect(x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] =
    Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1)

  test("end-to-end pipeline through the command facade") {
    // -i (geojson twin of a shapefile); the steps after it build their own
    // inputs, so they still run where the reference fixture is absent
    val neShp = "ne/ne_110m_admin_0_scale_rank.shp"
    if (ReferenceFixture.present(neShp)) {
      val ne = Graft.readShapefilePolygons(ReferenceFixture.path(neShp))
      assert(ne.numShapes > 100)
    } else info(s"reference fixture ${ReferenceFixture.path(neShp)} not present; read step skipped")

    // -join attribute
    val t = Seq((1, "a"), (2, "b")).toDF("id", "name")
    val s = Seq((1, 10.0)).toDF("key", "v")
    val joined = Graft.join(t, s, "id", "key").joined
    assert(joined.count() == 2)

    // point→polygon join + -clip layer + -dissolve2 through the facade
    val pts = Seq((1L, 2.0, 2.0), (2L, 50.0, 50.0)).toDF("id", "x", "y")
    val layer = graft.tables.Synthetic.oracleLayer
    val pipJoined = Graft.pointPolygonJoin(spark, pts, "x", "y", layer)
    assert(pipJoined.columns.contains("poly_key"))

    val targets = Seq((1L, rect(0, 0, 10, 10)), (2L, rect(20, 0, 30, 10))).toDF("key", "ring")
    val clips = Seq((9L, rect(5, -5, 25, 15))).toDF("key", "ring")
    val clipped = Graft.clipLayer(spark, targets, clips)
      .select("t_key", "area").as[(Long, Double)].collect().toMap
    assert(math.abs(clipped(1L) - 50.0) < 1e-9 && math.abs(clipped(2L) - 50.0) < 1e-9)

    val dissolved = Graft.dissolve2(Seq(Seq(rect(0, 0, 10, 10)), Seq(rect(5, 0, 15, 10))))
    assert(math.abs(graft.geom.Overlay.layerArea(dissolved) - 150.0) < 1e-9)

    // -proj + -o
    val projected = Graft.project(pts.withColumn("lon", $"x" - 100).withColumn("lat", $"y"),
      "lon", "lat", Graft.utm(13))
    assert(projected.select("xy").head().getSeq[Double](0).length == 2)

    val (shp, _) = Graft.writeShapefile(Seq(dissolved))
    assert(shp.length > 100)
    val svg = Graft.writeSvg(Seq((dissolved, """fill="none"""")))
    assert(svg.contains("<path"))
  }

  test("point joins through the facade: knn and radiusJoin, on both paths") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 1.0, 0.0), (3L, 0.0, 2.0), (4L, 5.0, 5.0)).toDF("id", "x", "y")
    // under the default threshold (KD-tree) and with driver paths off (shuffle)
    for (threshold <- Seq("10485760", "-1")) withBroadcastThreshold(threshold) {
      val knn = Graft.knn(spark, pts, "id", "x", "y", 1)
        .as[(Long, Int, Long, Double)].collect().sortBy(_._1).toSeq
      assert(knn == Seq((1L, 1, 2L, 1.0), (2L, 1, 1L, 1.0), (3L, 1, 1L, 4.0), (4L, 1, 3L, 34.0)),
        s"threshold $threshold: $knn")
      val pairs = Graft.radiusJoin(spark, pts, "id", "x", "y", 2.0)
        .as[(Long, Long, Double)].collect().sorted.toSeq
      assert(pairs == Seq((1L, 2L, 1.0), (1L, 3L, 4.0)), s"threshold $threshold: $pairs")
    }
  }

  test("round-3 surface through the facade: proj strings, spherical simplify, grids, svg round-trip") {
    // -proj robinson via the string front-end + densified reprojection
    val robin = Graft.projection("robinson")
    val projected = Graft.projectPath(Array(-60.0, 20.0, 60.0, 70.0), robin, 10000.0)
    assert(projected.length >= 4)

    // -proj albersusa +PR routes Puerto Rico into its inset
    val usa = Graft.projection("albersusa +PR")
    assert(!usa.forward(-66.1, 18.4)._1.isInfinity)

    // spherical -simplify with keep-shapes over a lon/lat ring table
    val ringDf = Seq((1L, rect(10, 50, 11, 51).toSeq)).toDF("id", "ring")
    val simp = Graft.simplifySpherical(spark, ringDf, "ring", pct = 0.5)
    assert(simp.select("n_after").head().getLong(0) >= 4)

    // -grid type=rhombus + -subdivide expression + -graticule
    assert(Graft.rhombusGrid(spark, 0, 0, 20, 20, 4.0).count() > 0)
    val pts = (0 until 300).map(i => (i.toLong, (i % 17).toDouble, (i % 13).toDouble))
      .toDF("id", "x", "y")
    val sub = Graft.subdivide(spark, pts, "x", "y", st => st.count > 80)
    assert(sub.select("leaf_id").distinct().count() == 4) // 300 -> 150 -> 75x4
    assert(graft.operators.Grids.graticule(spark, 30).count() == 12 + 7)

    // -dots evenness through the facade
    val dots = Graft.dots(Seq(rect(0, 0, 50, 50)), 50, evenness = 1.0, seed = 2L)
    assert(dots.length == 100)

    // SVG export -> IMPORT round trip through the facade
    val svg = Graft.writeSvg(Seq((Seq(rect(0, 0, 10, 10)), """fill="red"""")))
    val feats = Graft.readSvg(svg)
    assert(feats.length == 1 && feats.head.attrs("fill") == "red")
  }

  test("round-4 facade surface: rules, weighted fill, clip, KML, audio/video") {
    import spark.implicits._
    def rect(x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] =
      Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1)

    // -dissolve2 overlap_rule through the facade
    val byRule = Graft.dissolve2ByGroup(
      Seq(Seq(rect(0, 0, 10, 10)), Seq(rect(5, 0, 15, 8))), Seq(1L, 2L), "max-area")
    assert(math.abs(graft.geom.Overlay.layerArea(byRule(1L)) - 100.0) < 1e-9)

    // -data-fill weighted
    val filled = Graft.dataFillWeighted(spark,
      Seq((1L, "a"), (2L, null)).toDF("id", "value"),
      Seq((1L, 2L, 3.0)).toDF("a", "b", "w"))
    assert(filled.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "a")))

    // -cluster group_by= and -snap
    val cg = Graft.clusterGrouped(
      Seq((1L, 0.0, 0.0, "g"), (2L, 1.0, 0.0, "g"), (3L, 0.5, 0.0, "h")), k = 2)
    assert(cg(1L) == cg(2L) && cg(1L) != cg(3L))
    val iv = Graft.snapInterval(100.0)
    assert(Graft.snap(50.0 + iv / 4, iv) == 50.0)

    // pre-projection clip (ortho circle) through the facade
    val clipped = Graft.preProjectionClip(
      Seq((1L, Seq(30.0, 15.0, -150.0, -15.0))).toDF("pid", "path"),
      "pid", "path", graft.geom.Crs.Orthographic(15.0, 30.0))
    assert(clipped.count() >= 1)

    // KML/KMZ export
    val layer = graft.index.PolygonLayer.fromShapes(Seq(1L -> Seq(rect(0, 0, 5, 5))))
    val kmz = Graft.writeKmz(Graft.writeKmlPolygons(layer))
    assert(graft.sources.KmlIO.readPolygons(graft.sources.KmlIO.kmlFromKmz(kmz)).numShapes == 1)

    // audio + video stages
    val a = graft.tables.Audio.row(1L)
    val af = Graft.audioFeatures(spark, Seq((a.audio_id, a.bytes)).toDF("audio_id", "bytes"))
    assert(af.select("n_samples").head().getInt(0) == a.n_samples)
    val v = graft.tables.Video.row(1L)
    val vf = Graft.videoFrameSamples(spark,
      Seq((v.video_id, v.bytes)).toDF("video_id", "bytes"), stride = 2)
    assert(vf.count() == (0 until v.n_frames by 2).length)
  }
}
