package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.Geom
import graft.sources.GeoJsonIO
import graft.tables.Synthetic

class GeoJsonSpec extends AnyFunSuite {

  private def readRef(rel: String): String =
    Files.readString(Paths.get(s"/root/reference/test/data/$rel"))

  test("round-trip: layer -> GeoJSON -> layer preserves geometry") {
    val layer = Synthetic.polygonLayer(6, seed = 3L, holeEvery = 3)
    val back = GeoJsonIO.fromGeoJson(GeoJsonIO.toGeoJson(layer))
    assert(back.numShapes == layer.numShapes)
    assert(back.numRings == layer.numRings)
    assert(back.xx.toSeq == layer.xx.toSeq)
    assert(back.yy.toSeq == layer.yy.toSeq)
    assert(back.shapeKeys.toSeq == layer.shapeKeys.toSeq)
  }

  test("reads the reference dissolve2 fixture (GeometryCollection with holes)") {
    val layer = GeoJsonIO.fromGeoJson(readRef("features/dissolve2/ex1.json"))
    assert(layer.numShapes == 2)
    assert(layer.numRings == 4) // two polygons, each with a hole
    // shape 0: 3x3 square with 1x1 hole -> area 8
    assert(math.abs(math.abs(layer.shapeArea(0)) - 8.0) < 1e-9)
    // point in the hole of shape 0 is not enclosed; point in the solid part is
    assert(!layer.findShapes(1.5, 1.5).contains(0))
    assert(layer.findShapes(0.5, 0.5).contains(0))
  }

  test("reads the reference clip fixtures and PIP behaves per even-odd rule") {
    val outer = GeoJsonIO.fromGeoJson(readRef("features/clip/ex1_outer.json"))
    assert(outer.numShapes >= 1)
    val (x0, y0, x1, y1) = outer.extent
    // centroid-ish probe: some point of the bbox grid must be inside
    val probes = for {
      i <- 1 until 10; j <- 1 until 10
    } yield (x0 + (x1 - x0) * i / 10.0, y0 + (y1 - y0) * j / 10.0)
    assert(probes.exists { case (x, y) => outer.findShapes(x, y).nonEmpty })
  }

  test("vertex order and winding survive export (holes stay reversed)") {
    val outerRing = Array(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 4.0, 0.0, 0.0)
    val hole = Geom.reverseRing(Array(1.0, 1.0, 2.0, 1.0, 2.0, 2.0, 1.0, 2.0, 1.0, 1.0))
    val layer = graft.index.PolygonLayer.fromShapes(Seq((7L, Seq(outerRing, hole))))
    val back = GeoJsonIO.fromGeoJson(GeoJsonIO.toGeoJson(layer))
    assert(back.shapeKeys.toSeq == Seq(7L))
    assert(math.abs(back.shapeArea(0) - 15.0) < 1e-9)
    assert(Geom.signedRingArea(back.xx, back.yy, back.ringStart(1),
      back.ringStart(2) - back.ringStart(1)) < 0) // hole winding preserved
  }
}
