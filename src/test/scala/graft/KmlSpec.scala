package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.KmlIO

class KmlSpec extends AnyFunSuite {

  test("reads point placemarks from the reference Albania KMZ fixture") {
    ReferenceFixture.assumePresent("kml/Albania.kmz")
    val kmz = Files.readAllBytes(Paths.get("/root/reference/test/data/kml/Albania.kmz"))
    val kml = KmlIO.kmlFromKmz(kmz)
    val pts = KmlIO.readPoints(kml)
    assert(pts.nonEmpty)
    // Albania is roughly lon 19..21, lat 39..43
    assert(pts.forall(p => p.lon > 15 && p.lon < 25 && p.lat > 35 && p.lat < 45),
      pts.take(3).toString)
    assert(pts.forall(_.name.nonEmpty))
  }

  test("reads polygon placemarks with holes") {
    val kml =
      """<?xml version="1.0"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2"><Document><Placemark>
        |  <name>sq</name>
        |  <Polygon>
        |    <outerBoundaryIs><LinearRing><coordinates>
        |      0,0 10,0 10,10 0,10 0,0
        |    </coordinates></LinearRing></outerBoundaryIs>
        |    <innerBoundaryIs><LinearRing><coordinates>
        |      4,4 6,4 6,6 4,6 4,4
        |    </coordinates></LinearRing></innerBoundaryIs>
        |  </Polygon>
        |</Placemark></Document></kml>""".stripMargin.getBytes("UTF-8")
    val layer = KmlIO.readPolygons(kml)
    assert(layer.numShapes == 1 && layer.numRings == 2)
    assert(layer.findShapes(1, 1).contains(0))
    assert(!layer.findShapes(5, 5).contains(0)) // in the hole
  }

  test("write -> read round-trip: points, and polygons with holes, plus KMZ") {
    val pts = Seq(KmlIO.KmlPoint("a & b", 1.25, -2.5), KmlIO.KmlPoint("<c>", 30.0, 40.0))
    assert(KmlIO.readPoints(KmlIO.writePoints(pts)) == pts)

    val layer = graft.index.PolygonLayer.fromShapes(Seq(
      7L -> Seq(
        Array(0.0, 0, 10, 0, 10, 10, 0, 10, 0, 0),  // outer
        Array(4.0, 4, 6, 4, 6, 6, 4, 6, 4, 4)),     // hole
      9L -> Seq(Array(20.0, 0, 25, 0, 25, 5, 20, 5, 20, 0))))
    val kml = new String(KmlIO.writePolygons(layer), "UTF-8")
    assert(kml.contains("outerBoundaryIs") && kml.contains("innerBoundaryIs"))
    val back = KmlIO.readPolygons(KmlIO.writePolygons(layer))
    assert(back.numShapes == 2 && back.numRings == 3)
    assert(back.findShapes(1, 1).nonEmpty)
    assert(back.findShapes(5, 5).isEmpty)   // hole preserved
    assert(back.findShapes(22, 2).nonEmpty) // second shape
    // KMZ wrap/unwrap
    val kmz = KmlIO.kmzFromKml(KmlIO.writePolygons(layer))
    assert(KmlIO.readPolygons(KmlIO.kmlFromKmz(kmz)).numRings == 3)
  }

  test("multi-part shapes export as MultiGeometry with one outer per Polygon") {
    val layer = graft.index.PolygonLayer.fromShapes(Seq(
      3L -> Seq(
        Array(0.0, 0, 10, 0, 10, 10, 0, 10, 0, 0),  // part 1 outer
        Array(2.0, 2, 4, 2, 4, 4, 2, 4, 2, 2),      // hole in part 1
        Array(20.0, 0, 30, 0, 30, 10, 20, 10, 20, 0)))) // part 2 outer (disjoint)
    val kml = new String(KmlIO.writePolygons(layer), "UTF-8")
    assert(kml.contains("<MultiGeometry>"))
    assert(kml.split("<Polygon>").length - 1 == 2) // one Polygon per outer
    // every Polygon has exactly one outerBoundaryIs; the hole sits with part 1
    val poly1 = kml.substring(kml.indexOf("<Polygon>"), kml.indexOf("</Polygon>"))
    assert(poly1.split("<outerBoundaryIs>").length - 1 == 1)
    assert(poly1.contains("innerBoundaryIs"))
    val back = KmlIO.readPolygons(KmlIO.writePolygons(layer))
    assert(back.numRings == 3)
    assert(back.findShapes(1, 1).nonEmpty && back.findShapes(3, 3).isEmpty &&
      back.findShapes(25, 5).nonEmpty)
  }
}
