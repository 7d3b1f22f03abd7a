package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.geom.Geom
import graft.sources.{GeoJsonIO, ShpReader, TopoJsonIO}
import graft.tables.Synthetic

class ShpTopoSpec extends AnyFunSuite {

  test("shapefile reader parses Natural Earth polygons matching the GeoJSON twin") {
    ReferenceFixture.assumePresent(
      "ne/ne_110m_admin_0_scale_rank.shp", "ne/ne_110m_admin_0_scale_rank.json")
    val shp = ShpReader.readPolygons("/root/reference/test/data/ne/ne_110m_admin_0_scale_rank.shp")
    val gj = GeoJsonIO.fromGeoJson(java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/test/data/ne/ne_110m_admin_0_scale_rank.json")))
    assert(shp.numShapes > 0)
    assert(shp.numShapes == gj.numShapes, s"shp=${shp.numShapes} geojson=${gj.numShapes}")
    assert(shp.numRings == gj.numRings)
    // total vertex counts and summed |areas| agree (coordinate precision may
    // differ in the last decimals between the two encodings)
    assert(shp.xx.length == gj.xx.length)
    val aShp = (0 until shp.numShapes).map(s => math.abs(shp.shapeArea(s))).sum
    val aGj = (0 until gj.numShapes).map(s => math.abs(gj.shapeArea(s))).sum
    assert(math.abs(aShp - aGj) / aShp < 1e-6, s"$aShp vs $aGj")
    // spot PIP: same containment behavior on a probe grid
    for (x <- -170 to 170 by 40; y <- -80 to 80 by 40) {
      assert(shp.findShapes(x, y).length == gj.findShapes(x, y).length, s"probe ($x,$y)")
    }
  }

  test("TopoJSON round trip preserves topology within quantization error") {
    val layer = Synthetic.polygonLayer(6, seed = 3L, holeEvery = 3)
    val json = TopoJsonIO.toTopoJson(layer, quantization = 1000000)
    val back = TopoJsonIO.fromTopoJson(json)
    assert(back.numShapes == layer.numShapes)
    assert(back.numRings == layer.numRings)
    assert(back.xx.length == layer.xx.length)
    val tol = 100.0 / 1000000 * 2 // grid step * safety
    var i = 0
    while (i < layer.xx.length) {
      assert(math.abs(back.xx(i) - layer.xx(i)) < tol)
      assert(math.abs(back.yy(i) - layer.yy(i)) < tol)
      i += 1
    }
  }

  test("TopoJSON import handles shared reversed arcs (~i convention)") {
    // two squares sharing an edge, encoded with a shared arc used as i and ~i
    // no transform => absolute (non-delta) coordinates per the TopoJSON spec
    val json =
      """{"type":"Topology","arcs":[
        |  [[0,0],[0,10]],
        |  [[0,10],[-10,10],[-10,0],[0,0]],
        |  [[0,0],[10,0],[10,10],[0,10]]
        |],"objects":{"l":{"type":"GeometryCollection","geometries":[
        |  {"type":"Polygon","arcs":[[0,1]]},
        |  {"type":"Polygon","arcs":[[-1,2]]}
        |]}}}""".stripMargin
    val layer = TopoJsonIO.fromTopoJson(json)
    assert(layer.numShapes == 2)
    assert(math.abs(math.abs(layer.shapeArea(0)) - 100.0) < 1e-9)
    assert(math.abs(math.abs(layer.shapeArea(1)) - 100.0) < 1e-9)
    // the shared edge x=0 segment: points on either side land in one square each
    assert(layer.findShapes(-5.0, 5.0).length == 1)
    assert(layer.findShapes(5.0, 5.0).length == 1)
  }

  test("TopoJSON export dedups shared border arcs (buildTopology analog)") {
    import graft.index.PolygonLayer
    // two squares sharing the edge x=10: 3 arcs expected, not 2 full rings
    def rect(x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] =
      Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1)
    val layer = PolygonLayer.fromShapes(Seq(
      (1L, Seq(rect(0, 0, 10, 10))),
      (2L, Seq(rect(10, 0, 20, 10)))))
    val json = TopoJsonIO.toTopoJson(layer, quantization = 10000)
    // count arcs in the serialized topology
    val arcsSection = json.substring(json.indexOf("\"arcs\":[") + 8,
      json.indexOf("],\"objects\""))
    val nArcs = arcsSection.count(_ == '[') - arcsSection.count(_ == ']') match {
      case _ => // count top-level arcs: split on "],[" at depth 1
        var depth = 0; var count = 0
        arcsSection.foreach {
          case '[' => depth += 1; if (depth == 1) count += 1
          case ']' => depth -= 1
          case _ =>
        }
        count
    }
    assert(nArcs == 3, s"expected 3 shared arcs, got $nArcs in $arcsSection")
    // round-trip: same shapes, same total area
    val back = TopoJsonIO.fromTopoJson(json)
    assert(back.numShapes == 2)
    assert(math.abs(back.shapeArea(0)) > 99.0 && math.abs(back.shapeArea(1)) > 99.0)
  }
}
