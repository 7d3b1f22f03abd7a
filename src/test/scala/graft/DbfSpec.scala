package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DbfReader, ShpReader}

class DbfSpec extends AnyFunSuite {

  test("reads the Natural Earth DBF: fields, rows aligned with .shp records") {
    ReferenceFixture.assumePresent(
      "ne/ne_110m_admin_0_scale_rank.dbf", "ne/ne_110m_admin_0_scale_rank.shp")
    val t = DbfReader.read("/root/reference/test/data/ne/ne_110m_admin_0_scale_rank.dbf")
    val shp = ShpReader.readPolygons("/root/reference/test/data/ne/ne_110m_admin_0_scale_rank.shp")
    assert(t.rows.size == shp.numShapes, s"dbf=${t.rows.size} shp=${shp.numShapes}")
    // FIXTURES.md documents the schema: scalerank, featurecla, labelrank, ...
    val names = t.fields.map(_.name.toLowerCase)
    assert(names.contains("scalerank") && names.contains("featurecla"))
    // numeric field parsed as numbers
    assert(t.rows.forall(r => r("scalerank") == null || r("scalerank").isInstanceOf[java.lang.Double]))
    assert(t.rows.exists(r => r("featurecla").toString.nonEmpty))
  }

  test("dbf attributes join to shp geometry by record index") {
    ReferenceFixture.assumePresent(
      "ne/ne_110m_admin_0_scale_rank.dbf", "ne/ne_110m_admin_0_scale_rank.shp")
    val t = DbfReader.read("/root/reference/test/data/ne/ne_110m_admin_0_scale_rank.dbf")
    val shp = ShpReader.readPolygons("/root/reference/test/data/ne/ne_110m_admin_0_scale_rank.shp")
    // every shape key indexes a dbf row
    assert(shp.shapeKeys.forall(k => k >= 0 && k < t.rows.size))
  }
}
