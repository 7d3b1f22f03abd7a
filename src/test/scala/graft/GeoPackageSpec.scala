package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GeoPackage

/** Reads the reference's own .gpkg fixtures (test/data/geopackage/). */
class GeoPackageSpec extends AnyFunSuite {

  test("same_crs_points.gpkg: two point feature tables, expected rows") {
    ReferenceFixture.assumePresent("geopackage/same_crs_points.gpkg")
    val db = GeoPackage.open("/root/reference/test/data/geopackage/same_crs_points.gpkg")
    val tables = GeoPackage.featureTables(db)
    assert(tables.toSet == Set("oregon_cities", "washington_cities"))

    val or = GeoPackage.readFeatures(db, "oregon_cities")
    assert(or.features.length == 5)
    assert(or.geometryColumn == "geom" && or.srsId == 4326)
    val medford = or.features.head
    assert(medford.props("NAME") == "Medford")
    assert(medford.geomType == 1) // point
    val Seq(pt) = medford.parts
    // geometry matches the LAT/LNG attribute columns
    assert(math.abs(pt(0) - medford.props("LNG").asInstanceOf[Double]) < 1e-6)
    assert(math.abs(pt(1) - medford.props("LAT").asInstanceOf[Double]) < 1e-6)
    // quoted column names ("label-text") parsed
    assert(or.columns.contains("label-text"))
  }

  test("world_land_robin.gpkg: polygon features with multi-ring geometry") {
    ReferenceFixture.assumePresent("geopackage/world_land_robin.gpkg")
    val db = GeoPackage.open("/root/reference/test/data/geopackage/world_land_robin.gpkg")
    val tables = GeoPackage.featureTables(db)
    assert(tables == Seq("world_land_robin"))
    val lyr = GeoPackage.readFeatures(db, "world_land_robin")
    assert(lyr.features.nonEmpty)
    val totalRings = lyr.features.map(_.parts.length).sum
    assert(totalRings > lyr.features.length) // multipolygons present
    // all rings closed, coordinates in Robinson meters
    lyr.features.foreach(_.parts.foreach { r =>
      assert(r.length >= 8)
      assert(r(0) == r(r.length - 2) && r(1) == r(r.length - 1))
      assert(math.abs(r(0)) < 2.0e7)
    })
  }

  test("data_only_tables.gpkg: feature tables plus extra attribute tables") {
    ReferenceFixture.assumePresent("geopackage/data_only_tables.gpkg")
    val db = GeoPackage.open("/root/reference/test/data/geopackage/data_only_tables.gpkg")
    assert(GeoPackage.featureTables(db).toSet ==
      Set("oregon_cities", "washington_cities"))
    // the attributes-only side tables read as plain tables
    val master = db.master.filter(_._1 == "table").map(_._2)
    val extra = master.filterNot(t => t.startsWith("gpkg_") || t.startsWith("rtree_") ||
      t.startsWith("sqlite_") || t.endsWith("_cities"))
    extra.foreach { t =>
      val (cols, rows) = db.readTable(t)
      assert(cols.nonEmpty && rows != null)
    }
  }

  test("GeoPackage writer round-trips through the reader (real-sqlite-validated format)") {
    // the same bytes pass `PRAGMA integrity_check` = ok in real SQLite
    // (validated with the driver-side python sqlite3 module)
    import graft.sources.GeoPackageWriter
    val bytes = GeoPackageWriter.writePoints("cities",
      Seq(("name", "TEXT"), ("pop", "INTEGER")),
      Seq((-122.3, 47.6, Seq("seattle", 750000L)), (2.35, 48.85, Seq("paris", 2100000L))))
    val tmp = java.nio.file.Files.createTempFile("graftw", ".gpkg")
    java.nio.file.Files.write(tmp, bytes)
    val db = GeoPackage.open(tmp.toString)
    assert(GeoPackage.featureTables(db) == Seq("cities"))
    val lyr = GeoPackage.readFeatures(db, "cities")
    assert(lyr.srsId == 4326 && lyr.features.length == 2)
    val f0 = lyr.features.head
    assert(f0.fid == 1L && f0.props("name") == "seattle" && f0.props("pop") == 750000L)
    val Seq(pt) = f0.parts
    assert(pt(0) == -122.3 && pt(1) == 47.6)
  }
}
