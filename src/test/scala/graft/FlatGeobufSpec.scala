package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FlatGeobuf

/** Reads the reference's own .fgb fixtures (test/data/flatgeobuf/). */
class FlatGeobufSpec extends AnyFunSuite {

  test("poly00.fgb: polygon layer with a 'poly' column, coords inside envelope") {
    ReferenceFixture.assumePresent("flatgeobuf/poly00.fgb")
    val layer = FlatGeobuf.read("/root/reference/test/data/flatgeobuf/poly00.fgb")
    assert(layer.geometryType == FlatGeobuf.GPolygon)
    assert(layer.columns.map(_.name) == Seq("AREA", "EAS_ID", "PRFEDEA"))
    assert(layer.features.nonEmpty)
    val env = layer.envelope
    assert(env.length == 4)
    layer.features.foreach { f =>
      assert(f.parts.nonEmpty)
      f.parts.foreach { r =>
        var i = 0
        while (i < r.length) {
          assert(r(i) >= env(0) - 1e-6 && r(i) <= env(2) + 1e-6, s"x ${r(i)}")
          assert(r(i + 1) >= env(1) - 1e-6 && r(i + 1) <= env(3) + 1e-6, s"y ${r(i + 1)}")
          i += 2
        }
        // polygon rings are closed
        assert(r(0) == r(r.length - 2) && r(1) == r(r.length - 1))
      }
      assert(f.props.contains("AREA") && f.props.contains("EAS_ID"))
    }
  }

  test("countries.fgb: many multipolygon features with id/name properties") {
    ReferenceFixture.assumePresent("flatgeobuf/countries.fgb")
    val layer = FlatGeobuf.read("/root/reference/test/data/flatgeobuf/countries.fgb")
    assert(layer.features.length > 100)
    val names = layer.columns.map(_.name)
    assert(names.nonEmpty)
    // every feature parses geometry and all its rings are closed
    layer.features.foreach { f =>
      assert(f.parts.nonEmpty)
      f.parts.foreach { r =>
        assert(r.length >= 8)
        assert(r(0) == r(r.length - 2) && r(1) == r(r.length - 1))
      }
    }
    // property blob decoded for the declared columns
    val withProps = layer.features.count(_.props.nonEmpty)
    assert(withProps == layer.features.length)
  }

  test("writer round-trips polygons with typed properties through the reader") {
    def rect(x1: Double, y1: Double, x2: Double, y2: Double): Array[Double] =
      Array(x1, y1, x2, y1, x2, y2, x1, y2, x1, y1)
    val cols = Seq(
      FlatGeobuf.Column("name", 11), FlatGeobuf.Column("pop", 7),
      FlatGeobuf.Column("rate", 10), FlatGeobuf.Column("ok", 2))
    val layer = FlatGeobuf.Layer(
      geometryType = FlatGeobuf.GPolygon,
      envelope = Array(0.0, 0.0, 30.0, 25.0),
      columns = cols,
      features = Seq(
        FlatGeobuf.Feature(FlatGeobuf.GPolygon,
          Seq(rect(0, 0, 10, 10), rect(3, 3, 5, 5)), // outer + hole
          Map("name" -> "alpha", "pop" -> 12345L, "rate" -> 0.75, "ok" -> true)),
        FlatGeobuf.Feature(FlatGeobuf.GPolygon,
          Seq(rect(20, 20, 30, 25)),
          Map("name" -> "beta", "pop" -> 7L, "rate" -> -1.5, "ok" -> false))))
    val bytes = FlatGeobuf.write(layer, "test-layer")
    val back = FlatGeobuf.readBytes(bytes)
    assert(back.geometryType == FlatGeobuf.GPolygon)
    assert(back.columns == cols)
    assert(back.envelope.toSeq == Seq(0.0, 0.0, 30.0, 25.0))
    assert(back.features.length == 2)
    val f0 = back.features.head
    assert(f0.parts.length == 2 && f0.parts.head.sameElements(rect(0, 0, 10, 10)))
    assert(f0.props("name") == "alpha" && f0.props("pop") == 12345L)
    assert(f0.props("rate") == 0.75 && f0.props("ok") == true)
    val f1 = back.features(1)
    assert(f1.parts.length == 1 && f1.props("name") == "beta" && f1.props("ok") == false)
  }

  test("empty.fgb parses with zero features") {
    ReferenceFixture.assumePresent("flatgeobuf/empty.fgb")
    val layer = FlatGeobuf.read("/root/reference/test/data/flatgeobuf/empty.fgb")
    assert(layer.features.isEmpty)
  }
}
