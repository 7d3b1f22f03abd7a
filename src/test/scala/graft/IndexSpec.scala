package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.cell.CellIndex
import graft.index.{PointTree, PolygonLayer, StrTree}
import graft.tables.{SplitMix64, Synthetic}

class IndexSpec extends AnyFunSuite {

  // ------------------------------------------------------------------ cells

  test("Morton cellId round-trips for random coords incl. negatives") {
    val rng = new SplitMix64(7)
    for (_ <- 0 until 2000) {
      val x = (rng.nextDouble() - 0.5) * 720
      val y = (rng.nextDouble() - 0.5) * 360
      val res = rng.nextInt(20)
      val id = CellIndex.cellId(x, y, res)
      val (ix, iy, r) = CellIndex.decode(id)
      assert(r == res)
      val cs = CellIndex.cellSize(res)
      assert(ix == math.floor(x / cs).toLong)
      assert(iy == math.floor(y / cs).toLong)
      val (x0, y0, x1, y1) = CellIndex.cellBBox(id)
      assert(x >= x0 && x < x1 && y >= y0 && y < y1)
    }
  }

  test("grids from different extents align (global origin)") {
    // same coordinate always maps to the same cell regardless of any dataset extent
    val a = CellIndex.cellId(33.33, 44.44, 8)
    val b = CellIndex.cellId(33.33, 44.44, 8)
    assert(a == b)
    // adjacent coords right at a boundary map to adjacent cells
    val cs = CellIndex.cellSize(8)
    val id1 = CellIndex.cellId(cs * 10 - 1e-9, 0, 8)
    val id2 = CellIndex.cellId(cs * 10 + 1e-9, 0, 8)
    val (ix1, _, _) = CellIndex.decode(id1)
    val (ix2, _, _) = CellIndex.decode(id2)
    assert(ix2 == ix1 + 1)
  }

  test("neighborRing and neighborDisk sizes and membership") {
    val id = CellIndex.cellId(10, 10, 6)
    assert(CellIndex.neighborRing(id, 0).toSeq == Seq(id))
    assert(CellIndex.neighborRing(id, 1).length == 8)
    assert(CellIndex.neighborRing(id, 3).length == 24)
    assert(CellIndex.neighborDisk(id, 2).length == 25)
    val disk = CellIndex.neighborDisk(id, 1).toSet
    assert(CellIndex.neighborRing(id, 1).forall(disk.contains) && disk.contains(id))
    // all ring-k cells are at Chebyshev distance exactly k
    val (cx, cy, _) = CellIndex.decode(id)
    CellIndex.neighborRing(id, 2).foreach { n =>
      val (nx, ny, _) = CellIndex.decode(n)
      assert(math.max(math.abs(nx - cx), math.abs(ny - cy)) == 2)
    }
  }

  test("coveringCells covers a bbox") {
    val cells = CellIndex.coveringCells(1.0, 1.0, 7.0, 4.0, 7) // cs = 2.8125
    val cs = CellIndex.cellSize(7)
    assert(cells.length == (math.floor(7 / cs).toInt - 0 + 1) * (math.floor(4 / cs).toInt + 1))
  }

  // --------------------------------------------------------------- STR tree

  test("StrTree search equals brute-force bbox scan") {
    val rng = new SplitMix64(11)
    val n = 500
    val boxes = new Array[Double](n * 4)
    for (i <- 0 until n) {
      val x = rng.nextDouble() * 100
      val y = rng.nextDouble() * 100
      boxes(i * 4) = x; boxes(i * 4 + 1) = y
      boxes(i * 4 + 2) = x + rng.nextDouble() * 10
      boxes(i * 4 + 3) = y + rng.nextDouble() * 10
    }
    val tree = StrTree.build(boxes)
    for (_ <- 0 until 200) {
      val qx = rng.nextDouble() * 100
      val qy = rng.nextDouble() * 100
      val qx2 = qx + rng.nextDouble() * 15
      val qy2 = qy + rng.nextDouble() * 15
      val got = tree.search(qx, qy, qx2, qy2).toSet
      val want = (0 until n).filter { i =>
        !(qx2 < boxes(i * 4) || qy2 < boxes(i * 4 + 1) || qx > boxes(i * 4 + 2) || qy > boxes(i * 4 + 3))
      }.toSet
      assert(got == want)
    }
  }

  test("StrTree handles empty and single item") {
    assert(StrTree.build(Array.empty[Double]).search(0, 0, 1, 1).isEmpty)
    val t = StrTree.build(Array(0.0, 0.0, 1.0, 1.0))
    assert(t.search(0.5, 0.5, 0.5, 0.5).toSeq == Seq(0))
    assert(t.search(2, 2, 3, 3).isEmpty)
  }

  // ----------------------------------------------------------- PolygonLayer

  test("PolygonLayer.findShapes equals brute-force over all rings") {
    val layer = Synthetic.polygonLayer(16, seed = 5L, holeEvery = 4)
    val rng = new SplitMix64(21)
    for (_ <- 0 until 2000) {
      val x = rng.nextDouble() * 100
      val y = rng.nextDouble() * 100
      val got = layer.findShapes(x, y).toSet
      // brute force: even-odd per shape over all its rings
      val want = (0 until layer.numShapes).filter { s =>
        val results = (0 until layer.numRings).filter(layer.ringShape(_) == s).map { r =>
          graft.geom.Geom.pointInRing(x, y, layer.xx, layer.yy,
            layer.ringStart(r), layer.ringStart(r + 1) - layer.ringStart(r))
        }
        graft.geom.Geom.combineRings(results.iterator)
      }.toSet
      assert(got == want, s"($x,$y)")
    }
  }

  test("GridPipIndex: findKeys/findFirstKey/findShapes equal the tree path") {
    // several layer shapes: blobs with holes, tiny layer, single shape
    val layers = Seq(
      Synthetic.polygonLayer(16, seed = 5L, holeEvery = 4),
      Synthetic.polygonLayer(1024, seed = 42L, holeEvery = 5), // the bench layer
      Synthetic.polygonLayer(1, seed = 9L, holeEvery = 0))
    for (layer <- layers) {
      val rng = new SplitMix64(77)
      for (_ <- 0 until 2000) {
        val x = rng.nextDouble() * 110 - 5 // includes outside-extent probes
        val y = rng.nextDouble() * 110 - 5
        assert(layer.findKeys(x, y).toSeq == TreePip.findKeys(layer, x, y).toSeq, s"keys ($x,$y)")
        assert(layer.findFirstKey(x, y) == TreePip.findFirstKey(layer, x, y), s"first ($x,$y)")
        assert(layer.findShapes(x, y).toSeq == TreePip.findShapes(layer, x, y).toSeq, s"shapes ($x,$y)")
      }
      // NaN coords: both paths must return "no shapes"
      assert(layer.findKeys(Double.NaN, 5.0).isEmpty)
      assert(layer.findFirstKey(5.0, Double.NaN) == -1L)
      // boundary probes: exact ring vertices and segment midpoints are ON
      var r = 0
      while (r < math.min(layer.numRings, 64)) {
        val i = layer.ringStart(r)
        val probes = Seq(
          (layer.xx(i), layer.yy(i)),
          ((layer.xx(i) + layer.xx(i + 1)) / 2, (layer.yy(i) + layer.yy(i + 1)) / 2))
        probes.foreach { case (px, py) =>
          assert(layer.findKeys(px, py).toSeq == TreePip.findKeys(layer, px, py).toSeq, s"boundary ($px,$py)")
          assert(layer.findFirstKey(px, py) == TreePip.findFirstKey(layer, px, py), s"boundary first ($px,$py)")
        }
        r += 1
      }
    }
  }

  /** Axis-aligned rectangles: zero-height/width segment bboxes lie exactly
   * on grid lines; adjacent rects share full edges; one rect has a hole. */
  private lazy val degenerateLayer: PolygonLayer = {
    def rect(x0: Double, y0: Double, x1: Double, y1: Double) =
      Array(x0, y0, x1, y0, x1, y1, x0, y1, x0, y0)
    PolygonLayer.fromShapes(Seq(
      1L -> Seq(rect(0, 0, 10, 10)),
      2L -> Seq(rect(10, 0, 20, 10)), // shares the x=10 edge with shape 1
      3L -> Seq(rect(5, 5, 15, 15)),  // overlaps both
      4L -> Seq(rect(30, 0, 50, 20), graft.geom.Geom.reverseRing(rect(35, 5, 45, 15))), // hole
      5L -> Seq(rect(40, 10, 60, 30)) // overlaps 4's hole region partially
    ))
  }

  test("GridPipIndex: degenerate layers (axis-aligned rects, shared edges, holes)") {
    val layer = degenerateLayer
    val rng = new SplitMix64(99)
    for (_ <- 0 until 3000) {
      val x = rng.nextDouble() * 70 - 5
      val y = rng.nextDouble() * 40 - 5
      assert(layer.findKeys(x, y).toSeq == TreePip.findKeys(layer, x, y).toSeq, s"($x,$y)")
      assert(layer.findFirstKey(x, y) == TreePip.findFirstKey(layer, x, y), s"first ($x,$y)")
    }
    // exact boundary/corner/shared-edge probes
    val probes = Seq(
      (10.0, 5.0),   // shared vertical edge
      (10.0, 0.0),   // shared corner
      (5.0, 5.0),    // corner of overlap
      (35.0, 5.0),   // hole boundary (boundary-as-in)
      (40.0, 10.0),  // hole interior + shape-5 corner
      (38.0, 8.0),   // inside the hole (shape 4 must NOT match)
      (0.0, 0.0), (20.0, 10.0), (60.0, 30.0), (15.0, 15.0))
    probes.foreach { case (px, py) =>
      assert(layer.findKeys(px, py).toSeq == TreePip.findKeys(layer, px, py).toSeq, s"boundary ($px,$py)")
      assert(layer.findFirstKey(px, py) == TreePip.findFirstKey(layer, px, py), s"first ($px,$py)")
    }
    // semantic spot checks (independent of both implementations)
    assert(layer.findKeys(38.0, 8.0).toSeq == Seq.empty) // in the hole, outside 5
    assert(layer.findKeys(12.0, 7.0).toSeq == Seq(2L, 3L))
    assert(layer.findKeys(35.0, 5.0).toSeq == Seq(4L)) // hole boundary counts as in
  }

  test("uniformFirstShape: a proven box has that key at all 16 tile centres (tree path)") {
    val side = graft.operators.Tiling.FootprintSide
    val d = side / 4
    /** Number of proven footprints; one footprint centred at each (x, y). */
    def check(layer: PolygonLayer, centres: Seq[(Double, Double)], what: String,
              scale: Double = 1.0): Int = {
      var proven = 0
      centres.foreach { case (x, y) =>
        // the tile-centre arithmetic of Tiling.tileAssignAt, box = first/last centre
        val (x0, y0) = (x - side * scale / 2, y - side * scale / 2)
        def c(lo: Double, t: Int) = lo + (t + 0.5) * (d * scale)
        val u = layer.uniformFirstShape(c(x0, 0), c(y0, 0), c(x0, 3), c(y0, 3))
        assert(u >= -2 && u < layer.numShapes, s"$what ($x,$y): $u")
        if (u >= -1) {
          proven += 1
          val want = if (u == -1) -1L else layer.shapeKeys(u)
          for (t <- 0 until 16)
            assert(TreePip.findFirstKey(layer, c(x0, t % 4), c(y0, t / 4)) == want,
              s"$what ($x,$y) tile $t: proven $want")
        }
      }
      proven
    }
    def vertices(layer: PolygonLayer): Seq[(Double, Double)] =
      layer.xx.indices.map(i => (layer.xx(i), layer.yy(i)))
    def midpoints(layer: PolygonLayer): Seq[(Double, Double)] =
      (0 until layer.numRings).flatMap { r =>
        (layer.ringStart(r) until layer.ringStart(r + 1) - 1).map(i =>
          ((layer.xx(i) + layer.xx(i + 1)) / 2, (layer.yy(i) + layer.yy(i + 1)) / 2))
      }
    val layers = Seq(
      "1024-polygon" -> Synthetic.polygonLayer(1024, seed = 42L, holeEvery = 5),
      "degenerate" -> degenerateLayer,
      "oracle" -> Synthetic.oracleLayer)
    for ((name, layer) <- layers; scale <- Seq(1.0, 20.0)) {
      val (ex0, ey0, ex1, ey1) = layer.extent
      val rng = new SplitMix64(17)
      val random = (0 until 4000).map(_ =>
        (ex0 + rng.nextDouble() * (ex1 - ex0), ey0 + rng.nextDouble() * (ey1 - ey0)))
      val proven = check(layer, random, s"$name random x$scale", scale)
      if (name == "1024-polygon" && scale == 1.0)
        assert(proven >= random.size / 2, s"only $proven of ${random.size} footprints proven")
      // a box around a boundary point is never proven
      for ((what, pts) <- Seq("vertex" -> vertices(layer), "midpoint" -> midpoints(layer)))
        assert(check(layer, pts, s"$name $what x$scale", scale) == 0, s"$name $what")
      // footprints straddling the extent edges, just inside and just outside them
      val edge = (0 until 400).flatMap { k =>
        val t = rng.nextDouble()
        val (x, y) = (ex0 + t * (ex1 - ex0), ey0 + t * (ey1 - ey0))
        val off = side * scale * (k % 4 - 1.5) / 3
        Seq((ex0 + off, y), (ex1 + off, y), (x, ey0 + off), (x, ey1 + off))
      }
      check(layer, edge, s"$name edge x$scale", scale)
      // corners outside the extent are never proven
      assert(check(layer, Seq((ex0, ey0 + 1), (ex1, ey1 - 1)), s"$name outside", scale) == 0)
    }
    val layer = layers.head._2
    val nan = Double.NaN
    Seq((nan, 1.0, 2.0, 2.0), (1.0, nan, 2.0, 2.0), (1.0, 1.0, nan, 2.0), (1.0, 1.0, 2.0, nan))
      .foreach { case (a, b, c, e) => assert(layer.uniformFirstShape(a, b, c, e) == -2) }
    // inverted box
    assert(layer.uniformFirstShape(2.0, 2.0, 1.0, 1.0) == -2)
  }

  test("RingSegmentIndex (bucketed) agrees with direct scan on large rings") {
    val rng = new SplitMix64(31)
    // large ring (many vertices) to force the indexed path
    val ring = Synthetic.blobRing(50, 50, 30, 300, rng)
    val layer = PolygonLayer.fromShapes(Seq((0L, Seq(ring))))
    val n = ring.length / 2
    val xx = Array.tabulate(n)(i => ring(i * 2))
    val yy = Array.tabulate(n)(i => ring(i * 2 + 1))
    for (_ <- 0 until 3000) {
      val x = rng.nextDouble() * 100
      val y = rng.nextDouble() * 100
      val direct = graft.geom.Geom.pointInRing(x, y, xx, yy, 0, n)
      val viaLayer = layer.pointInRing(x, y, 0)
      assert(direct == viaLayer, s"($x,$y)")
    }
  }

  test("PointTree kNN equals the brute-force (dist2, id) ranking") {
    val rng = new SplitMix64(21)
    // uniform, a dense cluster, lattice duplicates, a repeated id, and
    // infinite and NaN coordinates
    val pts = (0 until 3000).map { i =>
      val (x, y) = i % 4 match {
        case 0 => (rng.nextDouble() * 100, rng.nextDouble() * 100)
        case 1 => (50 + rng.nextDouble() * 1e-3, 50 + rng.nextDouble() * 1e-3)
        case 2 => ((i / 4 % 7).toDouble, (i / 28 % 7).toDouble)
        case _ => (rng.nextDouble() * 100, (i % 13).toDouble)
      }
      (if (i % 500 == 7) 7L else i.toLong, x, y)
    } ++ Seq((5000L, Double.PositiveInfinity, 0.0), (5001L, Double.NaN, 1.0),
      (5002L, 3.0, Double.NegativeInfinity), (5003L, Double.PositiveInfinity, 2.0))
    val tree = PointTree.build(pts.map(_._1).toArray, pts.map(_._2).toArray, pts.map(_._3).toArray)
    assert(tree.size == pts.size && tree.hasDuplicateIds)
    val rank: Ordering[(Double, Long)] = (a, b) => {
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a._1, b._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    for (k <- Seq(1, 5, 40)) {
      val s = tree.searcher(k)
      pts.indices.filter(i => i % 7 == 0 || pts(i)._1 == 7L || pts(i)._1 >= 5000L).foreach { i =>
        val (id, x, y) = pts(i)
        val want = pts.filter(_._1 == id).flatMap { case (_, ax, ay) =>
          pts.filter(_._1 != id).map { case (b, bx, by) =>
            ((ax - bx) * (ax - bx) + (ay - by) * (ay - by), b) }
        }.sorted(rank).take(k)
        val a = s.probe(id, x, y)
        val got = (0 until a.numElements()).map { j =>
          val r = a.getStruct(j, 2); (r.getDouble(1), r.getLong(0)) }
        assert(got.map(g => (bits(g._1), g._2)) == want.map(w => (bits(w._1), w._2)), s"id $id, k $k")
      }
    }
    // fewer than k others: all of them; k = 0: none
    val small = PointTree.build(Array(1L, 2L, 3L), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 2.0))
    assert(small.searcher(10).probe(1L, 0.0, 0.0).numElements() == 2)
    assert(small.searcher(0).probe(1L, 0.0, 0.0).numElements() == 0)
  }

  test("shapeArea: holes subtract (opposite winding)") {
    val outer = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0, 0.0, 0.0)
    val hole = graft.geom.Geom.reverseRing(Array(2.0, 2.0, 4.0, 2.0, 4.0, 4.0, 2.0, 4.0, 2.0, 2.0))
    val layer = PolygonLayer.fromShapes(Seq((0L, Seq(outer, hole))))
    assert(math.abs(layer.shapeArea(0) - 96.0) < 1e-9)
  }
}
