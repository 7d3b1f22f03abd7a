package graft.geom

import scala.collection.mutable

/**
 * Planar overlay engine — the Spark-era re-expression of mapshaper's mosaic
 * pipeline (`/root/reference/src/paths/mapshaper-intersection-cuts.mjs:33-94`:
 * snap → find segment intersections → cut arcs → rebuild topology;
 * `src/polygons/mapshaper-polygon-mosaic.mjs:72-158`: trace CW tiles / CCW
 * holes; `src/paths/mapshaper-pathfinder.mjs`: rightmost-turn ring walking).
 *
 * Algorithm here (same WHAT, fresh HOW):
 *  1. snap all coordinates to the deterministic ulp-scaled lattice;
 *  2. split every input segment at every intersection with any other segment
 *     (bbox-prefiltered pairwise; robust orientation tests);
 *  3. build the planar graph; at each node order edges by angle;
 *  4. trace faces with the interior-on-the-left rule (next edge = clockwise
 *     successor of the twin) — bounded faces come out CCW (positive area),
 *     hole/outer boundaries CW;
 *  5. assign each CW ring as a hole of the smallest enclosing CCW face
 *     (mapshaper: `findSmallestEnclosingPolygon`, path-index.mjs:79-95);
 *  6. classify every face against each input layer by even-odd PIP of an
 *     interior point → tile membership table.
 *
 * clip / erase / union / dissolve2 are then just face filters followed by
 * shared-edge-cancellation dissolve of the selected faces' rings.
 *
 * This kernel runs driver- or executor-side on one connected component of
 * geometry; at cluster scale components are co-located by cell partitioning
 * first (SURVEY §7.2 step 11).
 */
object Overlay {

  /** One bounded face of the subdivision. */
  final case class Face(
      outer: Array[Double],        // CCW flat ring, closed
      holes: Seq[Array[Double]],   // CW flat rings, closed
      interior: (Double, Double),  // a point strictly inside (outside holes)
      inLayer: Array[Boolean])     // membership per input layer (even-odd)

  final case class Mosaic(faces: Seq[Face]) {
    def area: Double = faces.map(f => faceArea(f)).sum
  }

  /** Outer area plus the holes' (CW → negative) signed areas. */
  def faceArea(f: Face): Double =
    f.holes.foldLeft(Geom.ringArea(f.outer))(_ + Geom.ringArea(_))

  /**
   * Build the mosaic of 1+ layers. Each layer is a set of closed flat rings.
   */
  def mosaic(layers: Seq[Seq[Array[Double]]]): Mosaic = {
    // 1. snap
    var maxAbs = 0.0
    layers.foreach(_.foreach(r => r.foreach(v => maxAbs = math.max(maxAbs, math.abs(v)))))
    val iv = Geom.snapInterval(maxAbs)
    val snapped = layers.map(_.map(_.map(v => Geom.snap(v, iv))))

    // 2. collect segments and split at intersections
    val segs = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    snapped.foreach(_.foreach { r =>
      var i = 0
      while (i + 3 < r.length) {
        if (!(r(i) == r(i + 2) && r(i + 1) == r(i + 3)))
          segs += ((r(i), r(i + 1), r(i + 2), r(i + 3)))
        i += 2
      }
    })
    val pieces = splitAtIntersections(segs.toArray, iv)

    // 3. planar graph
    val nodeId = mutable.HashMap.empty[(Double, Double), Int]
    val nodeXY = mutable.ArrayBuffer.empty[(Double, Double)]
    def nid(x: Double, y: Double): Int =
      nodeId.getOrElseUpdate((x, y), { nodeXY += ((x, y)); nodeXY.length - 1 })
    // directed half-edges; dedupe undirected duplicates (shared borders)
    val undirected = mutable.HashSet.empty[(Int, Int)]
    pieces.foreach { case (x1, y1, x2, y2) =>
      val u = nid(x1, y1)
      val v = nid(x2, y2)
      if (u != v) {
        val key = if (u < v) (u, v) else (v, u)
        undirected += key
      }
    }
    val heFrom = mutable.ArrayBuffer.empty[Int]
    val heTo = mutable.ArrayBuffer.empty[Int]
    undirected.foreach { case (u, v) =>
      heFrom += u; heTo += v
      heFrom += v; heTo += u
    }
    val nHe = heFrom.length
    @inline def twin(e: Int): Int = e ^ 1

    // outgoing edges per node, sorted by angle (ccw)
    val outgoing = Array.fill(nodeXY.length)(mutable.ArrayBuffer.empty[Int]) : Array[mutable.ArrayBuffer[Int]]
    var e = 0
    while (e < nHe) { outgoing(heFrom(e)) += e; e += 1 }
    val angle = new Array[Double](nHe)
    e = 0
    while (e < nHe) {
      val (fx, fy) = nodeXY(heFrom(e))
      val (tx, ty) = nodeXY(heTo(e))
      angle(e) = math.atan2(ty - fy, tx - fx)
      e += 1
    }
    val posInRing = new Array[Int](nHe)
    outgoing.foreach { buf =>
      val arr = buf.sortInPlaceBy(angle)
      var i = 0
      while (i < arr.length) { posInRing(arr(i)) = i; i += 1 }
    }
    // next half-edge when tracing a face with interior on the LEFT: at the
    // head node of e, take the clockwise successor of twin(e) in the ccw
    // angular order (i.e. the previous edge in ccw order).
    def nextEdge(eIn: Int): Int = {
      val v = heTo(eIn)
      val ring = outgoing(v)
      val t = twin(eIn)
      val idx = posInRing(t)
      ring((idx - 1 + ring.length) % ring.length)
    }

    // 4. trace faces
    val visited = new Array[Boolean](nHe)
    val ccwRings = mutable.ArrayBuffer.empty[Array[Double]]
    val cwRings = mutable.ArrayBuffer.empty[Array[Double]]
    e = 0
    while (e < nHe) {
      if (!visited(e)) {
        val coords = mutable.ArrayBuffer.empty[Double]
        var cur = e
        var guard = 0
        while (!visited(cur) && guard <= nHe) {
          visited(cur) = true
          val (x, y) = nodeXY(heFrom(cur))
          coords += x; coords += y
          cur = nextEdge(cur)
          guard += 1
        }
        // close
        coords += coords(0); coords += coords(1)
        val flat = coords.toArray
        val a = Geom.ringArea(flat)
        if (a > 0) ccwRings += flat
        else if (a < 0) cwRings += flat
      }
      e += 1
    }

    // 5. hole assignment: CW ring → smallest STRICTLY LARGER enclosing CCW
    //    ring, tested with a point strictly inside the CW ring's enclosed
    //    region (vertex tests are wrong: rings of adjacent faces share
    //    vertices). The arrangement's outer boundary is also CW but encloses
    //    area >= every face, so the strict area filter leaves it unassigned.
    val ccwAreas = ccwRings.map(Geom.ringArea)
    val ccwSplit = ccwRings.map(Geom.unzipRing)
    val holeOf = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Int]]
    cwRings.indices.foreach { hi =>
      val h = cwRings(hi)
      val hArea = -Geom.ringArea(h) // enclosed area (positive)
      interiorPoint(Geom.reverseRing(h), Nil, iv).foreach { case (px, py) =>
        var best = -1
        var bestArea = Double.MaxValue
        ccwRings.indices.foreach { ci =>
          val a = ccwAreas(ci)
          // strict-with-margin: a CW ring's own CCW twin has the same area up
          // to 1 ulp of shoelace rounding and must never become its parent
          if (a > hArea + 1e-9 * (1.0 + hArea) && a < bestArea) {
            val (xs, ys) = ccwSplit(ci)
            if (Geom.pointInRing(px, py, xs, ys, 0, xs.length) == Geom.IN) {
              bestArea = a; best = ci
            }
          }
        }
        if (best >= 0) holeOf.getOrElseUpdate(best, mutable.ArrayBuffer.empty) += hi
      }
    }

    // 6. interior point + classification per layer
    val layerContains = snapped.map(evenOddContainment)
    val faces = ccwRings.indices.flatMap { ci =>
      val outer = ccwRings(ci)
      val holes = holeOf.getOrElse(ci, mutable.ArrayBuffer.empty).map(cwRings(_)).toSeq
      interiorPoint(outer, holes, iv).map { p =>
        val membership = layerContains.map(_(p._1, p._2)).toArray
        Face(outer, holes, p, membership)
      }
    }
    Mosaic(faces)
  }

  /** Even-odd containment of a point vs a set of rings (boundary = in). */
  def evenOddContains(rings: Seq[Array[Double]], x: Double, y: Double): Boolean =
    evenOddContainment(rings)(x, y)

  /** [[evenOddContains]] as a test of many points, the rings split once. */
  def evenOddContainment(rings: Seq[Array[Double]]): (Double, Double) => Boolean = {
    val split = rings.map(Geom.unzipRing)
    (x, y) => Geom.combineRings(split.iterator.map { case (xs, ys) =>
      Geom.pointInRing(x, y, xs, ys, 0, xs.length)
    })
  }

  /** A point strictly inside `outer` and outside all `holes`: probe inward
   * offsets of edge midpoints at decreasing epsilons. */
  private def interiorPoint(outer: Array[Double], holes: Seq[Array[Double]], iv: Double): Option[(Double, Double)] = {
    val (xs, ys) = Geom.unzipRing(outer)
    val n = xs.length
    val holeArrs = holes.map(Geom.unzipRing)
    def ok(px: Double, py: Double): Boolean =
      Geom.pointInRing(px, py, xs, ys, 0, n) == Geom.IN &&
        holeArrs.forall { case (hx, hy) => Geom.pointInRing(px, py, hx, hy, 0, hx.length) == Geom.OUT }
    var i = 0
    while (i < n - 1) {
      val mx = (xs(i) + xs(i + 1)) / 2
      val my = (ys(i) + ys(i + 1)) / 2
      val dx = xs(i + 1) - xs(i)
      val dy = ys(i + 1) - ys(i)
      val len = math.sqrt(dx * dx + dy * dy)
      if (len > 0) {
        // interior is to the LEFT of the directed edge (CCW ring)
        val nx = -dy / len
        val ny = dx / len
        var eps = len / 64.0
        var tries = 0
        while (tries < 20) {
          val px = mx + nx * eps
          val py = my + ny * eps
          if (ok(px, py)) return Some((px, py))
          eps /= 4.0
          tries += 1
        }
      }
      i += 1
    }
    None // degenerate sliver below epsilon resolution
  }

  /** Split all segments at pairwise intersection points (bbox-prefiltered).
   * CRITICAL: each intersection point is computed ONCE and shared verbatim by
   * both segments — computing it per-segment (different arithmetic paths)
   * can snap the two copies to different lattice points and disconnect the
   * planar graph. */
  def splitAtIntersections(
      segs: Array[(Double, Double, Double, Double)],
      iv: Double): Array[(Double, Double, Double, Double)] = {
    val n = segs.length
    // per segment: sorted map t -> shared snapped point
    val cuts = Array.fill(n)(mutable.TreeMap.empty[Double, (Double, Double)])
    var i = 0
    while (i < n) {
      val (ax, ay, bx, by) = segs(i)
      var j = i + 1
      while (j < n) {
        val (cx, cy, dx, dy) = segs(j)
        if (math.min(ax, bx) <= math.max(cx, dx) && math.min(cx, dx) <= math.max(ax, bx) &&
            math.min(ay, by) <= math.max(cy, dy) && math.min(cy, dy) <= math.max(ay, by) &&
            Geom.segmentsIntersect(ax, ay, bx, by, cx, cy, dx, dy)) {
          intersectionParams(ax, ay, bx, by, cx, cy, dx, dy).foreach { case (t, u) =>
            // one canonical point per event; when the event IS an endpoint of
            // either segment, use that endpoint verbatim (recomputing it
            // parametrically lands epsilon off and splits the node in two)
            val (qx, qy) =
              if (u == 0) (cx, cy)
              else if (u == 1) (dx, dy)
              else if (t == 0) (ax, ay)
              else if (t == 1) (bx, by)
              else (Geom.snap(ax + (bx - ax) * t, iv), Geom.snap(ay + (by - ay) * t, iv))
            if (t > 0 && t < 1) cuts(i).update(t, (qx, qy))
            if (u > 0 && u < 1) cuts(j).update(u, (qx, qy))
          }
        }
        j += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    i = 0
    while (i < n) {
      val (ax, ay, bx, by) = segs(i)
      var px = ax
      var py = ay
      cuts(i).valuesIterator.foreach { case (qx, qy) =>
        if (qx != px || qy != py) {
          out += ((px, py, qx, qy))
          px = qx; py = qy
        }
      }
      if (px != bx || py != by) out += ((px, py, bx, by))
      i += 1
    }
    out.toArray
  }

  /** Intersection parameters (t on ab, u on cd) for crossing or touching
   * segments; collinear overlaps yield endpoint projections. */
  private def intersectionParams(ax: Double, ay: Double, bx: Double, by: Double,
                                 cx: Double, cy: Double, dx: Double, dy: Double): Seq[(Double, Double)] = {
    val d1x = bx - ax; val d1y = by - ay
    val d2x = dx - cx; val d2y = dy - cy
    val denom = d1x * d2y - d1y * d2x
    if (denom != 0) {
      val t = ((cx - ax) * d2y - (cy - ay) * d2x) / denom
      val u = ((cx - ax) * d1y - (cy - ay) * d1x) / denom
      if (t >= 0 && t <= 1 && u >= 0 && u <= 1) Seq((t, u)) else Nil
    } else {
      // collinear overlap: project each endpoint of one onto the other
      def proj(px: Double, py: Double): Double = {
        val len2 = d1x * d1x + d1y * d1y
        if (len2 == 0) 0 else ((px - ax) * d1x + (py - ay) * d1y) / len2
      }
      def proj2(px: Double, py: Double): Double = {
        val len2 = d2x * d2x + d2y * d2y
        if (len2 == 0) 0 else ((px - cx) * d2x + (py - cy) * d2y) / len2
      }
      val res = mutable.ArrayBuffer.empty[(Double, Double)]
      val tc = proj(cx, cy)
      if (tc > 0 && tc < 1) res += ((tc, 0.0))
      val td = proj(dx, dy)
      if (td > 0 && td < 1) res += ((td, 1.0))
      val ua = proj2(ax, ay)
      if (ua > 0 && ua < 1) res += ((0.0, ua))
      val ub = proj2(bx, by)
      if (ub > 0 && ub < 1) res += ((1.0, ub))
      res.toSeq
    }
  }

  // ------------------------------------------------------------- operators
  //
  // A "shape" is one polygon feature: Seq of rings combined even-odd (holes
  // included). Layers of shapes combine by UNION ("inside any shape"), which
  // is the reference's mosaic rule: a tile belongs to a shape if the shape
  // covers it; overlapping shapes both claim the tile
  // (`src/polygons/mapshaper-mosaic-index.mjs`).

  type Shape = Seq[Array[Double]]

  private def inAny(f: Face, from: Int, until: Int): Boolean = {
    var i = from
    while (i < until) {
      if (f.inLayer(i)) return true
      i += 1
    }
    false
  }

  /** Subject shapes clipped to the inside of the clip shapes (mapshaper `-clip`). */
  def clip(subject: Seq[Shape], clipLayer: Seq[Shape]): Seq[Array[Double]] = {
    val m = mosaic(subject ++ clipLayer)
    val ns = subject.length
    dissolveFaces(m.faces.filter(f =>
      inAny(f, 0, ns) && inAny(f, ns, ns + clipLayer.length)))
  }

  /** Subject shapes outside the erase shapes (mapshaper `-erase`). */
  def erase(subject: Seq[Shape], eraseLayer: Seq[Shape]): Seq[Array[Double]] = {
    val m = mosaic(subject ++ eraseLayer)
    val ns = subject.length
    dissolveFaces(m.faces.filter(f =>
      inAny(f, 0, ns) && !inAny(f, ns, ns + eraseLayer.length)))
  }

  /** Union of two shape sets (mapshaper `-union` / merge+dissolve2). */
  def union(a: Seq[Shape], b: Seq[Shape]): Seq[Array[Double]] = {
    val m = mosaic(a ++ b)
    dissolveFaces(m.faces.filter(f => inAny(f, 0, a.length + b.length)))
  }

  /** Robust dissolve of one (possibly overlapping / dirty) set of shapes. */
  def dissolve2(shapes: Seq[Shape]): Seq[Array[Double]] = {
    val m = mosaic(shapes)
    dissolveFaces(m.faces.filter(f => inAny(f, 0, shapes.length)))
  }

  /** dissolve2 with `gap_fill_area=`: enclosed mosaic faces that belong to NO
   * input shape (gaps/slivers between neighbors) are absorbed into the output
   * when smaller than the threshold (reference
   * `src/dissolve/mapshaper-polygon-dissolve2.mjs:85-92` + `MosaicIndex
   * .removeGaps`; min-area rule per `mapshaper-slivers.mjs:63-69`). */
  def dissolve2GapFill(shapes: Seq[Shape], gapFillArea: Double): Seq[Array[Double]] = {
    val m = mosaic(shapes)
    dissolveFaces(m.faces.filter(f =>
      inAny(f, 0, shapes.length) || math.abs(faceArea(f)) < gapFillArea))
  }

  /** `-inlay`: insert `inlayShapes` into `base`, erasing the overlap from the
   * base first (reference: `mapshaper-inlay.mjs:7` — erase + union). The
   * combined coverage equals base ∪ inlay with the inlay on top. */
  def inlay(base: Seq[Shape], inlayShapes: Seq[Shape]): Seq[Array[Double]] =
    union(Seq(erase(base, inlayShapes).map(r => r).toSeq: Shape), inlayShapes)

  /**
   * `-clean`: repair overlaps — every mosaic tile is assigned to exactly one
   * claiming shape (reference: mosaic round-trip,
   * `src/commands/mapshaper-clean.mjs:18-112`). Gaps are left unfilled
   * (gap-fill is an option in the reference, not the default). Returns the
   * rebuilt shapes, index-aligned with the input (empty Seq where a shape
   * lost all area).
   *
   * `overlapRule` resolves which claimant keeps an overlapped tile
   * (`src/polygons/mapshaper-mosaic-index.mjs:485-500`): `min-id` (this
   * library's historical first-wins default), `max-id`, `max-area` (the
   * reference's own default), `min-area`. Ties keep the lower shape index —
   * the reference replaces the incumbent only on strictly greater weight
   * while scanning shapes in index order (`mapshaper-tile-shape-index
   * .mjs:75-82`).
   */
  def clean(shapes: Seq[Shape], overlapRule: String = "min-id"): Seq[Seq[Array[Double]]] = {
    val m = mosaic(shapes)
    val weight = overlapWeight(shapes, overlapRule)
    val byShape = Array.fill(shapes.length)(mutable.ArrayBuffer.empty[Face])
    m.faces.foreach { f =>
      var best = -1
      var i = 0
      while (i < shapes.length) {
        if (f.inLayer(i) && (best == -1 || weight(i) > weight(best))) best = i
        i += 1
      }
      if (best >= 0) byShape(best) += f
    }
    byShape.map(fs => dissolveFaces(fs.toSeq)).toSeq
  }

  /** Per-shape tile weight for an overlap rule (`mapshaper-mosaic-index
   * .mjs:485-500`). */
  private def overlapWeight(shapes: Seq[Shape], overlapRule: String): Int => Double =
    overlapRule match {
      case "min-id"   => i => -i.toDouble
      case "max-id"   => i => i.toDouble
      case "max-area" => val a = shapes.map(s => layerArea(s)).toArray; i => a(i)
      case "min-area" => val a = shapes.map(s => layerArea(s)).toArray; i => -a(i)
      case other => throw new IllegalArgumentException(s"Unknown overlap rule: $other")
    }

  /**
   * Grouped robust dissolve — `-dissolve2 <field>` with `overlap_rule=` and
   * `allow_overlaps` (`src/dissolve/mapshaper-polygon-dissolve2.mjs:68-90`):
   * with a flat mosaic (the default), each overlapped tile goes to exactly
   * one claiming shape per `overlapRule` before the per-group dissolve; with
   * `allowOverlaps`, every group keeps every tile any of its shapes covers,
   * so output groups may overlap (the reference's `flat: !opts
   * .allow_overlaps`). Returns groupId -> dissolved rings.
   */
  def dissolve2ByGroup(shapes: Seq[Shape], groups: Seq[Long],
                       overlapRule: String = "min-id",
                       allowOverlaps: Boolean = false): Map[Long, Seq[Array[Double]]] = {
    require(groups.length == shapes.length, "groups must align with shapes")
    val m = mosaic(shapes)
    val faceGroups = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Face]]
    if (allowOverlaps) {
      m.faces.foreach { f =>
        var i = 0
        val seen = mutable.HashSet.empty[Long]
        while (i < shapes.length) {
          if (f.inLayer(i) && seen.add(groups(i)))
            faceGroups.getOrElseUpdate(groups(i), mutable.ArrayBuffer.empty) += f
          i += 1
        }
      }
    } else {
      val weight = overlapWeight(shapes, overlapRule)
      m.faces.foreach { f =>
        var best = -1
        var i = 0
        while (i < shapes.length) {
          if (f.inLayer(i) && (best == -1 || weight(i) > weight(best))) best = i
          i += 1
        }
        if (best >= 0)
          faceGroups.getOrElseUpdate(groups(best), mutable.ArrayBuffer.empty) += f
      }
    }
    faceGroups.iterator.map { case (g, fs) => g -> dissolveFaces(fs.toSeq) }.toMap
  }

  /** Merge selected faces by cancelling shared edges, reassembling rings. */
  def dissolveFaces(faces: Seq[Face]): Seq[Array[Double]] = {
    val parity = mutable.HashMap.empty[(Double, Double, Double, Double), Int]
    def add(x1: Double, y1: Double, x2: Double, y2: Double): Unit = {
      if (x1 == x2 && y1 == y2) return
      val k = if (x1 < x2 || (x1 == x2 && y1 < y2)) (x1, y1, x2, y2) else (x2, y2, x1, y1)
      val c = parity.getOrElse(k, 0) + 1
      if (c == 2) parity.remove(k) else parity.update(k, c)
    }
    faces.foreach { f =>
      (f.outer +: f.holes).foreach { r =>
        var i = 0
        while (i + 3 < r.length) { add(r(i), r(i + 1), r(i + 2), r(i + 3)); i += 2 }
      }
    }
    val edges = parity.keysIterator.map { case (x1, y1, x2, y2) => Array(x1, y1, x2, y2) }.toArray
    graft.operators.RingAssembly.assemble(edges).toSeq
  }

  /** Total area of a ring set interpreted even-odd (|outer| - |holes|). */
  def layerArea(rings: Seq[Array[Double]]): Double = {
    // after dissolve, ring orientation is lost; recompute via mosaic parity:
    // simpler: sum of signed areas after orienting each ring by containment
    // parity. For verification purposes, use mosaic-free approach: signed sum
    // where a ring inside an odd number of other rings counts negative.
    val parsed = rings.map(Geom.unzipRing)
    parsed.zipWithIndex.map { case ((xs, ys), i) =>
      val a = math.abs(Geom.signedRingArea(xs, ys, 0, xs.length))
      var depth = 0
      parsed.zipWithIndex.foreach { case ((ox, oy), j) =>
        if (i != j && Geom.pointInRing(xs(0), ys(0), ox, oy, 0, ox.length) == Geom.IN) depth += 1
      }
      if (depth % 2 == 0) a else -a
    }.sum
  }
}
