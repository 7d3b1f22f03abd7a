package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.index.PolygonLayer

/**
 * TopoJSON import/export for polygon layers — the reference's signature
 * format (`/root/reference/src/topojson/topojson-import.mjs:20-49`,
 * `topojson-export.mjs:25-108`): arcs are shared, quantized, delta-encoded
 * integer sequences; shapes reference arcs by signed index (`~i` = reversed,
 * matching the reference's arc id convention).
 */
object TopoJsonIO {

  private val mapper = new ObjectMapper()

  /** Import the first object (or all GeometryCollection members) as shapes. */
  def fromTopoJson(json: String): PolygonLayer = {
    val root = mapper.readTree(json)
    require(root.path("type").asText() == "Topology", "not TopoJSON")
    // transform (optional): quantized delta decoding
    val (sx, sy, tx, ty, quantized) = {
      val t = root.path("transform")
      if (t.isMissingNode) (1.0, 1.0, 0.0, 0.0, false)
      else (t.path("scale").get(0).asDouble(), t.path("scale").get(1).asDouble(),
        t.path("translate").get(0).asDouble(), t.path("translate").get(1).asDouble(), true)
    }
    // decode arcs
    val arcsNode = root.path("arcs")
    val arcs = (0 until arcsNode.size()).map { i =>
      val arc = arcsNode.get(i)
      val out = new Array[Double](arc.size() * 2)
      var px = 0.0
      var py = 0.0
      var j = 0
      while (j < arc.size()) {
        val pt = arc.get(j)
        if (quantized) {
          px += pt.get(0).asDouble()
          py += pt.get(1).asDouble()
          out(j * 2) = px * sx + tx
          out(j * 2 + 1) = py * sy + ty
        } else {
          out(j * 2) = pt.get(0).asDouble()
          out(j * 2 + 1) = pt.get(1).asDouble()
        }
        j += 1
      }
      out
    }

    def ringFromArcIds(ids: JsonNode): Array[Double] = {
      val flat = Array.newBuilder[Double]
      var first = true
      (0 until ids.size()).foreach { k =>
        val raw = ids.get(k).asInt()
        val (arc, rev) = if (raw >= 0) (arcs(raw), false) else (arcs(~raw), true)
        val n = arc.length / 2
        val idx = if (rev) (n - 1) to 0 by -1 else 0 until n
        idx.zipWithIndex.foreach { case (i, pos) =>
          if (pos > 0 || first) { // skip duplicated junction point between arcs
            flat += arc(i * 2)
            flat += arc(i * 2 + 1)
          }
        }
        first = false
      }
      flat.result()
    }

    val shapes = Seq.newBuilder[(Long, Seq[Array[Double]])]
    var key = 0L
    val objs = root.path("objects")
    objs.properties().forEach { e =>
      val obj = e.getValue
      val geoms: Seq[JsonNode] = obj.path("type").asText() match {
        case "GeometryCollection" =>
          val it = obj.path("geometries").elements()
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
        case _ => Seq(obj)
      }
      geoms.foreach { g =>
        g.path("type").asText() match {
          case "Polygon" =>
            val rings = (0 until g.path("arcs").size())
              .map(r => ringFromArcIds(g.path("arcs").get(r)))
            shapes += ((key, rings)); key += 1
          case "MultiPolygon" =>
            val polys = g.path("arcs")
            val rings = (0 until polys.size()).flatMap { p =>
              (0 until polys.get(p).size()).map(r => ringFromArcIds(polys.get(p).get(r)))
            }
            shapes += ((key, rings)); key += 1
          case _ =>
        }
      }
    }
    PolygonLayer.fromShapes(shapes.result())
  }

  /** Per-axis mean |dx|, |dy| over all ring segments — the reference's
   * `getAvgSegment2` (`src/paths/mapshaper-path-utils.mjs:22-31`). */
  def avgSegment2(arcs: Seq[Array[Double]]): (Double, Double) = {
    var dx = 0.0; var dy = 0.0; var count = 0L
    arcs.foreach { flat =>
      var i = 0
      while (i + 3 < flat.length) {
        dx += math.abs(flat(i) - flat(i + 2))
        dy += math.abs(flat(i + 1) - flat(i + 3))
        count += 1
        i += 2
      }
    }
    if (count == 0) (0.0, 0.0) else (dx / count, dy / count)
  }

  /**
   * TopoJSON export grid sizing — the reference's `calcExportBounds`
   * (`src/topojson/topojson-export.mjs:194-217`): `topojsonPrecision` scales
   * the per-axis average segment; `quantization=n` divides the bounds into
   * n-1 units; `precision` is an absolute unit; the DEFAULT is auto
   * quantization at 0.02 of the average segment length. Returns the
   * (xmax, ymax) of the quantized integer grid.
   */
  def exportGrid(arcs: Seq[Array[Double]], width: Double, height: Double,
                 quantization: Int = 0, topojsonPrecision: Double = 0.0,
                 precision: Double = 0.0): (Long, Long) = {
    val (ux, uy) =
      if (topojsonPrecision > 0) {
        val (ax, ay) = avgSegment2(arcs); (ax * topojsonPrecision, ay * topojsonPrecision)
      } else if (quantization > 0) {
        (width / (quantization - 1), height / (quantization - 1))
      } else if (precision > 0) {
        (precision, precision)
      } else {
        val (ax, ay) = avgSegment2(arcs); (ax * 0.02, ay * 0.02)
      }
    val xmax = if (ux > 0) math.ceil(width / ux).toLong else 0L
    val ymax = if (uy > 0) math.ceil(height / uy).toLong else 0L
    (xmax, ymax)
  }

  /**
   * Export with the reference's quantization sizing (quantization= like the
   * CLI option; 0 = the reference's DEFAULT auto rule, 0.02 of the average
   * segment per axis — `calcExportBounds`) and SHARED ARCS — the
   * buildTopology analog
   * (`/root/reference/src/topology/mapshaper-topology.mjs`,
   * `mapshaper-arc-dissolve.mjs`): rings are split at topology nodes
   * (quantized vertices whose distinct-neighbor set is not exactly 2), the
   * node-to-node chains are deduplicated across shapes (a border shared by
   * two polygons is stored ONCE), and rings reference arcs by signed index
   * (~i = reversed) like the reference's arc id convention.
   */
  def toTopoJson(layer: PolygonLayer, quantization: Int = 0): String = {
    val (x0, y0, x1, y1) = layer.extent
    val flats = (0 until layer.numRings).map(layer.ring)
    val (gx, gy) = exportGrid(flats, x1 - x0, y1 - y0, quantization = quantization)
    val kx = if (x1 > x0 && gx > 0) gx / (x1 - x0) else 1.0
    val ky = if (y1 > y0 && gy > 0) gy / (y1 - y0) else 1.0
    def qx(v: Double): Long = math.round((v - x0) * kx)
    def qy(v: Double): Long = math.round((v - y0) * ky)
    @inline def pk(x: Long, y: Long): Long = (x << 32) | y

    // quantized open rings (closing point dropped, consecutive dupes removed)
    val rings: Seq[Array[Long]] = (0 until layer.numRings).map { r =>
      val st = layer.ringStart(r); val en = layer.ringStart(r + 1)
      val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = st
      while (i < en - 1) { // skip the duplicate closing vertex
        val p = pk(qx(layer.xx(i)), qy(layer.yy(i)))
        if (buf.isEmpty || buf.last != p) buf += p
        i += 1
      }
      if (buf.length > 1 && buf.head == buf.last) buf.remove(buf.length - 1)
      buf.toArray
    }

    // topology nodes: vertices whose distinct neighbor set != 2
    val neighbors = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.HashSet[Long]]
    rings.foreach { ring =>
      val n = ring.length
      var i = 0
      while (i < n) {
        val p = ring(i)
        val prev = ring((i + n - 1) % n)
        val next = ring((i + 1) % n)
        val s = neighbors.getOrElseUpdate(p, scala.collection.mutable.HashSet.empty)
        s += prev; s += next
        i += 1
      }
    }
    def isNode(p: Long): Boolean = neighbors(p).size != 2

    // split rings into arcs at nodes; dedup arcs by canonical orientation
    val arcTable = scala.collection.mutable.LinkedHashMap.empty[Seq[Long], Int]
    def arcId(pts: Array[Long]): Int = { // signed TopoJSON id
      val fwd = pts.toSeq
      val rev = pts.reverse.toSeq
      if (arcTable.contains(fwd)) arcTable(fwd)
      else if (arcTable.contains(rev)) ~arcTable(rev)
      else { val id = arcTable.size; arcTable(fwd) = id; id }
    }
    val ringArcs: Seq[Seq[Int]] = rings.map { ring =>
      val n = ring.length
      if (n < 2) Seq.empty
      else {
        val nodeIdx = (0 until n).filter(i => isNode(ring(i)))
        if (nodeIdx.isEmpty) {
          // isolated ring: one closed arc, original start preserved (so a
          // round-trip reproduces vertex order; cross-ring dedup only applies
          // to genuinely shared borders, which always carry nodes)
          val closed = Array.tabulate(n + 1)(j => ring(j % n))
          Seq(arcId(closed))
        } else {
          // chains from node to node (cyclic)
          val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
          var s = 0
          while (s < nodeIdx.length) {
            val a = nodeIdx(s)
            val b = nodeIdx((s + 1) % nodeIdx.length)
            val len = (b - a + n) % n match { case 0 => n; case l => l }
            val chain = Array.tabulate(len + 1)(j => ring((a + j) % n))
            ids += arcId(chain)
            s += 1
          }
          ids.toSeq
        }
      }
    }

    // serialize: delta-encoded arcs + shape geometries
    val sb = new StringBuilder
    sb.append(s"""{"type":"Topology","transform":{"scale":[${1.0 / kx},${1.0 / ky}],"translate":[$x0,$y0]},"arcs":[""")
    var firstArc = true
    arcTable.keysIterator.foreach { arc =>
      if (!firstArc) sb.append(',')
      firstArc = false
      sb.append('[')
      var px = 0L; var py = 0L
      var i = 0
      while (i < arc.length) {
        val cx = arc(i) >> 32
        val cy = arc(i) & 0xffffffffL
        if (i > 0) sb.append(',')
        sb.append('[').append(cx - px).append(',').append(cy - py).append(']')
        px = cx; py = cy
        i += 1
      }
      sb.append(']')
    }
    sb.append("""],"objects":{"layer":{"type":"GeometryCollection","geometries":[""")
    var first = true
    var s = 0
    while (s < layer.numShapes) {
      if (!first) sb.append(',')
      first = false
      val ringIds = (0 until layer.numRings).filter(layer.ringShape(_) == s)
      val arcsJson = ringIds.map(r0 => ringArcs(r0).mkString("[", ",", "]")).mkString(",")
      sb.append(s"""{"type":"Polygon","arcs":[$arcsJson],"id":${layer.shapeKeys(s)}}""")
      s += 1
    }
    sb.append("]}}}")
    sb.toString
  }
}
