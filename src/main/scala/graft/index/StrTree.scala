package graft.index

/**
 * Packed static R-tree over rectangles — a from-scratch equivalent of the
 * Flatbush structure the reference wraps for all its spatial candidate lookups
 * (`/root/reference/src/geom/mapshaper-bounds-search.mjs:6-28`, used by
 * `PathIndex` at `src/paths/mapshaper-path-index.mjs:10`).
 *
 * Build once (Hilbert-sorted leaves, bottom-up packed levels in flat arrays),
 * query many. Immutable, `Serializable`, arrays-only — cheap to broadcast and
 * friendly to the JIT. No per-query allocation beyond the result builder.
 */
final class StrTree private (
    val numItems: Int,
    nodeSize: Int,
    boxes: Array[Double],     // 4 doubles per node, leaves first
    indices: Array[Int],      // node -> item id (leaves) or child offset (inner)
    levelBounds: Array[Int]   // exclusive end offset (in nodes) of each level
) extends Serializable {

  /** Item ids of all rectangles intersecting the query box. */
  def search(minX: Double, minY: Double, maxX: Double, maxY: Double): Array[Int] = {
    val out = Array.newBuilder[Int]
    forEach(minX, minY, maxX, maxY)(out += _)
    out.result()
  }

  /** Visit item ids of rectangles intersecting the query box. */
  def forEach(minX: Double, minY: Double, maxX: Double, maxY: Double)(f: Int => Unit): Unit = {
    if (numItems == 0) return
    var stack = new Array[Int](64)
    var sp = 0
    var nodeIndex = boxes.length / 4 - 1 // root is the last node
    // a node here = position in `boxes`; inner nodes reference first child
    var continue = true
    while (continue) {
      // find the end of this node's children run
      val level = levelOf(nodeIndex)
      val end = math.min(nodeIndex + nodeSize, levelBounds(level))
      var pos = nodeIndex
      while (pos < end) {
        val b = pos * 4
        if (!(maxX < boxes(b) || maxY < boxes(b + 1) || minX > boxes(b + 2) || minY > boxes(b + 3))) {
          if (nodeIndex < levelBounds(0)) {
            f(indices(pos)) // leaf
          } else {
            if (sp == stack.length) stack = java.util.Arrays.copyOf(stack, sp * 2)
            stack(sp) = indices(pos)
            sp += 1
          }
        }
        pos += 1
      }
      if (sp > 0) { sp -= 1; nodeIndex = stack(sp) } else continue = false
    }
  }

  private def levelOf(nodeIndex: Int): Int = {
    var l = 0
    while (nodeIndex >= levelBounds(l)) l += 1
    l
  }
}

object StrTree {

  final val DefaultNodeSize = 16

  /** Build from item boxes: (minX, minY, maxX, maxY) per item, 4 doubles each. */
  def build(itemBoxes: Array[Double], nodeSize: Int = DefaultNodeSize): StrTree = {
    val n = itemBoxes.length / 4
    if (n == 0) return new StrTree(0, nodeSize, new Array[Double](4), new Array[Int](0), Array(1))

    // level sizes, bottom-up
    val levelSizes = {
      val b = Array.newBuilder[Int]
      var cnt = n
      b += cnt
      while (cnt > 1) { cnt = (cnt + nodeSize - 1) / nodeSize; b += cnt }
      b.result()
    }
    val levelStart = levelSizes.scanLeft(0)(_ + _) // start offset of each level
    val numNodes = levelStart.last
    val levelBounds = levelStart.drop(1)

    val boxes = new Array[Double](numNodes * 4)
    val indices = new Array[Int](numNodes)

    // global extent for Hilbert quantization
    var gMinX = Double.MaxValue; var gMinY = Double.MaxValue
    var gMaxX = Double.MinValue; var gMaxY = Double.MinValue
    var i = 0
    while (i < n) {
      val b = i * 4
      if (itemBoxes(b) < gMinX) gMinX = itemBoxes(b)
      if (itemBoxes(b + 1) < gMinY) gMinY = itemBoxes(b + 1)
      if (itemBoxes(b + 2) > gMaxX) gMaxX = itemBoxes(b + 2)
      if (itemBoxes(b + 3) > gMaxY) gMaxY = itemBoxes(b + 3)
      i += 1
    }
    val wx = if (gMaxX > gMinX) 65535.0 / (gMaxX - gMinX) else 0.0
    val wy = if (gMaxY > gMinY) 65535.0 / (gMaxY - gMinY) else 0.0

    // sort items by Hilbert value of box center
    val order = (0 until n).toArray
    val hilberts = new Array[Long](n)
    i = 0
    while (i < n) {
      val b = i * 4
      val cx = ((itemBoxes(b) + itemBoxes(b + 2)) / 2 - gMinX) * wx
      val cy = ((itemBoxes(b + 1) + itemBoxes(b + 3)) / 2 - gMinY) * wy
      hilberts(i) = hilbert(cx.toInt, cy.toInt)
      i += 1
    }
    val sorted = order.sortBy(i => hilberts(i))

    // leaves
    i = 0
    while (i < n) {
      val src = sorted(i) * 4
      val dst = i * 4
      boxes(dst) = itemBoxes(src)
      boxes(dst + 1) = itemBoxes(src + 1)
      boxes(dst + 2) = itemBoxes(src + 2)
      boxes(dst + 3) = itemBoxes(src + 3)
      indices(i) = sorted(i)
      i += 1
    }

    // upper levels
    var level = 0
    while (level < levelSizes.length - 1) {
      val childStart = levelStart(level)
      val childEnd = levelBounds(level)
      val parentStart = levelStart(level + 1)
      var child = childStart
      var parent = parentStart
      while (child < childEnd) {
        val last = math.min(child + nodeSize, childEnd)
        var minX = Double.MaxValue; var minY = Double.MaxValue
        var maxX = Double.MinValue; var maxY = Double.MinValue
        indices(parent) = child
        var c = child
        while (c < last) {
          val b = c * 4
          if (boxes(b) < minX) minX = boxes(b)
          if (boxes(b + 1) < minY) minY = boxes(b + 1)
          if (boxes(b + 2) > maxX) maxX = boxes(b + 2)
          if (boxes(b + 3) > maxY) maxY = boxes(b + 3)
          c += 1
        }
        val pb = parent * 4
        boxes(pb) = minX; boxes(pb + 1) = minY; boxes(pb + 2) = maxX; boxes(pb + 3) = maxY
        parent += 1
        child = last
      }
      level += 1
    }

    new StrTree(n, nodeSize, boxes, indices, levelBounds)
  }

  /** 32-bit Hilbert d-index of a 16-bit (x, y) pair. */
  def hilbert(x0: Int, y0: Int): Long = {
    var rx = 0
    var ry = 0
    var d = 0L
    var x = x0
    var y = y0
    var s = 1 << 15
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s.toLong * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
