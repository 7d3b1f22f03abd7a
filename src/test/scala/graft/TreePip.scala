package graft

import graft.geom.Geom
import graft.index.PolygonLayer

/**
 * Reference point-in-polygon over a [[PolygonLayer]] that shares nothing with
 * its grid index: candidate rings come from the packed R-tree
 * (`layer.tree`), are grouped by shape and combined even-odd with the
 * boundary counted as enclosed (the reference's `PathIndex`:
 * `findEnclosingShapes` + `testPointInRings`). Plain and allocating;
 * `IndexSpec` asserts the grid probes equal it.
 */
object TreePip {

  /** Indexes of all shapes enclosing (x, y), ascending. */
  def findShapes(layer: PolygonLayer, x: Double, y: Double): Array[Int] = {
    val cand = layer.tree.search(x, y, x, y).sorted
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < cand.length) {
      val shape = layer.ringShape(cand(i))
      var isIn = false
      var isOn = false
      while (i < cand.length && layer.ringShape(cand(i)) == shape) {
        layer.pointInRing(x, y, cand(i)) match {
          case Geom.ON => isOn = true
          case Geom.IN => isIn = !isIn
          case _       =>
        }
        i += 1
      }
      if (isOn || isIn) out += shape
    }
    out.result()
  }

  /** Keys of all enclosing shapes, ascending shape order. */
  def findKeys(layer: PolygonLayer, x: Double, y: Double): Array[Long] =
    findShapes(layer, x, y).map(layer.shapeKeys(_))

  /** Key of the first enclosing shape, or -1. */
  def findFirstKey(layer: PolygonLayer, x: Double, y: Double): Long =
    findKeys(layer, x, y).headOption.getOrElse(-1L)
}
