package graft.index

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.unsafe.Platform

/**
 * Static flat-array KD-tree over (id, x, y) points, in the reference's
 * kdbush layout (`src/points/mapshaper-point-index.mjs:11-47`): `ids` and
 * interleaved `coords` are sorted in place so that every range [l, r] longer
 * than a leaf is split at its middle m on alternating axes (x first), with
 * every item of [l, m-1] <= coords(m) <= every item of [m+1, r] on that
 * axis. No node objects: 24 bytes per point, built once on the Spark driver
 * and broadcast as is.
 *
 * Points with a NaN coordinate cannot be placed on an axis; they sit after
 * the tree (positions `treeSize` until `size`) and every search scans them.
 *
 * An id held by several points is kept in a small side index
 * (`dupKeys` -> `dupPoints`), so a probe for that id searches from each of
 * its points into one ranking. See [[KnnSearcher]] for the search law.
 */
final class PointTree private (
    private[index] val ids: Array[Long],
    private[index] val coords: Array[Double],
    private[index] val treeSize: Int,
    dupKeys: Array[Long],
    private[index] val dupPoints: Array[Array[Int]]) extends Serializable {

  def size: Int = ids.length

  /** Whether some id is held by more than one point. */
  def hasDuplicateIds: Boolean = dupKeys.nonEmpty

  /** Positions of the points holding `id` when the id repeats, else null. */
  private[index] def pointsOf(id: Long): Array[Int] =
    if (dupKeys.isEmpty) null
    else {
      val g = java.util.Arrays.binarySearch(dupKeys, id)
      if (g < 0) null else dupPoints(g)
    }

  /** Search state for one task; not thread-safe. */
  def searcher(k: Int): KnnSearcher = new KnnSearcher(this, k)
}

object PointTree {
  /** Longest range kept unsplit (kdbush's default node size). */
  val NodeSize = 64

  /** Broadcast bytes per point: one long id and two double coordinates. */
  val BytesPerPoint = 24L

  def build(ids: Array[Long], xs: Array[Double], ys: Array[Double]): PointTree = {
    val n = ids.length
    // orderable points first, NaN-coordinate points after
    val (ok, nan) = (0 until n).partition(i => !xs(i).isNaN && !ys(i).isNaN)
    val order = (ok ++ nan).toArray
    val tid = order.map(ids(_))
    val tc = order.flatMap(i => Array(xs(i), ys(i)))
    sortKD(tid, tc, 0, ok.length - 1, 0)

    val sorted = tid.sorted
    val dupKeys = (1 until n).filter(i => sorted(i) == sorted(i - 1)).map(sorted(_)).distinct.toArray
    val byId = if (dupKeys.isEmpty) Map.empty[Long, IndexedSeq[Int]]
      else (0 until n).filter(p => java.util.Arrays.binarySearch(dupKeys, tid(p)) >= 0).groupBy(tid(_))
    new PointTree(tid, tc, ok.length, dupKeys, dupKeys.map(byId(_).toArray))
  }

  private def sortKD(ids: Array[Long], coords: Array[Double], l: Int, r: Int, axis: Int): Unit =
    if (r - l > NodeSize) {
      val m = (l + r) >>> 1
      select(ids, coords, m, l, r, axis)
      sortKD(ids, coords, l, m - 1, 1 - axis)
      sortKD(ids, coords, m + 1, r, 1 - axis)
    }

  /** Floyd-Rivest selection: puts the k-th smallest of [l, r] on `axis` at
   * k, with smaller-or-equal items before it and greater-or-equal after. */
  private def select(ids: Array[Long], coords: Array[Double], k: Int, l0: Int, r0: Int,
                     axis: Int): Unit = {
    var l = l0
    var r = r0
    while (r > l) {
      if (r - l > 600) {
        val n = (r - l + 1).toDouble
        val m = (k - l + 1).toDouble
        val z = math.log(n)
        val s = 0.5 * math.exp(2 * z / 3)
        val sd = 0.5 * math.sqrt(z * s * (n - s) / n) * (if (m - n / 2 < 0) -1 else 1)
        select(ids, coords, k, math.max(l, math.floor(k - m * s / n + sd).toInt),
          math.min(r, math.floor(k + (n - m) * s / n + sd).toInt), axis)
      }
      val t = coords(2 * k + axis)
      var i = l
      var j = r
      swap(ids, coords, l, k)
      if (coords(2 * r + axis) > t) swap(ids, coords, l, r)
      while (i < j) {
        swap(ids, coords, i, j)
        i += 1
        j -= 1
        while (coords(2 * i + axis) < t) i += 1
        while (coords(2 * j + axis) > t) j -= 1
      }
      if (coords(2 * l + axis) == t) swap(ids, coords, l, j)
      else { j += 1; swap(ids, coords, j, r) }
      if (j <= k) l = j + 1
      if (k <= j) r = j - 1
    }
  }

  private def swap(ids: Array[Long], coords: Array[Double], i: Int, j: Int): Unit = {
    val id = ids(i); ids(i) = ids(j); ids(j) = id
    val x = coords(2 * i); coords(2 * i) = coords(2 * j); coords(2 * j) = x
    val y = coords(2 * i + 1); coords(2 * i + 1) = coords(2 * j + 1); coords(2 * j + 1) = y
  }
}

/**
 * k-nearest-neighbour search over a [[PointTree]], equal to ranking the
 * cross join with a `row_number` window ordered by (dist2, neighbour id):
 *  - dist2 = (ax-bx)*(ax-bx) + (ay-by)*(ay-by), in that order, so the value
 *    is the one the window path computes, bit for bit;
 *  - candidates holding the query's id are skipped (a_id != b_id);
 *  - ranking compares dist2 as Spark orders doubles (NaN last and equal to
 *    NaN), then the neighbour id;
 *  - a subtree is skipped only when its box's minimum dist2 is strictly
 *    greater than the current k-th dist2. Floating-point subtraction,
 *    squaring and addition are monotone, so every point in that box then
 *    has a dist2 strictly greater too and cannot even tie in;
 *  - with fewer than k other points the search visits them all and returns
 *    them all.
 * The bounded heap is reused across rows; each result is a fresh
 * `array<struct<neighbor_id: long, dist2: double>>` in ascending rank order.
 */
final class KnnSearcher(tree: PointTree, k: Int) {
  private val ids = tree.ids
  private val coords = tree.coords
  private val treeSize = tree.treeSize
  private val size = tree.size

  // max-heap on (dist2, id): the root is the current k-th. A probe offers at
  // most size candidates per point of its id.
  private val hd = new Array[Double](math.max(0L, math.min(k.toLong,
    size.toLong * tree.dupPoints.foldLeft(1)((m, g) => math.max(m, g.length)))).toInt)
  private val hi = new Array[Long](hd.length)
  private var len = 0
  private var qid = 0L
  private var qx = 0.0
  private var qy = 0.0

  def probe(id: Long, x: Double, y: Double): ArrayData = {
    len = 0
    qid = id
    if (k > 0) {
      val from = tree.pointsOf(id)
      if (from == null) search(x, y)
      else from.foreach(p => search(coords(2 * p), coords(2 * p + 1)))
    }
    result()
  }

  private def search(x: Double, y: Double): Unit = {
    qx = x
    qy = y
    node(0, treeSize - 1, 0, Double.NegativeInfinity, Double.NegativeInfinity,
      Double.PositiveInfinity, Double.PositiveInfinity)
    scan(treeSize, size - 1)
  }

  private def node(l: Int, r: Int, axis: Int,
                   x0: Double, y0: Double, x1: Double, y1: Double): Unit =
    if (r - l <= PointTree.NodeSize) scan(l, r)
    else {
      val m = (l + r) >>> 1
      offer(m)
      val s = coords(2 * m + axis)
      def low(): Unit =
        if (axis == 0) visit(l, m - 1, 1, x0, y0, s, y1) else visit(l, m - 1, 0, x0, y0, x1, s)
      def high(): Unit =
        if (axis == 0) visit(m + 1, r, 1, s, y0, x1, y1) else visit(m + 1, r, 0, x0, s, x1, y1)
      // the query's side first, so the k-th shrinks before the far side is tested
      if ((if (axis == 0) qx else qy) < s) { low(); high() } else { high(); low() }
    }

  private def visit(l: Int, r: Int, axis: Int,
                    x0: Double, y0: Double, x1: Double, y1: Double): Unit =
    if (l <= r) {
      if (len < k) node(l, r, axis, x0, y0, x1, y1)
      else {
        val dx = if (qx < x0) x0 - qx else if (qx > x1) qx - x1 else 0.0
        val dy = if (qy < y0) y0 - qy else if (qy > y1) qy - y1 else 0.0
        if (!(dx * dx + dy * dy > hd(0))) node(l, r, axis, x0, y0, x1, y1)
      }
    }

  private def scan(l: Int, r: Int): Unit = {
    var p = l
    while (p <= r) { offer(p); p += 1 }
  }

  @inline private def before(d: Double, id: Long, e: Double, jd: Long): Boolean = {
    val c = SQLOrderingUtil.compareDoubles(d, e)
    c < 0 || (c == 0 && id < jd)
  }

  private def offer(p: Int): Unit = {
    val b = ids(p)
    if (b != qid) {
      val bx = coords(2 * p)
      val by = coords(2 * p + 1)
      val d = (qx - bx) * (qx - bx) + (qy - by) * (qy - by)
      if (len < k) {
        var c = len
        len += 1
        while (c > 0 && before(hd((c - 1) >>> 1), hi((c - 1) >>> 1), d, b)) {
          val parent = (c - 1) >>> 1
          hd(c) = hd(parent); hi(c) = hi(parent)
          c = parent
        }
        hd(c) = d; hi(c) = b
      } else if (before(d, b, hd(0), hi(0))) siftDown(d, b, len)
    }
  }

  /** Puts (d, b) at the root of the first `n` heap slots and restores the heap. */
  private def siftDown(d: Double, b: Long, n: Int): Unit = {
    var c = 0
    var done = false
    while (!done) {
      var child = 2 * c + 1
      if (child >= n) done = true
      else {
        if (child + 1 < n && before(hd(child), hi(child), hd(child + 1), hi(child + 1))) child += 1
        if (before(d, b, hd(child), hi(child))) {
          hd(c) = hd(child); hi(c) = hi(child)
          c = child
        } else done = true
      }
    }
    hd(c) = d; hi(c) = b
  }

  /** Heap-sorts the found neighbours ascending and packs them as an
   * UnsafeArrayData of two-field UnsafeRows. */
  private def result(): ArrayData = {
    var n = len
    while (n > 1) {
      val d = hd(n - 1); val b = hi(n - 1)
      hd(n - 1) = hd(0); hi(n - 1) = hi(0)
      n -= 1
      siftDown(d, b, n)
    }
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(len)
    val rowBytes = 24 // null bitset word + neighbor_id + dist2
    val bytes = header + 8 * len + rowBytes * len
    val buf = new Array[Byte](bytes)
    val base = Platform.BYTE_ARRAY_OFFSET.toLong
    Platform.putLong(buf, base, len.toLong)
    var i = 0
    while (i < len) {
      val off = header + 8 * len + rowBytes * i
      Platform.putLong(buf, base + header + 8L * i, (off.toLong << 32) | rowBytes)
      Platform.putLong(buf, base + off + 8, hi(i))
      Platform.putDouble(buf, base + off + 16, hd(i))
      i += 1
    }
    val out = new UnsafeArrayData()
    out.pointTo(buf, base, bytes)
    out
  }
}
