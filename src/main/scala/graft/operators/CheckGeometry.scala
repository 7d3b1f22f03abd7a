package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * `-check-geometry` — report self-intersections among a layer's segments
 * (reference: `src/commands/mapshaper-check-geometry.mjs:6-16`, which counts
 * `findSegmentIntersections(dataset.arcs)` hits and stops under `strict`).
 *
 * Distributed shape: segments are assigned to grid cells covering their
 * bounding boxes (the same divide-and-conquer the reference's stripe-based
 * `mapshaper-segment-intersection.mjs` uses, but cells instead of stripes so
 * the pair tests partition across executors); candidate pairs meet inside a
 * cell, the exact orientation test runs as codegen column arithmetic, and a
 * final distinct over (id_lo, id_hi) dedups pairs whose bboxes straddle
 * several cells. Only (id, 4 doubles) ever shuffles; counts and pair lists
 * stay fully distributed.
 *
 * Semantics: a pair of segments intersects when the segments properly cross
 * or touch (inclusive orientation test: each segment's endpoints lie on
 * opposite sides or on the line of the other, with overlapping bboxes);
 * pairs that share an endpoint are excluded, matching the reference's
 * exclusion of same-vertex joins (`mapshaper-segment-intersection.mjs`
 * skips segments joined at a common point).
 */
object CheckGeometry {

  /** Orientation of (px,py) relative to directed segment (x1,y1)->(x2,y2). */
  private def orient(x1: Column, y1: Column, x2: Column, y2: Column,
                     px: Column, py: Column): Column =
    (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)

  /**
   * Find intersecting segment pairs. `segs` needs (idCol, x1, y1, x2, y2).
   * Returns one row per intersecting pair: (id_a, id_b) with id_a < id_b.
   */
  def intersectingPairs(segs: DataFrame, idCol: String, cellSize: Double): DataFrame = {
    // Supercover column walk: for each x-column the segment crosses, emit
    // only the y-cells its span within that column touches — O(len/cell)
    // candidate rows for a near-diagonal segment where a bbox cover would
    // explode O((len/cell)²). A ±cellSize*1e-9 y-pad guards ulp
    // disagreements between two segments about an intersection exactly on a
    // row boundary (the column range needs no pad: floor(x/cell) of the
    // same coordinate is identical on both sides).
    def cells(p: String): Column = {
      val x1 = col(s"${p}x1"); val y1 = col(s"${p}y1")
      val x2 = col(s"${p}x2"); val y2 = col(s"${p}y2")
      val minx = least(x1, x2)
      val maxx = greatest(x1, x2)
      val cx0 = floor(minx / cellSize).cast("long")
      val cx1 = floor(maxx / cellSize).cast("long")
      val pad = cellSize * 1e-9
      flatten(transform(sequence(cx0, cx1), cx => {
        val xlo = greatest(minx, cx.cast("double") * cellSize)
        val xhi = least(maxx, (cx.cast("double") + lit(1.0)) * cellSize)
        def yAt(x: Column): Column = y1 + (x - x1) * (y2 - y1) / (x2 - x1)
        val vertical = x1 === x2
        val ya = when(vertical, least(y1, y2)).otherwise(least(yAt(xlo), yAt(xhi)))
        val yb = when(vertical, greatest(y1, y2)).otherwise(greatest(yAt(xlo), yAt(xhi)))
        val cy0 = floor((ya - pad) / cellSize).cast("long")
        val cy1 = floor((yb + pad) / cellSize).cast("long")
        transform(sequence(cy0, cy1), cy => cx * 4000037L + cy)
      }))
    }
    val base = segs.select(col(idCol).as("sid"),
      col("x1"), col("y1"), col("x2"), col("y2"))
    val a = base.toDF("a_id", "ax1", "ay1", "ax2", "ay2")
      .withColumn("cell", explode(cells("a")))
    val b = base.toDF("b_id", "bx1", "by1", "bx2", "by2")
      .withColumn("cell", explode(cells("b")))
    val o1 = orient(col("ax1"), col("ay1"), col("ax2"), col("ay2"), col("bx1"), col("by1"))
    val o2 = orient(col("ax1"), col("ay1"), col("ax2"), col("ay2"), col("bx2"), col("by2"))
    val o3 = orient(col("bx1"), col("by1"), col("bx2"), col("by2"), col("ax1"), col("ay1"))
    val o4 = orient(col("bx1"), col("by1"), col("bx2"), col("by2"), col("ax2"), col("ay2"))
    val sharesEndpoint =
      (col("ax1") === col("bx1") && col("ay1") === col("by1")) ||
      (col("ax1") === col("bx2") && col("ay1") === col("by2")) ||
      (col("ax2") === col("bx1") && col("ay2") === col("by1")) ||
      (col("ax2") === col("bx2") && col("ay2") === col("by2"))
    val bboxOverlap =
      least(col("ax1"), col("ax2")) <= greatest(col("bx1"), col("bx2")) &&
      least(col("bx1"), col("bx2")) <= greatest(col("ax1"), col("ax2")) &&
      least(col("ay1"), col("ay2")) <= greatest(col("by1"), col("by2")) &&
      least(col("by1"), col("by2")) <= greatest(col("ay1"), col("ay2"))
    // inclusive crossing test; collinear disjoint pairs are rejected by the
    // bbox overlap + both-orientations-zero-on-one-side check
    val crosses = (o1 * o2 <= 0) && (o3 * o4 <= 0) &&
      !(o1 === 0 && o2 === 0 && !bboxOverlap)
    a.join(b, Seq("cell"))
      .where(col("a_id") < col("b_id") && !sharesEndpoint && bboxOverlap && crosses)
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  /** The `-check-geometry` report: total number of intersecting pairs.
   * With `strict`, callers should fail the pipeline when n > 0 (the
   * reference `stop`s, `mapshaper-check-geometry.mjs:12-14`). */
  def intersectionCount(segs: DataFrame, idCol: String, cellSize: Double): Long =
    intersectingPairs(segs, idCol, cellSize).count()
}
