package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.FeatureExprs

/**
 * `-filter-islands2` — remove island rings that meet a min-area or
 * min-vertices criterion (reference:
 * `src/commands/mapshaper-filter-islands2.mjs:15-118`).
 *
 * The reference's definition of a removable island: a positive-area ring
 * made of a single arc (`path.length == 1`) whose arc is used by exactly one
 * shape (`counts[arc] === 1`, so it is not a donut-hole boundary), that
 * passes the area/vertex filter, and that does not itself contain holes
 * (`ringHasHoles`). In the edge model that translates to: a ring none of
 * whose undirected edges is shared with any other ring.
 *
 * Distributed shape: edge ownership counts are one shuffle keyed by the
 * canonical edge coordinates (ring arrays never shuffle — only coords +
 * ring id); the hole-containment test joins candidate islands to the same
 * shape's negative-area rings on the shape key.
 */
object FilterIslands2 {

  /** Even-odd PIP of (px,py) against a flat closed ring (per-candidate rows
   * only — bounded by the number of island×hole pairs within one shape).
   * A half-open crossing rule, not [[graft.geom.Geom.pointInRing]]: a point
   * on the ring's boundary comes out in or out here, where that reports ON. */
  private val pipUdf = udf { (flat: Seq[Double], px: Double, py: Double) =>
    val n = flat.length / 2
    var inside = false
    var i = 0
    while (i < n - 1) {
      val x1 = flat(i * 2); val y1 = flat(i * 2 + 1)
      val x2 = flat(i * 2 + 2); val y2 = flat(i * 2 + 3)
      if ((x1 > px) != (x2 > px) &&
          y1 + (px - x1) * (y2 - y1) / (x2 - x1) > py) inside = !inside
      i += 1
    }
    inside
  }

  /**
   * Drop removable islands from a layer of rings. `rings` needs a unique
   * ring id (`ridCol`), the owning shape key (`keyCol`) and a flat closed
   * ring (`ringCol`, signed: positive = outer, negative = hole).
   * Exactly one of `minArea` / `minVertices` selects the criterion
   * (`mapshaper-filter-islands2.mjs:28-33`).
   */
  def apply(rings: DataFrame, ridCol: String, keyCol: String, ringCol: String,
            minArea: Double = 0.0, minVertices: Int = 0): DataFrame = {
    require(minArea > 0 ^ minVertices > 0,
      "need exactly one of min-area / min-vertices")

    // islands: rings whose every canonical edge is globally unshared
    val edges = Lines.segments(rings, ringCol, Seq(ridCol))
    val lt = (col("x1") < col("x2")) ||
      (col("x1") === col("x2") && col("y1") < col("y2"))
    val canon = edges.select(col(ridCol),
      when(lt, col("x1")).otherwise(col("x2")).as("ex1"),
      when(lt, col("y1")).otherwise(col("y2")).as("ey1"),
      when(lt, col("x2")).otherwise(col("x1")).as("ex2"),
      when(lt, col("y2")).otherwise(col("y1")).as("ey2"))
    val counts = canon.groupBy("ex1", "ey1", "ex2", "ey2")
      .agg(count(lit(1)).as("c"))
    val ringShare = canon.join(counts, Seq("ex1", "ey1", "ex2", "ey2"))
      .groupBy(col(ridCol)).agg(max(col("c")).as("max_share"))

    val withMeta = rings
      .withColumn("_area", FeatureExprs.ringSignedArea(col(ringCol)))
      .withColumn("_nv", (size(col(ringCol)) / 2 - 1).cast("long"))
      .join(ringShare, Seq(ridCol))
    val criterion =
      if (minArea > 0) col("_area") < minArea else col("_nv") < minVertices
    val candidates = withMeta
      .where(col("max_share") === 1 && col("_area") > 0 && criterion)
      .select(col(ridCol).as("_cand_rid"), col(keyCol).as("_cand_key"),
        col(ringCol).as("_cand_ring"))

    // a candidate survives if a hole ring of the same shape sits inside it
    val holes = withMeta.where(col("_area") < 0)
      .select(col(keyCol).as("_hole_key"),
        col(ringCol).getItem(0).as("_hx"), col(ringCol).getItem(1).as("_hy"))
    val withHoles = candidates
      .join(holes, col("_cand_key") === col("_hole_key"), "left")
      .groupBy("_cand_rid")
      .agg(max(when(col("_hx").isNotNull &&
        pipUdf(col("_cand_ring"), col("_hx"), col("_hy")), 1).otherwise(0)).as("has_hole"))
    val removable = withHoles.where(col("has_hole") === 0)
      .select(col("_cand_rid").as(ridCol))

    rings.join(removable, Seq(ridCol), "left_anti")
  }
}
