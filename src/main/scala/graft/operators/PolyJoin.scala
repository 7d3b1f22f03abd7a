package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.Overlay

/**
 * Polygon→polygon join via the planar mosaic — the reference's
 * `-join` with polygon targets and polygon source
 * (`/root/reference/src/join/mapshaper-join-polygons-via-mosaic.mjs:13-39,181-283`):
 * both layers are cut into one mosaic; a target matches every source sharing
 * at least one tile; `largest-overlap` keeps the source with the maximum
 * shared area; `interpolate=` area-weights numeric source fields.
 */
object PolyJoin {

  type Keyed = (Long, Overlay.Shape)

  /** Shared area per (targetKey, sourceKey) pair, from one shared mosaic. */
  def overlapAreas(targets: Seq[Keyed], sources: Seq[Keyed]): Seq[(Long, Long, Double)] = {
    val m = Overlay.mosaic(targets.map(_._2) ++ sources.map(_._2))
    val nt = targets.length
    val acc = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    m.faces.foreach { f =>
      val a = Overlay.faceArea(f)
      var ti = 0
      while (ti < nt) {
        if (f.inLayer(ti)) {
          var si = 0
          while (si < sources.length) {
            if (f.inLayer(nt + si)) {
              val k = (targets(ti)._1, sources(si)._1)
              acc.update(k, acc.getOrElse(k, 0.0) + a)
            }
            si += 1
          }
        }
        ti += 1
      }
    }
    acc.toSeq.map { case ((t, s), a) => (t, s, a) }.sortBy(p => (p._1, p._2))
  }

  /** largest-overlap assignment: per target, the source with max shared area
   * (ties: smaller source key — deterministic). */
  def largestOverlap(targets: Seq[Keyed], sources: Seq[Keyed]): Seq[(Long, Long, Double)] =
    overlapAreas(targets, sources)
      .groupBy(_._1)
      .map { case (t, rows) =>
        val best = rows.minBy(r => (-r._3, r._2))
        (t, best._2, best._3)
      }.toSeq.sortBy(_._1)

  /** Extensive interpolation: target value = Σ_s v(s) · overlap(t,s)/area(s)
   * (a source's quantity is distributed over its own area). */
  def interpolate(targets: Seq[Keyed], sources: Seq[Keyed], values: Map[Long, Double]): Seq[(Long, Double)] = {
    val srcArea = sources.map { case (k, shape) =>
      k -> math.abs(Overlay.layerArea(shape))
    }.toMap
    overlapAreas(targets, sources)
      .groupBy(_._1)
      .map { case (t, rows) =>
        val v = rows.sortBy(_._2).map { case (_, s, a) =>
          values.getOrElse(s, 0.0) * (a / srcArea(s))
        }.sum
        (t, v)
      }.toSeq.sortBy(_._1)
  }

  /** Candidate (t_key, s_key) pairs whose bbox covering cells intersect —
   * ids only through the shuffle; shared by overlap join and `-slice`. */
  def candidatePairs(spark: SparkSession, targets: DataFrame, sources: DataFrame,
                     cellRes: Int): DataFrame = {
    def withCells(df: DataFrame, keyOut: String): DataFrame =
      df.select(col("key").cast("long").as(keyOut),
        explode(graft.functions.SpatialExprs.ringCover(col("ring"), cellRes)).as("_cell"))
    withCells(targets, "t_key").join(withCells(sources, "s_key"), Seq("_cell"))
      .select("t_key", "s_key").distinct()
  }

  /**
   * FULLY DISTRIBUTED polygon→polygon overlap: both layers keyed by covering
   * cells of their shape bboxes, candidate (target, source) pairs from the
   * cell equi-join (every pair sharing a cell, with no bbox test; deduped on
   * ids only — rings rejoined per candidate pair), then area(t ∩ s) per pair
   * via the pairwise clip kernel; a pair that does not overlap has area 0
   * and is dropped.
   * Pairwise intersection areas equal the mosaic's shared tile sums, so this
   * matches [[overlapAreas]] exactly while scaling horizontally: no driver
   * kernel, no global mosaic.
   *
   * Input DFs: (key: Long, ring: Array[Double]) — single-ring shapes.
   * Output: (t_key, s_key, shared_area), only pairs with positive area.
   */
  def overlapDistributed(spark: SparkSession, targets: DataFrame, sources: DataFrame,
                         cellRes: Int = 6): DataFrame = {
    val cand = candidatePairs(spark, targets, sources, cellRes)
    val clipAreaUdf = udf { (t: Seq[Double], s: Seq[Double]) =>
      Overlay.layerArea(Overlay.clip(Seq(Seq(t.toArray)), Seq(Seq(s.toArray))))
    }
    cand
      .join(targets.select(col("key").cast("long").as("t_key"), col("ring").as("t_ring")), Seq("t_key"))
      .join(sources.select(col("key").cast("long").as("s_key"), col("ring").as("s_ring")), Seq("s_key"))
      .select(col("t_key"), col("s_key"),
        clipAreaUdf(col("t_ring"), col("s_ring")).as("shared_area"))
      .filter(col("shared_area") > 0.0)
  }

  /** Deterministic interior point of a single ring: the area centroid if it
   * lies inside, else the first inside point of a bbox grid scan (ordered by
   * distance from the bbox center). */
  def ringInnerPoint(r: Array[Double]): (Double, Double) = {
    val (xs, ys) = graft.geom.Geom.unzipRing(r)
    val n = xs.length
    var a2 = 0.0; var cx = 0.0; var cy = 0.0
    var i = 0
    while (i < n - 1) {
      val cross = xs(i) * ys(i + 1) - xs(i + 1) * ys(i)
      a2 += cross
      cx += (xs(i) + xs(i + 1)) * cross
      cy += (ys(i) + ys(i + 1)) * cross
      i += 1
    }
    if (a2 != 0) {
      val gx = cx / (3.0 * a2); val gy = cy / (3.0 * a2)
      if (graft.geom.Geom.pointInRing(gx, gy, xs, ys, 0, n) != graft.geom.Geom.OUT)
        return (gx, gy)
    }
    // concave fallback: grid scan
    val x0 = xs.min; val x1 = xs.max; val y0 = ys.min; val y1 = ys.max
    val mx = (x0 + x1) / 2; val my = (y0 + y1) / 2
    val cands = for (gy <- 1 until 16; gx <- 1 until 16) yield
      (x0 + (x1 - x0) * gx / 16.0, y0 + (y1 - y0) * gy / 16.0)
    cands.filter { case (px, py) =>
      graft.geom.Geom.pointInRing(px, py, xs, ys, 0, n) == graft.geom.Geom.IN
    }.sortBy { case (px, py) => ((px - mx) * (px - mx) + (py - my) * (py - my), px, py) }
      .headOption.getOrElse((mx, my))
  }

  /**
   * Polygon→polygon join VIA POINTS (ref
   * `src/join/mapshaper-join-polygons-via-points.mjs:3-30`): the bigger layer
   * is reduced to interior points and PIP-joined against the broadcast
   * smaller layer. Input targets: (key, ring); output: targets + `outCol`.
   */
  def viaPoints(spark: SparkSession, targets: DataFrame,
                sourceLayer: graft.index.PolygonLayer, outCol: String = "s_key"): DataFrame = {
    val innerUdf = udf { (ring: Seq[Double]) =>
      val (x, y) = ringInnerPoint(ring.toArray)
      Array(x, y)
    }
    val pts = targets
      .withColumn("_ip", innerUdf(col("ring")))
      .withColumn("_ix", col("_ip")(0))
      .withColumn("_iy", col("_ip")(1))
      .drop("_ip")
    SpatialJoin.broadcastJoin(spark, pts, "_ix", "_iy", sourceLayer, outCol)
      .drop("_ix", "_iy")
  }

  /** largest-overlap as a distributed aggregation over an overlap table:
   * per target, max shared area; ties broken to the SMALLER source key. */
  def largestOverlapDf(overlaps: DataFrame): DataFrame =
    overlaps.groupBy("t_key")
      .agg(max_by(struct(col("s_key"), col("shared_area")),
        struct(col("shared_area"), -col("s_key"))).as("_b"))
      .select(col("t_key"), col("_b.s_key").as("s_key"),
        col("_b.shared_area").as("shared_area"))
}
