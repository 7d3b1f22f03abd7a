package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.Overlay

/**
 * Distributed drivers for the planar overlay kernel ([[graft.geom.Overlay]]):
 * mapshaper's `-clip` / `-erase` / `-union` / `-dissolve2` semantics.
 *
 * Scale model: overlay is global only per CONNECTED COMPONENT of geometry.
 * Rows carry whole shapes; co-location key = spatial cell (here: the group
 * column, at scale a cellId from [[graft.cell.CellIndex]]), so each task runs
 * the kernel on one component — the same decomposition the reference applies
 * per mosaic component (`src/polygons/mapshaper-mosaic-index.mjs`).
 */
object OverlayOp {

  /** Clip each subject shape row against a broadcast clip layer (one shape).
   * Input: (id, ring); output: (id, n_rings, area after clip). */
  def clipRows(spark: SparkSession, shapes: DataFrame, idCol: String, ringCol: String,
               clipShape: Seq[Array[Double]], erase: Boolean = false): DataFrame = {
    val bc = spark.sparkContext.broadcast(clipShape)
    val clipUdf = udf { (ring: Seq[Double]) =>
      val subject = Seq(Seq(ring.toArray))
      val out = if (erase) Overlay.erase(subject, Seq(bc.value))
                else Overlay.clip(subject, Seq(bc.value))
      val area = Overlay.layerArea(out)
      (out.length, area)
    }
    shapes
      .withColumn("_r", clipUdf(col(ringCol)))
      .select(col(idCol), col("_r._1").as("n_rings"), col("_r._2").as("clip_area"))
  }

  /** Robust per-group dissolve (mosaic based) of possibly-overlapping shapes.
   * Input: (groupCol, ring) one single-ring shape per row.
   * Output: (group, n_shapes_in, n_rings_out, area). */
  def dissolve2(spark: SparkSession, shapes: DataFrame, groupCol: String, ringCol: String): DataFrame = {
    import spark.implicits._
    shapes.select(col(groupCol).cast("long").as("g"), col(ringCol).as("ring"))
      .as[(Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (g, it) =>
        val rings = it.map(_._2).toSeq
        val out = Overlay.dissolve2(rings.map(r => Seq(r)))
        (g, rings.size.toLong, out.length.toLong, Overlay.layerArea(out))
      }
      .toDF("group", "n_shapes_in", "n_rings_out", "area")
  }

  /**
   * FULLY DISTRIBUTED `-clip` / `-erase` of a target layer against a clip
   * LAYER (not one broadcast shape): candidate (target, clip) pairs come from
   * the id-only cell join; each target then runs ONE overlay kernel against
   * the collected candidate clip rings (bounded by spatial locality). Targets
   * with no candidates pass through whole under erase and vanish under clip.
   * Input: (key, ring) single-ring shapes both sides.
   * Output: (t_key, n_rings, area).
   */
  def clipLayerDistributed(spark: SparkSession, targets: DataFrame, clips: DataFrame,
                           cellRes: Int = 6, erase: Boolean = false): DataFrame = {
    import spark.implicits._
    val cand = PolyJoin.candidatePairs(spark, targets, clips, cellRes)
    val clipRings = cand
      .join(clips.select(col("key").cast("long").as("s_key"), col("ring").as("s_ring")), Seq("s_key"))
      .groupBy("t_key").agg(collect_list(col("s_ring")).as("clip_rings"))
    val doErase = erase
    targets.select(col("key").cast("long").as("t_key"), col("ring"))
      .join(clipRings, Seq("t_key"), "left")
      .as[(Long, Array[Double], Seq[Seq[Double]])]
      .flatMap { case (tKey, ring, clipsRaw) =>
        val subject: Seq[Overlay.Shape] = Seq(Seq(ring))
        if (clipsRaw == null) {
          if (doErase) Some((tKey, 1L, math.abs(graft.geom.Geom.ringArea(ring))))
          else None
        } else {
          val clipShapes: Seq[Overlay.Shape] = clipsRaw.map(r => Seq(r.toArray))
          val out = if (doErase) Overlay.erase(subject, clipShapes)
                    else Overlay.clip(subject, clipShapes)
          val area = Overlay.layerArea(out)
          if (out.isEmpty || area == 0.0) None
          else Some((tKey, out.length.toLong, area))
        }
      }
      .toDF("t_key", "n_rings", "area")
  }

  /**
   * `-slice`: cut target shapes by each source polygon — one output row per
   * overlapping (target, source) pair carrying the clipped piece's ring count
   * and area (ref `mapshaper-clip-erase.mjs:38-44`, clip type "slice").
   * Distributed exactly like [[PolyJoin.overlapDistributed]]: cell-join
   * candidates on ids, re-join rings, pairwise clip kernel per pair.
   */
  def slice(spark: SparkSession, targets: DataFrame, sources: DataFrame,
            cellRes: Int = 6): DataFrame = {
    val pieceUdf = udf { (t: Seq[Double], s: Seq[Double]) =>
      val out = Overlay.clip(Seq(Seq(t.toArray)), Seq(Seq(s.toArray)))
      (out.length, Overlay.layerArea(out))
    }
    PolyJoin.candidatePairs(spark, targets, sources, cellRes)
      .join(targets.select(col("key").cast("long").as("t_key"), col("ring").as("t_ring")), Seq("t_key"))
      .join(sources.select(col("key").cast("long").as("s_key"), col("ring").as("s_ring")), Seq("s_key"))
      .withColumn("_p", pieceUdf(col("t_ring"), col("s_ring")))
      .select(col("t_key"), col("s_key"),
        col("_p._1").cast("long").as("n_rings"), col("_p._2").as("area"))
      .filter(col("area") > 0.0)
  }

  /**
   * FULLY DISTRIBUTED dissolve2 — the scale path for overlay on shape sets
   * too big for one kernel invocation. The mosaic kernel is only global per
   * CONNECTED COMPONENT of touching/overlapping shapes, so:
   *
   *  1. candidate contact pairs: shapes keyed by covering cells of their
   *     bbox, equi-joined on cellId (no cross join), bbox-intersection
   *     filtered;
   *  2. connected components by min-label propagation over the pair table —
   *     O(component-diameter) Spark rounds, each a join + min-agg;
   *  3. one mosaic-dissolve kernel per component via groupByKey.mapGroups —
   *     components are independent, so the heavy geometry runs embarrassingly
   *     parallel across executors.
   *
   * Input: (id, ring) single-ring shapes. Output: one row per dissolved
   * component: (component, n_shapes_in, n_rings_out, area).
   */
  def dissolve2Distributed(spark: SparkSession, shapes: DataFrame, idCol: String,
                           ringCol: String, cellRes: Int = 6,
                           maxIters: Int = 30): DataFrame = {
    import spark.implicits._
    val ds = Materialize(
      shapes.select(col(idCol).cast("long").as("id"), col(ringCol).as("ring")), eager = false)
      .as[(Long, Array[Double])]

    // 1. covering cells + bbox of each shape (codegen expressions, no boxing)
    val withCells = ds.toDF("id", "ring")
      .withColumn("bbox", graft.functions.SpatialExprs.ringBBox(col("ring")))
      .withColumn("cell",
        explode(graft.functions.SpatialExprs.ringCover(col("ring"), cellRes)))
      .select("id", "bbox", "cell")

    val pairs = Materialize(withCells.as("a").join(withCells.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(
        col("a.bbox")(0) <= col("b.bbox")(2) && col("b.bbox")(0) <= col("a.bbox")(2) &&
        col("a.bbox")(1) <= col("b.bbox")(3) && col("b.bbox")(1) <= col("a.bbox")(3))
      .select(col("a.id").as("u"), col("b.id").as("v"))
      .distinct(), eager = false)

    // 2. min-label propagation with pointer jumping (shared helper —
    // O(log diameter) rounds, only (id, comp) longs shuffle)
    val labels = ConnectedComponents.label(spark,
      ds.map(t => t._1).toDF("id"), pairs, maxIters)

    // 3. mosaic dissolve per component
    ds.toDF("id", "ring").join(labels, "id")
      .select(col("comp"), col("ring"))
      .as[(Long, Array[Double])]
      .groupByKey(_._1)
      .mapGroups { (comp, it) =>
        val rings = it.map(_._2).toSeq
        val out = Overlay.dissolve2(rings.map(r => Seq(r)))
        (comp, rings.size.toLong, out.length.toLong, Overlay.layerArea(out))
      }
      .toDF("component", "n_shapes_in", "n_rings_out", "area")
  }
}
