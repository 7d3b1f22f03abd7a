package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.PolygonLayer

/**
 * Point-in-polygon spatial join — the engine's core operator, implementing the
 * reference's point→polygon join semantics
 * (`/root/reference/src/join/mapshaper-point-polygon-join.mjs:6-66`: PathIndex
 * candidate lookup + even-odd multi-ring PIP with boundary counted as in,
 * `src/paths/mapshaper-path-index.mjs:9-237`).
 *
 * Two physical strategies, chosen by layer size (mirrors Catalyst's
 * broadcast-vs-shuffle join choice):
 *
 *  1. [[broadcastJoin]] — the polygon layer's SoA arrays are broadcast
 *     once (through [[graft.index.LayerBroadcasts]]); each executor builds
 *     the grid PIP index (and per-ring segment indexes) from them lazily,
 *     and each point row probes it locally. Zero shuffle of the (huge) point table; `bytes` and other wide
 *     columns are never touched (Parquet column pruning applies upstream).
 *
 *  2. [[cellJoin]] — for polygon layers too big to broadcast: polygons are
 *     exploded to covering cells, points keyed by the same cells, and the
 *     equi-join on cellId co-locates candidates; the exact PIP runs per pair.
 *     Hot cells (skew) are split by salting: the polygon side is replicated
 *     per salt, the point side salted randomly-but-deterministically by id —
 *     explicit skew handling per the north rule, with AQE as backstop.
 *
 * Multi-match semantics: a point on a shared boundary joins BOTH polygons
 * (parity + boundary rule), matching the reference's join row sets.
 */
object SpatialJoin {

  /**
   * Broadcast PIP join: returns `points` with an exploded `poly_key` column
   * (inner semantics — unmatched points dropped; use [[withMatches]] for the
   * left variant).
   */
  def broadcastJoin(
      spark: SparkSession,
      points: DataFrame,
      xCol: String,
      yCol: String,
      layer: PolygonLayer,
      outCol: String = "poly_key"): DataFrame = {
    val matched = withMatches(spark, points, xCol, yCol, layer, "_matches")
    matched
      .select(points.columns.toIndexedSeq.map(col) :+ explode(col("_matches")).as(outCol): _*)
  }

  /** Left variant: adds an array column of matching polygon keys (empty = unmatched). */
  def withMatches(
      spark: SparkSession,
      points: DataFrame,
      xCol: String,
      yCol: String,
      layer: PolygonLayer,
      outCol: String): DataFrame = {
    val bc: Broadcast[PolygonLayer] = graft.index.LayerBroadcasts.of(spark, layer)
    points.withColumn(outCol,
      graft.functions.SpatialExprs.pipAllKeys(col(xCol), col(yCol), bc))
  }

  /** Clip (keep inside) / erase (keep outside) of points vs a polygon layer —
   * the reference's point clipping (`src/clipping/mapshaper-point-clipping.mjs`). */
  def clipPoints(spark: SparkSession, points: DataFrame, xCol: String, yCol: String,
                 layer: PolygonLayer, erase: Boolean = false): DataFrame = {
    val bc = graft.index.LayerBroadcasts.of(spark, layer)
    val inside = graft.functions.SpatialExprs.pipFirstKey(col(xCol), col(yCol), bc) >= 0
    points.filter(if (erase) !inside else inside)
  }

  /**
   * Cell-partitioned PIP join for huge polygon layers: explode polygons to
   * covering cells at `res`, equi-join on cellId, exact PIP per candidate.
   *
   * `saltThreshold`: cells with more candidate polygons than this are salted
   * `saltFactor` ways (polygon side replicated, point side deterministically
   * scattered) so a single hot cell cannot bottleneck one task.
   */
  def cellJoin(
      spark: SparkSession,
      points: DataFrame,
      xCol: String,
      yCol: String,
      polygons: DataFrame, // (poly_key: Long, ring_x: Array[Double], ring_y: Array[Double]) one ring per row
      res: Int,
      outCol: String = "poly_key",
      saltThreshold: Int = 64,
      saltFactor: Int = 8): DataFrame = {
    import spark.implicits._

    // polygon side: ring -> covering cells (codegen, no boxing)
    val polyCells = polygons
      .withColumn("_cell",
        explode(graft.functions.SpatialExprs.ringCoverXY(col("ring_x"), col("ring_y"), res)))

    // explicit skew handling: find hot cells, salt them
    val hot = polyCells.groupBy("_cell").count()
      .filter(col("count") > saltThreshold)
      .select("_cell").as[Long].collect().toSet
    val hotBc = spark.sparkContext.broadcast(hot)
    val saltsUdf = udf { (cell: Long) =>
      if (hotBc.value.contains(cell)) (0 until saltFactor).toArray else Array(0)
    }
    val pointSaltUdf = udf { (cell: Long, x: Double, y: Double) =>
      if (hotBc.value.contains(cell))
        (java.lang.Double.doubleToLongBits(x) * 31 + java.lang.Double.doubleToLongBits(y)).toInt
          .abs % saltFactor
      else 0
    }

    val polySalted = polyCells.withColumn("_salt", explode(saltsUdf(col("_cell"))))
    val ptCells = points
      .withColumn("_cell", graft.functions.SpatialExprs.cellIdCol(col(xCol), col(yCol), res))
      .withColumn("_salt", pointSaltUdf(col("_cell"), col(xCol), col(yCol)))

    // per-candidate ring state: 0 = out, 1 = in, 2 = on-boundary — a codegen
    // expression reading the packed ring arrays in place (a UDF here boxes
    // two Seq[Double] per candidate pair, the #1 allocation source at scale)
    // even-odd across a shape's rings (parity of IN counts; ON wins) — same
    // semantics as the broadcast path's PolygonLayer.findKeys: a point inside
    // a hole ring has even parity and must NOT match, a boundary point always
    // matches. Grouping key = all point columns + the shape key (a point row
    // meets each shape's rings in exactly one (cell, salt) bucket, so the
    // group is complete).
    val ptCols = points.columns.toSeq
    ptCells
      .join(polySalted, Seq("_cell", "_salt"))
      .withColumn("_state", graft.functions.SpatialExprs.pipRingState(
        col(xCol), col(yCol), col("ring_x"), col("ring_y")))
      .groupBy((ptCols.map(col) :+ col("poly_key")): _*)
      .agg(max(when(col("_state") === graft.geom.Geom.ON, 1).otherwise(0)).as("_on"),
        sum(when(col("_state") === graft.geom.Geom.IN, 1).otherwise(0)).as("_ins"))
      .filter(col("_on") === 1 || col("_ins") % 2 === 1)
      .withColumnRenamed("poly_key", outCol)
      .drop("_on", "_ins")
  }
}
