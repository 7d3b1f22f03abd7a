package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.geom.Geom
import graft.index.PolygonLayer

/**
 * Point-in-polygon spatial join — the engine's core operator, implementing the
 * reference's point→polygon join semantics
 * (`/root/reference/src/join/mapshaper-point-polygon-join.mjs:6-66`: PathIndex
 * candidate lookup + even-odd multi-ring PIP with boundary counted as in,
 * `src/paths/mapshaper-path-index.mjs:9-237`).
 *
 * Two physical strategies; the caller picks one (the facade's
 * `Graft.pointPolygonJoin` always broadcasts). Both take the same
 * [[PolygonLayer]]:
 *
 *  1. [[broadcastJoin]] — the polygon layer's SoA arrays are broadcast
 *     once (through [[graft.index.LayerBroadcasts]]); each executor builds
 *     the grid PIP index (and per-ring segment indexes) from them lazily,
 *     and each point row probes it locally. Zero shuffle of the (huge) point table; `bytes` and other wide
 *     columns are never touched (Parquet column pruning applies upstream).
 *
 *  2. [[cellJoin]] — the shuffle path for polygon layers too big to
 *     broadcast: rings are exploded to covering cells, points keyed by the
 *     same cells, and the equi-join on cellId co-locates candidates; the
 *     exact PIP runs per pair. Hot cells (skew) are split by salting: the
 *     ring rows are replicated per salt, each point takes a deterministic
 *     salt hashed from its coordinates — explicit skew handling, with AQE as
 *     backstop.
 *
 * Multi-match semantics: a point on a shared boundary joins BOTH polygons
 * (parity + boundary rule), matching the reference's join row sets.
 */
object SpatialJoin {

  /**
   * Broadcast PIP join: returns `points` with an exploded `poly_key` column
   * (inner semantics — unmatched points dropped; use [[withMatches]] for the
   * left variant).
   *
   * The explode reads the `pip_all_keys` expression itself, not a column
   * holding its array: over an attribute, Catalyst's
   * `InferFiltersFromGenerate` adds `size(a) > 0 AND isnotnull(a)` below the
   * generate, and filter pushdown then inlines the alias, so each point would
   * probe the index up to three times. Over an expression no filter is
   * inferred and each point probes once.
   */
  def broadcastJoin(
      spark: SparkSession,
      points: DataFrame,
      xCol: String,
      yCol: String,
      layer: PolygonLayer,
      outCol: String = "poly_key"): DataFrame =
    points.select(points.columns.toIndexedSeq.map(col) :+
      explode(allKeys(spark, xCol, yCol, layer)).as(outCol): _*)

  /** Left variant: adds an array column of matching polygon keys (empty = unmatched). */
  def withMatches(
      spark: SparkSession,
      points: DataFrame,
      xCol: String,
      yCol: String,
      layer: PolygonLayer,
      outCol: String): DataFrame =
    points.withColumn(outCol, allKeys(spark, xCol, yCol, layer))

  private def allKeys(spark: SparkSession, xCol: String, yCol: String,
                      layer: PolygonLayer): Column =
    graft.functions.SpatialExprs.pipAllKeys(col(xCol), col(yCol),
      graft.index.LayerBroadcasts.of(spark, layer))

  /** Clip (keep inside) / erase (keep outside) of points vs a polygon layer —
   * the reference's point clipping (`src/clipping/mapshaper-point-clipping.mjs`). */
  def clipPoints(spark: SparkSession, points: DataFrame, xCol: String, yCol: String,
                 layer: PolygonLayer, erase: Boolean = false): DataFrame = {
    val bc = graft.index.LayerBroadcasts.of(spark, layer)
    val inside = graft.functions.SpatialExprs.pipFirstKey(col(xCol), col(yCol), bc) >= 0
    points.filter(if (erase) !inside else inside)
  }

  /**
   * Cell-partitioned PIP join: rings keyed by their covering cells at `res`,
   * points by their cell, equi-join on the cell, exact PIP per candidate.
   *
   * The driver writes one row per ring of `layer` (shape key, closed flat
   * ring, covering cells of its box) and counts rings per cell in the same
   * pass. Cells with more than `saltThreshold` rings are hot and salted
   * `saltFactor` ways: the ring rows are replicated once per salt, each point
   * takes the salt `pmod(xxhash64(x, y), saltFactor)`, so a single hot cell
   * cannot bottleneck one task. Salts only pick a bucket; every salt of a hot
   * cell holds the ring, so results do not depend on them.
   */
  def cellJoin(
      spark: SparkSession,
      points: DataFrame,
      xCol: String,
      yCol: String,
      layer: PolygonLayer,
      res: Int,
      outCol: String = "poly_key",
      saltThreshold: Int = 64,
      saltFactor: Int = 8): DataFrame = {
    import spark.implicits._

    val ringsPerCell = mutable.HashMap.empty[Long, Int]
    val rows = (0 until layer.numRings).map { r =>
      val b = r * 4
      val cells = CellIndex.coveringCells(layer.ringBoxes(b), layer.ringBoxes(b + 1),
        layer.ringBoxes(b + 2), layer.ringBoxes(b + 3), res)
      cells.foreach(c => ringsPerCell(c) = ringsPerCell.getOrElse(c, 0) + 1)
      (layer.shapeKeys(layer.ringShape(r)), layer.ring(r), cells)
    }
    val hot = ringsPerCell.collect { case (c, n) if n > saltThreshold => c }.toSeq
    val isHot = col("_cell").isin(hot: _*)

    val polySalted = rows.toDF("poly_key", "_ring", "_cells")
      .withColumn("_cell", explode(col("_cells")))
      .withColumn("_salt",
        explode(when(isHot, sequence(lit(0), lit(saltFactor - 1))).otherwise(array(lit(0)))))
      .drop("_cells")
    val ptCells = points
      .withColumn("_pid", monotonically_increasing_id())
      .withColumn("_cell", graft.functions.SpatialExprs.cellIdCol(col(xCol), col(yCol), res))
      .withColumn("_salt",
        when(isHot, pmod(xxhash64(col(xCol), col(yCol)), lit(saltFactor)).cast("int"))
          .otherwise(lit(0)))

    // even-odd across a shape's rings (parity of IN counts; ON wins) — same
    // semantics as the broadcast path's PolygonLayer.findKeys: a point inside
    // a hole ring has even parity and must NOT match, a boundary point always
    // matches. Grouping key = the point row's own id `_pid` (equal point rows
    // stay apart) + its columns + the shape key (a point row meets each
    // shape's rings in exactly one (cell, salt) bucket, so the group is
    // complete).
    val ptCols = col("_pid") +: points.columns.toSeq.map(col)
    ptCells
      .join(polySalted, Seq("_cell", "_salt"))
      .withColumn("_state",
        graft.functions.SpatialExprs.pipRingState(col(xCol), col(yCol), col("_ring")))
      .groupBy((ptCols :+ col("poly_key")): _*)
      .agg(max(when(col("_state") === Geom.ON, 1).otherwise(0)).as("_on"),
        sum(when(col("_state") === Geom.IN, 1).otherwise(0)).as("_ins"))
      .filter(col("_on") === 1 || col("_ins") % 2 === 1)
      .withColumnRenamed("poly_key", outCol)
      .drop("_pid", "_on", "_ins")
  }
}
