package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SpatialExprs
import graft.index.PolygonLayer
import graft.tables.Images

/**
 * Raster-tile ↔ vector-cell assignment — the reference's raster/grid bridge
 * (`-split-on-grid` partitioning of vector features,
 * `/root/reference/src/commands/mapshaper-split-on-grid.mjs:12`, and the
 * square-grid cell semantics of `src/grids/mapshaper-square-grid.mjs`) applied
 * to the image table.
 *
 * Every image has a georeferenced footprint derived from its `phash` location
 * (affine pixel→world transform, like the reference's world-file georef,
 * `src/rasters/mapshaper-image-import.mjs:122-159`). [[tileAssign]] splits the
 * pixel grid into a tileGrid × tileGrid mesh and assigns each tile's center to
 * a vector cell and (optionally) a polygon — note this touches ONLY
 * (image_id, w, h, phash): Parquet column pruning keeps `bytes` unread, which
 * is what makes the op viable at 10^12 rows.
 */
object Tiling {

  /** World size of an image footprint (its own square patch, side in map units). */
  final val FootprintSide = 0.05

  /**
   * Tile assignment rows: (image_id, tile_x, tile_y, cx, cy, cell_id, poly_key).
   * `res` is the vector-cell resolution; `layer`, if given, adds a PIP join of
   * the tile center against the broadcast polygon layer (without one,
   * `poly_key` is -1).
   */
  def tileAssign(spark: SparkSession, images: DataFrame, tileGrid: Int, res: Int,
                 layer: Option[PolygonLayer] = None): DataFrame = {
    val located = images.select(col("image_id"),
      graft.functions.GraftFunctions.phashLon(col("phash")).as("_cx"),
      graft.functions.GraftFunctions.phashLat(col("phash")).as("_cy"))
    tileAssignAt(spark, located, "_cx", "_cy", tileGrid, res, layer)
  }

  /**
   * Tile assignment over precomputed footprint-center columns.
   * Codegen-friendly: each step is one `select` of column arithmetic and
   * codegen expressions (cell id bit math, broadcast index probes); no
   * per-row tuple or array allocation, so the hot path scales with cores,
   * not GC.
   *
   * Per-image work is done once, before the tile fan-out:
   *  - The fan-out explodes a literal table of (tile_x, tile_y, off_x,
   *    off_y), built on the driver with `off = (t + 0.5) * (side / tileGrid)`;
   *    a tile centre is `cx = _x0 + off_x`, the same operations in the same
   *    order as the per-tile formula, so bit for bit the same double.
   *  - One `cell_box_id` per image over the box spanned by the first and
   *    last tile centres (corners `_x0 + off(0)` and `_x0 + off(tileGrid -
   *    1)`, the very values of those centres). Rounded addition of a
   *    nondecreasing offset and `CellIndex.cellCoord` are both monotone, so
   *    when both corners have the same integer cell coordinate on each axis
   *    every centre in between has it too, and that cell id serves all tiles
   *    of the image; otherwise it is null and each tile takes its own
   *    `cell_id(cx, cy)`.
   *  - With a layer, one `pip_box_first_key` probe per image over the same
   *    box asks the layer's grid whether a single polygon key holds over it.
   *    When the grid proves it (box in one grid cell, no ring boundary
   *    within eps), that key serves all tiles; otherwise the probe is null
   *    and each tile falls back to its own `pip_first_key(cx, cy)`.
   *
   * Either way `cell_id` and `poly_key` are exactly the per-tile answers; a
   * null x/y still yields tileGrid² rows with a null `cell_id` and
   * `poly_key`.
   */
  def tileAssignAt(spark: SparkSession, images: DataFrame, xCol: String, yCol: String,
                   tileGrid: Int, res: Int, layer: Option[PolygonLayer]): DataFrame = {
    val side = FootprintSide
    val off = (0 until tileGrid).map(t => (t + 0.5) * (side / tileGrid))
    val tiles = array((0 until tileGrid * tileGrid).map { t =>
      val (tx, ty) = (t % tileGrid, t / tileGrid)
      struct(lit(tx).as("tile_x"), lit(ty).as("tile_y"),
        lit(off(tx)).as("off_x"), lit(off(ty)).as("off_y"))
    }: _*)
    val bc = layer.map(graft.index.LayerBroadcasts.of(spark, _))
    val (x0, y0) = (col("_x0"), col("_y0"))
    val (lo, hi) = (off.head, off.last)
    // without a layer every tile's key is -1, known per image
    val boxKey = bc.fold(lit(-1L))(SpatialExprs.pipBoxFirstKey(x0 + lo, y0 + lo, x0 + hi, y0 + hi, _))
    val boxed = images
      .select(col("image_id"), (col(xCol) - side / 2).as("_x0"), (col(yCol) - side / 2).as("_y0"))
      .select(col("image_id"), x0, y0,
        SpatialExprs.cellBoxId(x0 + lo, y0 + lo, x0 + hi, y0 + hi, res).as("_box_cell"),
        boxKey.as("_box_key"))
    val centred = boxed
      .select(col("image_id"), x0, y0, col("_box_cell"), col("_box_key"), inline(tiles))
      .select(col("image_id"), col("tile_x"), col("tile_y"),
        (x0 + col("off_x")).as("cx"), (y0 + col("off_y")).as("cy"),
        col("_box_cell"), col("_box_key"))
    val (cx, cy) = (col("cx"), col("cy"))
    val polyKey = bc.fold(col("_box_key"))(b => coalesce(col("_box_key"), SpatialExprs.pipFirstKey(cx, cy, b)))
    centred.select(col("image_id"), col("tile_x"), col("tile_y"), cx, cy,
      coalesce(col("_box_cell"), SpatialExprs.cellIdCol(cx, cy, res)).as("cell_id"),
      polyKey.as("poly_key"))
  }

  /** Vector split-on-grid: tag each point row with its grid row/col at cellSize. */
  def splitOnGrid(points: DataFrame, xCol: String, yCol: String, cellSizeV: Double): DataFrame =
    points
      .withColumn("grid_col", floor(col(xCol) / lit(cellSizeV)).cast("long"))
      .withColumn("grid_row", floor(col(yCol) / lit(cellSizeV)).cast("long"))

  /**
   * Decoded tile stats: per tile, mean luma from real pixel data (touches
   * `bytes`; the heavy stage is per-partition, shuffle-free).
   */
  def tileStats(spark: SparkSession, images: DataFrame, tileGrid: Int): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val (w, h, px) = Images.decode(bytes)
        for {
          ty <- 0 until tileGrid
          tx <- 0 until tileGrid
        } yield {
          val xa = tx * w / tileGrid; val xb = math.max(xa + 1, (tx + 1) * w / tileGrid)
          val ya = ty * h / tileGrid; val yb = math.max(ya + 1, (ty + 1) * h / tileGrid)
          var sum = 0L; var cnt = 0
          var y = ya
          while (y < yb) {
            var x = xa
            while (x < xb) {
              val p = px(y * w + x)
              sum += (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000
              cnt += 1
              x += 1
            }
            y += 1
          }
          (id, tx, ty, sum.toDouble / cnt)
        }
      }.toDF("image_id", "tile_x", "tile_y", "mean_luma")
  }
}
