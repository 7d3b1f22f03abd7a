package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
   * Tile assignment rows: (image_id, tile_x, tile_y, cx, cy, cell_id[, poly_key]).
   * `res` is the vector-cell resolution; `layer`, if given, adds a PIP join of
   * the tile center against the broadcast polygon layer.
   */
  def tileAssign(spark: SparkSession, images: DataFrame, tileGrid: Int, res: Int,
                 layer: Option[PolygonLayer] = None): DataFrame = {
    val located = images
      .select(col("image_id"), col("w"), col("h"), col("phash"))
      .withColumn("_cx", graft.functions.GraftFunctions.phashLon(col("phash")))
      .withColumn("_cy", graft.functions.GraftFunctions.phashLat(col("phash")))
    tileAssignAt(spark, located, "_cx", "_cy", tileGrid, res, layer)
  }

  /**
   * Tile assignment over precomputed footprint-center columns.
   * Codegen-friendly: the tile fan-out is explode(sequence(...)) + pure
   * column arithmetic; only cellId (bit interleave) and PIP (broadcast index
   * probe) are scalar JVM calls. No per-row tuple/array allocation — keeps
   * the hot path allocation-light so it scales with cores, not GC.
   *
   * Batched PIP: before the fan-out, one `pip_box_first_key` probe per image
   * asks the layer's grid whether a single polygon key holds over the box
   * spanned by the first and last tile centres (built with the same column
   * arithmetic as `cx`/`cy`, so every centre lies in the box). When the grid
   * proves it (box in one grid cell, no ring boundary within eps), that key
   * serves all tiles of the image; otherwise the probe is null and each tile
   * falls back to its own `pip_first_key(cx, cy)`. Either way `poly_key` is
   * exactly the per-tile answer; a null x/y still yields tileGrid² rows with
   * a null `poly_key`.
   */
  def tileAssignAt(spark: SparkSession, images: DataFrame, xCol: String, yCol: String,
                   tileGrid: Int, res: Int, layer: Option[PolygonLayer]): DataFrame = {
    val side = FootprintSide
    def centre(lo: Column, t: Column): Column = lo + (t + 0.5) * (side / tileGrid)
    val bc = layer.map(graft.index.LayerBroadcasts.of(spark, _))
    val located = images
      .withColumn("_x0", col(xCol) - side / 2)
      .withColumn("_y0", col(yCol) - side / 2)
    val boxed = bc match {
      case Some(b) =>
        val (lo, hi) = (lit(0), lit(tileGrid - 1))
        located.withColumn("_box_key", SpatialExprs.pipBoxFirstKey(
          centre(col("_x0"), lo), centre(col("_y0"), lo),
          centre(col("_x0"), hi), centre(col("_y0"), hi), b))
      case None => located
    }
    val base = boxed
      .withColumn("_t", explode(sequence(lit(0), lit(tileGrid * tileGrid - 1))))
      .withColumn("tile_x", (col("_t") % tileGrid).cast("int"))
      .withColumn("tile_y", (col("_t") / tileGrid).cast("int"))
      .withColumn("cx", centre(col("_x0"), col("tile_x")))
      .withColumn("cy", centre(col("_y0"), col("tile_y")))
      .withColumn("cell_id", SpatialExprs.cellIdCol(col("cx"), col("cy"), res))
    val polyKey = bc match {
      case Some(b) => coalesce(col("_box_key"), SpatialExprs.pipFirstKey(col("cx"), col("cy"), b))
      case None => lit(-1L)
    }
    base.withColumn("poly_key", polyKey)
      .select("image_id", "tile_x", "tile_y", "cx", "cy", "cell_id", "poly_key")
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
