package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.cell.CellIndex

/**
 * Column-level function surface of the engine. Everything here composes
 * built-in `org.apache.spark.sql.functions` (whole-stage-codegen'd). What
 * built-ins can't express (bit interleave, PIP against a broadcast index,
 * the hash and vector kernels) is a codegen expression in [[SpatialExprs]]
 * or [[HashExprs]].
 */
object GraftFunctions {

  /**
   * Deterministic point derivation from an integer key — the test-domain
   * mapping shared verbatim with the DuckDB oracle SQL (pure integer ops +
   * one exact int→double cast, bit-identical across engines).
   */
  def derivedX(key: Column): Column = (key * lit(48271L) % 100000L).cast("double") / 1000.0
  def derivedY(key: Column): Column = (key * lit(69621L) % 100000L).cast("double") / 1000.0

  /** SQL fragment mirrors of [[derivedX]]/[[derivedY]] for oracle queries. */
  def derivedXSql(key: String): String = s"CAST(($key * 48271) % 100000 AS DOUBLE) / 1000.0"
  def derivedYSql(key: String): String = s"CAST(($key * 69621) % 100000 AS DOUBLE) / 1000.0"

  /** Integer cell coordinate at a cell size — floor(v / cs), matches square-grid pointToIdx. */
  def cellCoord(v: Column, cellSizeV: Double): Column = floor(v / lit(cellSizeV)).cast("long")

  /** `-o precision=` coordinate rounding (the reference's getRoundingFunction,
   * `src/geom/mapshaper-rounding.mjs:31-43`): round(x * inv) / inv with
   * inv = round(1/inc) when 1/inc > 1. ES Math.round is half-toward-+inf
   * computed EXACTLY: floor(x) + (x - floor(x) >= 0.5 ? 1 : 0) — NOT
   * floor(x + 0.5), whose addition can double-round across the half (e.g.
   * x = 0.49999999999999994). The fractional compare is exact (x - floor(x)
   * is an exact double op) and mirrors 1:1 in SQL, where round() would
   * differ on negative halves. */
  def roundCoord(v: Column, inc: Double): Column = {
    val inv0 = 1.0 / inc
    val inv = if (inv0 > 1) math.round(inv0).toDouble else inv0
    val x = v * lit(inv)
    val f = floor(x)
    when(x - f >= 0.5, f + lit(1.0)).otherwise(f) / lit(inv)
  }

  /** Packed Morton cell id at a resolution (codegen expression, no boxing). */
  def cellId(x: Column, y: Column, res: Int): Column = SpatialExprs.cellIdCol(x, y, res)

  /** Decode image-table phash to lon/lat (Morton low bits, [0,100)² domain). */
  def phashLon(phash: Column): Column = SpatialExprs.phashLon(phash)
  def phashLat(phash: Column): Column = SpatialExprs.phashLat(phash)
}
