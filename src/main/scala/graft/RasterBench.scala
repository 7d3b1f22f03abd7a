package graft

import org.apache.spark.sql.SparkSession

import graft.operators.Raster
import graft.tables.SplitMix64

/**
 * The reference's raster-resampling benchmark cases, re-measured on this
 * engine (`/root/reference/browser-tests/raster-resampling-benchmark.spec.mjs:32-73`
 * — mapshaper defines these four cases but publishes no numbers):
 *
 *   1. uint8 rgb 12MP -> 0.75MP   (4000x3000x3 -> 1000x750)
 *   2. uint8 rgb 12MP -> 3MP      (4000x3000x3 -> 2000x1500)
 *   3. uint8 rgb 3MP native       (2000x1500x3 -> 2000x1500)
 *   4. uint16 gray percentile[2,98] 3MP -> 0.75MP
 *
 * Two measurements per case: the single-kernel wall time (comparable to the
 * reference's single-browser-thread setting) and the engine's distributed
 * shape — the same kernel over 32 independent tiles via mapPartitions at
 * local[32] (per-tile rows are how rasters scale at 100 TB).
 *
 * Prints one JSON line: {"cases":[{name, mp, kernel_ms, mp_per_s,
 * par32_ms, par32_mp_per_s}]}.
 */
object RasterBench {

  private def mkGrid(w: Int, h: Int, seed: Long, sixteenBit: Boolean): Raster.Grid = {
    val rng = new SplitMix64(seed)
    val vals = new Array[Double](w * h)
    val lim = if (sixteenBit) 65536 else 256
    var i = 0
    while (i < vals.length) { vals(i) = rng.nextInt(lim).toDouble; i += 1 }
    Raster.Grid(w, h, vals, Raster.Georef(0, h, 1.0))
  }

  /** percentile[lo,hi] contrast scaling to 0..255 (the reference's 'gray
   * percentile' recipe) then bilinear resample. */
  private def percentileResample(g: Raster.Grid, outW: Int, outH: Int): Raster.Grid = {
    val sorted = g.values.clone(); java.util.Arrays.sort(sorted)
    def pct(p: Double): Double = sorted(((sorted.length - 1) * p / 100.0).toInt)
    val lo = pct(2.0); val hi = pct(98.0)
    val k = if (hi > lo) 255.0 / (hi - lo) else 1.0
    val scaled = new Array[Double](g.values.length)
    var i = 0
    while (i < scaled.length) {
      val v = (g.values(i) - lo) * k
      scaled(i) = if (v < 0) 0.0 else if (v > 255) 255.0 else v
      i += 1
    }
    Raster.resampleBilinear(Raster.Grid(g.w, g.h, scaled, g.georef), outW, outH)
  }

  private def time(f: => Unit): Double = {
    var best = Double.MaxValue
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      f
      best = math.min(best, (System.nanoTime() - t0) / 1e6)
    }
    best
  }

  final case class Case(name: String, w: Int, h: Int, bands: Int,
                        outW: Int, outH: Int, sixteenBit: Boolean)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cases = Seq(
      Case("uint8 rgb 12MP->0.75MP", 4000, 3000, 3, 1000, 750, sixteenBit = false),
      Case("uint8 rgb 12MP->3MP", 4000, 3000, 3, 2000, 1500, sixteenBit = false),
      Case("uint8 rgb 3MP native", 2000, 1500, 3, 2000, 1500, sixteenBit = false),
      Case("uint16 gray pct[2,98] 3MP->0.75MP", 2000, 1500, 1, 1000, 750, sixteenBit = true))

    val out = cases.map { c =>
      val grids = (0 until c.bands).map(b => mkGrid(c.w, c.h, 42L + b, c.sixteenBit))
      def runOne(): Unit = grids.foreach { g =>
        if (c.sixteenBit) percentileResample(g, c.outW, c.outH)
        else Raster.resampleBilinear(g, c.outW, c.outH)
      }
      val kernelMs = time(runOne())
      val mp = c.w.toLong * c.h / 1e6

      // distributed shape: 32 tiles of the same size, all bands per tile,
      // one kernel per band (timing INCLUDES per-tile synthesis — a
      // conservative bound on the mapPartitions raster path)
      val bands = c.bands
      val sixteen = c.sixteenBit
      val (cw, ch, cow, coh) = (c.w, c.h, c.outW, c.outH)
      val tiles = spark.sparkContext.parallelize(0 until 32, 32)
      val parMs = time {
        tiles.map { t =>
          var n = 0
          var b = 0
          while (b < bands) {
            val g = mkGrid(cw, ch, 1000L + t * 7 + b, sixteen)
            val r = if (sixteen) percentileResample(g, cow, coh)
                    else Raster.resampleBilinear(g, cow, coh)
            n += r.values.length
            b += 1
          }
          n
        }.reduce(_ + _)
      }
      f"""{"name":"${c.name}","mp":$mp%.1f,"bands":${c.bands},"kernel_ms":$kernelMs%.1f,""" +
        f""""band_mp_per_s":${mp * c.bands / (kernelMs / 1000.0)}%.1f,"par32_ms":$parMs%.1f,""" +
        f""""par32_band_mp_per_s":${32 * mp * c.bands / (parMs / 1000.0)}%.1f}"""
    }
    println(s"""{"cases":[${out.mkString(",")}]}""")
    spark.stop()
  }
}
