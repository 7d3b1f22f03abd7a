package graft.operators

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables.Images

/**
 * Multimodal (image) column operators. The payload is an opaque `binary`
 * column with typed metadata `(w, h, fmt)` — decode / feature-extract /
 * resize / tile run as typed Dataset transformations over real codecs
 * (javax.imageio PNG/JPEG; the JVM ships them, so no stubbing is needed).
 *
 * Scale notes: `bytes` is only read by these stages (Parquet column pruning
 * keeps every relational/spatial query from touching it); decode is
 * per-partition streaming work with no shuffle — the classic map-heavy stage
 * that scales linearly with executors.
 */
object Multimodal {

  final case class ImageFeatures(
      image_id: String,
      w: Int,
      h: Int,
      fmt: String,
      mean_r: Double,
      mean_g: Double,
      mean_b: Double,
      luma_hist: Array[Long], // 16 bins
      ahash: Long)            // 8x8 average hash of the decoded payload

  /** Decode + feature-extract each image row. Input needs (image_id, bytes, fmt). */
  def features(spark: SparkSession, images: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    images.select("image_id", "bytes", "fmt").as[(String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, fmt) =>
        val (w, h, px) = Images.decode(bytes)
        var sr = 0L; var sg = 0L; var sb = 0L
        val hist = new Array[Long](16)
        var i = 0
        while (i < px.length) {
          val r = (px(i) >> 16) & 0xff
          val g = (px(i) >> 8) & 0xff
          val b = px(i) & 0xff
          sr += r; sg += g; sb += b
          val luma = (r * 299 + g * 587 + b * 114) / 1000
          hist(luma >> 4) += 1
          i += 1
        }
        val n = px.length.toDouble
        ImageFeatures(id, w, h, fmt, sr / n, sg / n, sb / n, hist, ahash(px, w, h))
      })
  }

  /** 8x8 average hash of a packed-RGB image (classic perceptual hash). */
  def ahash(px: Array[Int], w: Int, h: Int): Long = {
    val gray = new Array[Double](64)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        // area sample the cell
        val x0 = gx * w / 8; val x1 = math.max(x0 + 1, (gx + 1) * w / 8)
        val y0 = gy * h / 8; val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
        var sum = 0L; var cnt = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = px(y * w + x)
            sum += (((p >> 16) & 0xff) * 299 + ((p >> 8) & 0xff) * 587 + (p & 0xff) * 114) / 1000
            cnt += 1
            x += 1
          }
          y += 1
        }
        gray(gy * 8 + gx) = sum.toDouble / cnt
        gx += 1
      }
      gy += 1
    }
    val mean = gray.sum / 64.0
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (gray(i) >= mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Deterministic training-data augmentation: center-crop to the largest
   * square, optional horizontal flip, re-encode PNG. Pure per-row work over
   * the binary payload — the classic augmentation stage of an image
   * training pipeline (shuffle-free; `bytes` is the only wide column read). */
  def augment(bytes: Array[Byte], flip: Boolean): Array[Byte] = {
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val side = math.min(src.getWidth, src.getHeight)
    val x0 = (src.getWidth - side) / 2
    val y0 = (src.getHeight - side) / 2
    val out = new BufferedImage(side, side, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val sx = if (flip) x0 + side - 1 - x else x0 + x
        out.setRGB(x, y, src.getRGB(sx, y0 + y))
        x += 1
      }
      y += 1
    }
    Images.encode(out, "png")
  }

  /** Augmentation stage over a DataFrame: adds `aug` (PNG bytes) — flip is
   * derived deterministically from the id hash so reruns are identical. */
  def withAugmented(images: DataFrame, idCol: String = "image_id"): DataFrame = {
    val augUdf = udf((b: Array[Byte], flip: Boolean) => augment(b, flip))
    images.withColumn("aug",
      augUdf(col("bytes"), xxhash64(col(idCol)) % 2 === 0))
  }

  /** Resize via Java2D (bilinear); returns re-encoded PNG bytes. */
  def resize(bytes: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val dst = new BufferedImage(outW, outH, BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
      java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
    g.drawImage(src, 0, 0, outW, outH, null)
    g.dispose()
    Images.encode(dst, "png")
  }

  /** Decoded image as a luma [[Raster.Grid]] — the bridge from the binary
   * payload to the raster toolbox (blur / resample / crop / reproject /
   * GeoTIFF export); georef places the image at its phash location. */
  def toLumaGrid(bytes: Array[Byte], georef: Raster.Georef): Raster.Grid = {
    val (w, h, px) = Images.decode(bytes)
    val values = new Array[Double](w * h)
    var i = 0
    while (i < px.length) {
      values(i) = (((px(i) >> 16) & 0xff) * 299 + ((px(i) >> 8) & 0xff) * 587 +
        (px(i) & 0xff) * 114) / 1000.0
      i += 1
    }
    Raster.Grid(w, h, values, georef)
  }

  /** Per-image raster stage: decode → luma grid → blur + downsample →
   * summary stats (mapPartitions, shuffle-free; the classic map-heavy
   * image-pipeline stage). Output: (image_id, w, h, mean_luma_q, blur_center_q). */
  def rasterStage(spark: SparkSession, images: DataFrame,
                  blurRadius: Int = 1, outW: Int = 8, outH: Int = 8): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val g = toLumaGrid(bytes, Raster.Georef(0, 0, 1))
        val small = Raster.resampleBilinear(Raster.boxBlur(g, blurRadius), outW, outH)
        val mean = small.values.sum / small.values.length
        // floor(x·1000 + 0.5) in plain double arithmetic (not Math.round,
        // which rounds exactly): bit-identical to the SQL oracle's mirror
        (id, g.w, g.h, math.floor(mean * 1000 + 0.5).toLong,
          math.floor(small(outW / 2, outH / 2) * 1000 + 0.5).toLong)
      })
      .toDF("image_id", "w", "h", "mean_luma_q", "blur_center_q")
  }

  /** PSNR of decode(bytes) vs a deterministic re-render — the per-row invariant
   * check (decoded-pixel allclose, PSNR >= 40 dB for lossy formats). */
  def psnrVsRender(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h").as[(String, Array[Byte], Int, Int)]
      .map { case (id, bytes, w, h) =>
        val (dw, dh, px) = Images.decode(bytes)
        val idx = id.stripPrefix("img").toLong
        val ref = Images.render(idx, w, h)
        val refPx = new Array[Int](w * h)
        ref.getRGB(0, 0, w, h, refPx, 0, w)
        val p = if (dw == w && dh == h) Images.psnr(px, refPx) else 0.0
        (id, dw, dh, if (p.isInfinite) 999.0 else p)
      }.toDF("image_id", "w", "h", "psnr_db")
  }
}
