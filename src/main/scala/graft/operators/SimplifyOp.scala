package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FeatureExprs
import graft.geom.{Geom, Simplify}

/**
 * Distributed path simplification — the reference's `-simplify`
 * (`/root/reference/src/commands/mapshaper-simplify.mjs:27-250`) re-expressed
 * for Spark: each arc/ring is one row `(id, ring)`; the Visvalingam kernel
 * computes per-vertex thresholds inside a map (embarrassingly parallel, no
 * shuffle); the global retained-percentage → interval conversion is a
 * distributed quantile over interior thresholds (the reference ranks sampled
 * thresholds, `src/simplify/mapshaper-simplify-pct.mjs` — here it's
 * `percentile_approx`, the shuffle-free sketch aggregate).
 */
object SimplifyOp {

  /** Per-vertex thresholds column added to a (id, ring: Array[Double]) frame. */
  def withThresholds(rings: DataFrame, ringCol: String, method: Simplify.Method): DataFrame = {
    val thrUdf = udf { (flat: Seq[Double]) =>
      val (xx, yy) = Geom.unzipRing(flat.toArray)
      Simplify.thresholds(xx, yy, method)
    }
    rings.withColumn("thresholds", thrUdf(col(ringCol)))
  }

  /**
   * Simplify all rings to retain ~`pct` of interior vertices globally (the
   * non-destructive LOD model: thresholds computed once, filtered at read).
   * Output: input columns + n_before, n_after, interval.
   */
  def simplify(spark: SparkSession, rings: DataFrame, ringCol: String, pct: Double,
               method: Simplify.Method = Simplify.WeightedVisvalingam,
               exactPct: Boolean = false): DataFrame = {
    val withThr = withThresholds(rings, ringCol, method).cache()
    val interval = globalInterval(spark, withThr, pct, exactPct)
    val filterUdf = udf((flat: Seq[Double], thr: Seq[Double]) => keepAbove(flat, thr, interval))
    withThr
      .withColumn("simplified", filterUdf(col(ringCol), col("thresholds")))
      .withColumn("n_before", (size(col(ringCol)) / 2).cast("long"))
      .withColumn("n_after", (size(col("simplified")) / 2).cast("long"))
      .withColumn("interval", lit(interval))
      .drop("thresholds")
  }

  /** Global interval of a frame with a `thresholds` column: the (1-pct)
   * quantile over interior (finite) thresholds; 0 when everything is kept. */
  private def globalInterval(spark: SparkSession, withThr: DataFrame, pct: Double,
                             exactPct: Boolean): Double = {
    val interior = withThr
      .select(explode(col("thresholds")).as("z"))
      .filter(!col("z").isNaN && col("z") =!= Double.PositiveInfinity)
    if (pct >= 1.0) 0.0
    else if (exactPct) exactRankSelect(spark, interior, pct)
    else interior.stat.approxQuantile("z", Array(1.0 - pct), 1e-4).headOption.getOrElse(0.0)
  }

  /** The vertices of a flat ring whose threshold is at least `interval`. */
  private def keepAbove(flat: Seq[Double], thr: Seq[Double], interval: Double): Array[Double] = {
    val kept = Array.newBuilder[Double]
    var i = 0
    while (i < thr.length) {
      if (thr(i) >= interval) { kept += flat(i * 2); kept += flat(i * 2 + 1) }
      i += 1
    }
    kept.result()
  }

  /**
   * Exact (1-pct) quantile of a single-column DataFrame of doubles: the
   * k-th smallest value at k = floor((1-pct)*n). The sort is a distributed
   * range sort; `zipWithIndex` adds one count job; only ONE value reaches
   * the driver — the exact counterpart of the `percentile_approx` sketch,
   * for when the cutoff persisted downstream (LOD manifests) must be
   * reproducible bit-for-bit across runs and cluster sizes.
   */
  private def exactRankSelect(spark: SparkSession, values: DataFrame, pct: Double): Double = {
    import spark.implicits._
    val n = values.count()
    if (n == 0) return 0.0
    val k = math.min(n - 1, math.floor((1.0 - pct) * n).toLong)
    values.orderBy("z").select("z").as[Double].rdd
      .zipWithIndex().filter(_._2 == k).map(_._1).first()
  }

  /**
   * Variable simplification: per-ring intensity from a weight column in [0,1]
   * (the reference's `-simplify variable=`,
   * `src/simplify/mapshaper-variable-simplify.mjs`): each ring filters at
   * `interval * weight` — weight 0 keeps everything, 1 applies the full
   * global interval.
   */
  def simplifyVariable(spark: SparkSession, rings: DataFrame, ringCol: String,
                       weightCol: String, pct: Double,
                       method: Simplify.Method = Simplify.WeightedVisvalingam,
                       exactPct: Boolean = false): DataFrame = {
    val withThr = withThresholds(rings, ringCol, method).cache()
    val interval = globalInterval(spark, withThr, pct, exactPct)
    val filterUdf = udf { (flat: Seq[Double], thr: Seq[Double], w: Double) =>
      keepAbove(flat, thr, interval * math.max(0.0, math.min(1.0, w)))
    }
    withThr
      .withColumn("simplified", filterUdf(col(ringCol), col("thresholds"), col(weightCol)))
      .withColumn("n_before", (size(col(ringCol)) / 2).cast("long"))
      .withColumn("n_after", (size(col("simplified")) / 2).cast("long"))
      .drop("thresholds")
  }

  /** Spherical per-vertex thresholds (meters) for lon/lat rings, with
   * world-edge protection — the reference's DEFAULT for unprojected data
   * (`mapshaper-simplify.mjs:91-120`): vertices go to XYZ on the WGS84
   * sphere and the same kernels run with 3D metrics, so near-pole and
   * antimeridian geometry simplifies by true ground distance. */
  def withSphericalThresholds(rings: DataFrame, ringCol: String,
                              method: Simplify.Method): DataFrame = {
    val thrUdf = udf { (flat: Seq[Double]) =>
      val (lon, lat) = Geom.unzipRing(flat.toArray)
      Simplify.protectWorldEdges(lon, lat,
        Simplify.sphericalThresholds(lon, lat, method))
    }
    rings.withColumn("thresholds", thrUdf(col(ringCol)))
  }

  /**
   * Spherical `-simplify` with `keep-shapes` ring protection: retain ~`pct`
   * of interior vertices globally (interval is a distributed quantile over
   * interior thresholds, in meters); with keepShapes, a closed ring that
   * would collapse below 4 vertices keeps its top-threshold interior
   * vertices instead of vanishing (the reference's keep-shapes repair).
   */
  def simplifySpherical(spark: SparkSession, rings: DataFrame, ringCol: String, pct: Double,
                        method: Simplify.Method = Simplify.WeightedVisvalingam,
                        keepShapes: Boolean = true): DataFrame = {
    val withThr = withSphericalThresholds(rings, ringCol, method).cache()
    val interval = globalInterval(spark, withThr, pct, exactPct = false)
    val filterUdf = udf { (flat: Seq[Double], thr: Seq[Double]) =>
      val n = thr.length
      val keep = new Array[Boolean](n)
      var kept = 0
      var i = 0
      while (i < n) {
        if (thr(i) >= interval) { keep(i) = true; kept += 1 }
        i += 1
      }
      val closed = n >= 2 && flat(0) == flat(flat.length - 2) && flat(1) == flat(flat.length - 1)
      if (keepShapes && closed && kept < 4 && n >= 4) {
        // restore the highest-threshold interior vertices (ties -> lower idx)
        val order = (1 until n - 1).sortBy(j => (-thr(j), j))
        var k = 0
        while (kept < 4 && k < order.length) {
          if (!keep(order(k))) { keep(order(k)) = true; kept += 1 }
          k += 1
        }
      }
      val out = Array.newBuilder[Double]
      i = 0
      while (i < n) {
        if (keep(i)) { out += flat(i * 2); out += flat(i * 2 + 1) }
        i += 1
      }
      out.result()
    }
    withThr
      .withColumn("simplified", filterUdf(col(ringCol), col("thresholds")))
      .withColumn("n_before", (size(col(ringCol)) / 2).cast("long"))
      .withColumn("n_after", (size(col("simplified")) / 2).cast("long"))
      .withColumn("interval", lit(interval))
      .drop("thresholds")
  }

  /** `-filter-islands` / `-filter-slivers`: drop rings below an area floor. */
  def filterSlivers(rings: DataFrame, ringCol: String, minArea: Double): DataFrame =
    rings.filter(abs(FeatureExprs.ringSignedArea(col(ringCol))) >= minArea)
}
