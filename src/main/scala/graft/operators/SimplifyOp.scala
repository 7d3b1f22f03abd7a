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
  def withThresholds(rings: DataFrame, ringCol: String, method: Simplify.Method): DataFrame =
    thresholdsColumn(rings, ringCol)(Simplify.thresholds(_, _, method))

  /** Spherical per-vertex thresholds (meters) for lon/lat rings, with
   * world-edge protection — the reference's DEFAULT for unprojected data
   * (`mapshaper-simplify.mjs:91-120`): vertices go to XYZ on the WGS84
   * sphere and the same kernels run with 3D metrics, so near-pole and
   * antimeridian geometry simplifies by true ground distance. */
  def withSphericalThresholds(rings: DataFrame, ringCol: String,
                              method: Simplify.Method): DataFrame =
    thresholdsColumn(rings, ringCol) { (lon, lat) =>
      Simplify.protectWorldEdges(lon, lat, Simplify.sphericalThresholds(lon, lat, method))
    }

  private def thresholdsColumn(rings: DataFrame, ringCol: String)(
      kernel: (Array[Double], Array[Double]) => Array[Double]): DataFrame = {
    // a null ring has null thresholds
    val thrUdf = udf { (flat: Seq[Double]) =>
      if (flat == null) null
      else {
        val (xx, yy) = Geom.unzipRing(flat.toArray)
        kernel(xx, yy)
      }
    }
    rings.withColumn("thresholds", thrUdf(col(ringCol)))
  }

  /**
   * Simplify all rings to retain ~`pct` of interior vertices globally (the
   * non-destructive LOD model: thresholds computed once, filtered at read).
   * Output: input columns + simplified, n_before, n_after, interval.
   */
  def simplify(spark: SparkSession, rings: DataFrame, ringCol: String, pct: Double,
               method: Simplify.Method = Simplify.WeightedVisvalingam,
               exactPct: Boolean = false): DataFrame =
    pipeline(spark, withThresholds(rings, ringCol, method), ringCol, pct, exactPct,
      weightCol = None, keepShapes = false)

  /**
   * Variable simplification: per-ring intensity from a weight column in [0,1]
   * (the reference's `-simplify variable=`,
   * `src/simplify/mapshaper-variable-simplify.mjs`): each ring filters at
   * `interval * weight` — weight 0 keeps everything, 1 applies the full
   * global interval. Output: input columns + simplified, n_before, n_after.
   */
  def simplifyVariable(spark: SparkSession, rings: DataFrame, ringCol: String,
                       weightCol: String, pct: Double,
                       method: Simplify.Method = Simplify.WeightedVisvalingam,
                       exactPct: Boolean = false): DataFrame =
    pipeline(spark, withThresholds(rings, ringCol, method), ringCol, pct, exactPct,
      weightCol = Some(weightCol), keepShapes = false)

  /**
   * Spherical `-simplify` with `keep-shapes` ring protection: retain ~`pct`
   * of interior vertices globally (interval is a distributed quantile over
   * interior thresholds, in meters); with keepShapes, a closed ring that
   * would collapse below 4 vertices keeps its top-threshold interior
   * vertices instead of vanishing (the reference's keep-shapes repair).
   * Output: input columns + simplified, n_before, n_after, interval.
   */
  def simplifySpherical(spark: SparkSession, rings: DataFrame, ringCol: String, pct: Double,
                        method: Simplify.Method = Simplify.WeightedVisvalingam,
                        keepShapes: Boolean = true): DataFrame =
    pipeline(spark, withSphericalThresholds(rings, ringCol, method), ringCol, pct,
      exactPct = false, weightCol = None, keepShapes = keepShapes)

  /**
   * The one `-simplify` pipeline over a frame with a `thresholds` column:
   * materialize it, take the global interval, keep each ring's vertices
   * whose threshold is at least `interval * clamp(w)`. Without a weight
   * column `w` is 1.0 (exact: the cutoff is the interval itself) and the
   * one global interval is reported as a column.
   */
  private def pipeline(spark: SparkSession, thresholded: DataFrame, ringCol: String,
                       pct: Double, exactPct: Boolean, weightCol: Option[String],
                       keepShapes: Boolean): DataFrame = {
    val withThr = Materialize(thresholded, eager = false)
    val interval = globalInterval(spark, withThr, pct, exactPct)
    // `w` stays a Double argument clamped here: a null weight gives a null
    // ring, a NaN weight keeps no vertex; a null ring stays null
    val filterUdf = udf { (flat: Seq[Double], thr: Seq[Double], w: Double) =>
      if (flat == null) null
      else Simplify.filter(flat.toArray, thr.toArray, interval * math.max(0.0, math.min(1.0, w)),
        keepShapes)
    }
    val out = withThr
      .withColumn("simplified",
        filterUdf(col(ringCol), col("thresholds"), weightCol.fold(lit(1.0))(col)))
      .withColumn("n_before", (size(col(ringCol)) / 2).cast("long"))
      .withColumn("n_after", (size(col("simplified")) / 2).cast("long"))
    (if (weightCol.isEmpty) out.withColumn("interval", lit(interval)) else out)
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

  /** `-filter-islands` / `-filter-slivers`: drop rings below an area floor. */
  def filterSlivers(rings: DataFrame, ringCol: String, minArea: Double): DataFrame =
    rings.filter(abs(FeatureExprs.ringSignedArea(col(ringCol))) >= minArea)
}
