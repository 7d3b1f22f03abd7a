package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.index.{LayerBroadcasts, PolygonLayer}

/**
 * The reference's `-fuzzy-join` end-to-end
 * (`/root/reference/src/commands/mapshaper-fuzzy-join.mjs:20-162`): copy a
 * category field from a point layer onto a polygon layer so the polygons
 * form a continuous mosaic of values, treating point locations as
 * potentially unreliable.
 *
 * Phases:
 *  1. `dedup_points`: drop coincident (x, y, value) duplicates keeping the
 *     first (lowest point id) — the reference shells out to `-uniq` on
 *     `x~y~value` (lines 27-29);
 *  2. first-match PIP vote per polygon: the modal value wins when the mode
 *     has positive margin; exact ties are resolved by summed point-to-
 *     boundary distance over the tied values (resolveFuzzyJoinTie, lines
 *     146-162), any remaining tie by smallest value (deterministic — the
 *     reference's residual order is traversal-dependent);
 *  3. polygons with no vote are filled via the weighted data-fill contagion,
 *     `join-count` serving as the island weight field (lines 70-71);
 *  4. `no_dropouts`: any source value that vanished from the output is
 *     restored into the polygon where it scored its highest original count,
 *     at most one restoration per polygon (lines 74-81, 99-127).
 *
 * Scale shape: every aggregation is (key, value, count/weight) — per-point
 * work is the broadcast PIP plus tie-break distances, and distances are
 * computed ONLY for points inside tied polygons (a broadcast-pruned slice).
 * The `no_dropouts` resolution collects one row per missing VALUE — bounded
 * by category cardinality, not data size — and replays the reference's
 * sequential argmax on the driver.
 */
object FuzzyJoin {

  /**
   * @param polygons  one row per target polygon, `keyCol` long
   * @param points    (pid, x, y, value) source points
   * @param layer     broadcastable polygon layer (PIP + boundary distances)
   * @param adjacency (a, b, w) polygon-neighbor shared-border weights for
   *                  the data-fill phase
   * @return (key, value, join_count)
   */
  def join(spark: SparkSession, polygons: DataFrame, keyCol: String,
           points: DataFrame, pidCol: String, xCol: String, yCol: String,
           valueCol: String, layer: PolygonLayer, adjacency: DataFrame,
           dedupPoints: Boolean = false, noDropouts: Boolean = false,
           contiguous: Boolean = false): DataFrame = {
    // the joined field is a category: normalized to string throughout so the
    // output type is flag-independent
    val pts0 = points.select(col(pidCol).as("pid"), col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y"), col(valueCol).cast("string").as("value"))
    val pts = if (dedupPoints) {
      val w = Window.partitionBy(col("x"), col("y"), col("value")).orderBy(col("pid"))
      pts0.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
    } else pts0

    val bc = LayerBroadcasts.of(spark, layer)
    // reused by votes, tie-break, and dropouts
    val matched = Materialize(pts
      .withColumn("key", graft.functions.SpatialExprs.pipFirstKey(col("x"), col("y"), bc))
      .filter(col("key") >= 0), eager = true)

    val counts = Materialize(matched.groupBy(col("key"), col("value"))
      .agg(count(lit(1)).as("c")), eager = true)

    val perKey = Window.partitionBy(col("key"))
    val maxed = counts.withColumn("maxc", max(col("c")).over(perKey))
    val tiedVals = maxed.filter(col("c") === col("maxc"))
    val tieSizes = tiedVals.groupBy(col("key"))
      .agg(count(lit(1)).as("nTied"), max(col("maxc")).as("join_count"))

    // clear winners (unique mode)
    val clearW = tiedVals.join(tieSizes.filter(col("nTied") === 1), Seq("key"))
      .select(col("key"), col("value").as("win"), col("join_count"))

    // tied polygons: distance-weighted vote over the tied values only
    val tiedKeys = tieSizes.filter(col("nTied") > 1)
      .select(col("key"), col("join_count"))
    val distUdf = udf((x: Double, y: Double, key: Long) =>
      bc.value.boundaryDistanceByKey(x, y, key))
    val tieWeights = matched.join(tiedVals.select(col("key"), col("value")), Seq("key", "value"))
      .join(tiedKeys.select(col("key")), Seq("key"))
      .withColumn("d", distUdf(col("x"), col("y"), col("key")))
      .groupBy(col("key"), col("value")).agg(sum(col("d")).as("dw"))
    val tw = Window.partitionBy(col("key")).orderBy(col("dw").desc, col("value"))
    val tieW = tieWeights.withColumn("_rn", row_number().over(tw)).filter(col("_rn") === 1)
      .join(tiedKeys, Seq("key"))
      .select(col("key"), col("value").as("win"), col("join_count"))

    val assigned = clearW.unionByName(tieW)

    // data-fill phase: unvoted polygons adopt neighbor values
    val features = polygons.select(col(keyCol).as("id"))
      .join(assigned.select(col("key").as("id"), col("win").as("value"),
        col("join_count")), Seq("id"), "left")
      .select(col("id"), col("value"), coalesce(col("join_count"), lit(0L)).as("join_count"))
    val filled = DataFill.fillWeighted(spark, features, adjacency,
      weightCol = Some("join_count"), contiguous = contiguous)
      .select(col("id").as("key"), col("value"))
      .join(features.select(col("id").as("key"), col("join_count")), Seq("key"))

    if (!noDropouts) return filled.select("key", "value", "join_count")

    // dropout restoration: source values missing from the fill, placed at
    // their original argmax-count polygon (strictly-greater scan => lowest
    // key on ties), one per polygon, replayed sequentially per the reference
    val missing = pts.select(col("value")).distinct()
      .join(filled.select(col("value")).distinct(), Seq("value"), "left_anti")
      .collect().map(_.getString(0)).sorted
    if (missing.isEmpty) return filled.select("key", "value", "join_count")
    // strictly-greater argmax scanning keys ascending = the reference's
    // findDropoutInsertionShape (lowest shape wins a count tie)
    val candRows = counts
      .filter(col("value").isin(missing.toSeq: _*))
      .select(col("value"), col("key"), col("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    // the reference's argmax ignores already-used polygons and simply FAILS
    // the restore when the winner is taken (restoreDropoutValues:105-111) —
    // it does not fall back to the runner-up
    val used = scala.collection.mutable.HashSet.empty[Long]
    val restored = scala.collection.mutable.Map.empty[Long, String]
    missing.foreach { mv =>
      var bestKey = -1L
      var bestC = 0L
      candRows.foreach { case (v, k, c) =>
        if (v == mv && c > bestC) { bestKey = k; bestC = c }
      }
      if (bestKey >= 0 && !used.contains(bestKey)) { used += bestKey; restored(bestKey) = mv }
    }
    val bcR = spark.sparkContext.broadcast(restored.toMap)
    val restoreUdf = udf((key: Long, v: String) => bcR.value.getOrElse(key, v))
    filled
      .withColumn("value", restoreUdf(col("key"), col("value")))
      .select("key", "value", "join_count")
  }
}
