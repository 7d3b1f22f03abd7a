package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Greedy agglomerative clustering of shapes by centroid distance — the
 * reference's `-cluster` (`/root/reference/src/commands/mapshaper-cluster.mjs:16-40`):
 * repeatedly merge the closest pair of clusters until the target count (or a
 * max-width constraint) is reached. Driver-side over (id, cx, cy) tuples —
 * the cluster SOURCE data (polygon centroids) is small by design; the
 * expensive part (centroids of 10^12 rows) is the distributed groupBy that
 * produces the input.
 */
object Cluster {

  /** Agglomerate to `k` clusters; returns id -> clusterId (deterministic:
   * ties break on smallest member ids). */
  def greedy(items: Seq[(Long, Double, Double)], k: Int, maxDist: Double = Double.MaxValue): Map[Long, Int] =
    agglomerate(items.map(i => (i._1, i._2, i._3, 1.0)), new Array[Int](items.size), k, maxDist)

  /** `pct=` form of the target count (mapshaper-cluster.mjs:26-27):
   * `count = Math.round(size * pct)`, floored at 1. */
  def targetCount(n: Int, pct: Double): Int = math.max(1, math.round(n * pct).toInt)

  /**
   * Group-constrained agglomeration — the reference's `-cluster group_by=`
   * (`mapshaper-cluster.mjs:30-57`: a candidate pair is discarded when
   * `a.group !== b.group`). Same closest-pair merge order and weighted
   * centroids as [[greedy]]; stops at `k` total clusters, or earlier when
   * every remaining pair crosses a group boundary (so the floor is the
   * number of distinct groups).
   */
  def greedyGrouped(items: Seq[(Long, Double, Double, String)], k: Int,
                    maxDist: Double = Double.MaxValue): Map[Long, Int] = {
    val groupIds = mutable.HashMap.empty[String, Int]
    agglomerate(items.map(i => (i._1, i._2, i._3, 1.0)),
      items.map(i => groupIds.getOrElseUpdate(i._4, groupIds.size)).toArray, k, maxDist)
  }

  /** Weighted greedy agglomeration (id, x, y, weight) — same semantics as
   * [[greedy]] with unit weights replaced by the given masses. */
  def greedyWeighted(items: Seq[(Long, Double, Double, Double)], k: Int): Map[Long, Int] =
    agglomerate(items, new Array[Int](items.size), k, Double.MaxValue)

  /** The one merge loop: repeatedly merge the closest alive pair of clusters
   * in the same group into the lower index, at the weighted centroid, until
   * `k` remain, no pair is left, or the closest pair is beyond `maxDist`.
   * With unit weights a cluster's weight is its member count. */
  private def agglomerate(items: Seq[(Long, Double, Double, Double)], group: Array[Int],
                          k: Int, maxDist: Double): Map[Long, Int] = {
    val n = items.size
    if (n == 0) return Map.empty
    val members = mutable.ArrayBuffer(items.map(i => mutable.ArrayBuffer(i._1)): _*)
    val cx = items.map(_._2).toArray
    val cy = items.map(_._3).toArray
    val wt = items.map(_._4).toArray
    val alive = mutable.ArrayBuffer.fill(n)(true)
    var nAlive = n
    while (nAlive > k) {
      // find the closest alive pair (deterministic scan order)
      var bi = -1; var bj = -1; var bd = Double.MaxValue
      var i = 0
      while (i < n) {
        if (alive(i)) {
          var j = i + 1
          while (j < n) {
            if (alive(j) && group(i) == group(j)) {
              val dx = cx(i) - cx(j); val dy = cy(i) - cy(j)
              val d = dx * dx + dy * dy
              if (d < bd) { bd = d; bi = i; bj = j }
            }
            j += 1
          }
        }
        i += 1
      }
      if (bi < 0 || bd > maxDist * maxDist) return assignment(members, alive)
      cx(bi) = (cx(bi) * wt(bi) + cx(bj) * wt(bj)) / (wt(bi) + wt(bj))
      cy(bi) = (cy(bi) * wt(bi) + cy(bj) * wt(bj)) / (wt(bi) + wt(bj))
      wt(bi) += wt(bj)
      members(bi) ++= members(bj)
      alive(bj) = false
      nAlive -= 1
    }
    assignment(members, alive)
  }

  /**
   * Scale contract for `-cluster` at 10^12 rows: the driver kernel NEVER sees
   * more than `maxInput` tuples. Points are pre-aggregated distributed to
   * grid-cell weighted centroids (coarsening the grid until the cell count
   * fits), greedy agglomeration runs on the bounded summary, and the
   * assignment is joined back to the full table via a broadcast map — one
   * shuffle for the pre-agg, zero for the assignment.
   * Output: input columns + cluster_id.
   */
  def assignPoints(spark: SparkSession, points: DataFrame, idCol: String,
                   xCol: String, yCol: String, k: Int,
                   maxInput: Int = 4096): DataFrame = {
    import spark.implicits._
    def cellAgg(r: Int): DataFrame = points
      .select(graft.functions.SpatialExprs.cellIdCol(col(xCol), col(yCol), r).as("cell"),
        col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .groupBy("cell")
      .agg(sum("x").as("sx"), sum("y").as("sy"), count(lit(1)).cast("double").as("w"))
    // ONE sizing job: approx distinct-cell count at every candidate
    // resolution in a single aggregation (instead of up to 12 sequential
    // count() jobs); pick the finest res whose estimate fits with a 10%
    // margin for the sketch error, then verify exactly on the collect.
    val resCandidates = 12 to 0 by -1
    val est = points
      .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .select(resCandidates.map(r =>
        approx_count_distinct(graft.functions.SpatialExprs.cellIdCol(col("x"), col("y"), r), 0.02)
          .as(s"r$r")): _*)
      .head()
    var res = resCandidates
      .find(r => est.getLong(resCandidates.indexOf(r)) <= (maxInput * 0.9).toLong)
      .getOrElse(0)
    var summary = cellAgg(res)
      .select(col("cell"), (col("sx") / col("w")).as("x"), (col("sy") / col("w")).as("y"), col("w"))
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    while (summary.length > maxInput && res > 0) { // sketch-error fallback
      res -= 1
      summary = cellAgg(res)
        .select(col("cell"), (col("sx") / col("w")).as("x"), (col("sy") / col("w")).as("y"), col("w"))
        .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    }
    val asg = greedyWeighted(summary.toSeq, k)
    val bc = spark.sparkContext.broadcast(asg)
    val clusterOf = udf((cell: Long) => bc.value.getOrElse(cell, -1))
    points.withColumn("cluster_id",
      clusterOf(graft.functions.SpatialExprs.cellIdCol(col(xCol), col(yCol), res)))
  }

  private def assignment(members: mutable.ArrayBuffer[mutable.ArrayBuffer[Long]],
                         alive: mutable.ArrayBuffer[Boolean]): Map[Long, Int] = {
    val out = Map.newBuilder[Long, Int]
    var cid = 0
    var i = 0
    while (i < members.length) {
      if (alive(i)) {
        members(i).foreach(m => out += (m -> cid))
        cid += 1
      }
      i += 1
    }
    out.result()
  }
}
