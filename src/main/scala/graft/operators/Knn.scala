package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.index.PointTree

/**
 * k-nearest-neighbour and radius (max-distance) joins. The reference answers
 * point queries from an in-memory KD-tree (kdbush, mapshaper's
 * `src/points/mapshaper-point-index.mjs:11-47`); both joins take that form
 * whenever the points fit one broadcast, and a shuffle form otherwise.
 *
 * Path selection, from the point count n: the broadcast path when
 * n * 24 bytes (the tree's long id and two doubles a point) <=
 * `spark.sql.autoBroadcastJoinThreshold` (Spark's own broadcast setting; -1
 * disables it, the 10 MB default admits ~437 k points). The points are
 * collected as (id, x, y) rows of 32 bytes ([[collectWithin]], the bounded
 * collect of every driver path, under a bound of n * 32 bytes for the same
 * n), so one job both counts and collects them when Spark's size estimate
 * is within that bound. When the estimate is above it (an RDD-backed frame
 * has none, a join's output is estimated as the product of its sides), kNN
 * counts the points in its stats job, which its shuffle path needs anyway,
 * and collects them after when they fit; the radius join has no stats job
 * and takes its shuffle path. Points over the bound whose estimate is
 * within it (a parquet estimate is its file size, ~0.6 of the collected
 * bytes) pay the collect job, stopped once the rows pass the bound, before
 * the shuffle path reads them again.
 *  - broadcast: the Spark driver builds a [[PointTree]] from the collected
 *    rows and broadcasts it; one map pass probes every point with a codegen
 *    expression and explodes its array — `knn_probe` (ranked neighbours)
 *    or `radius_probe` (pairs within the radius) — with no cross join,
 *    window, exchange or checkpoint loop, and no density assumption;
 *  - shuffle, otherwise: for kNN, a job for the point count and bbox, then
 *    cell-ring expansion rounds (neighbour rings per
 *    `src/grids/mapshaper-square-grid.mjs:127-136`), then a brute-force
 *    cross join + window for the tail once pending x n <= `bruteForceBudget`
 *    (0 keeps the ring rounds to the end); for the radius join, an
 *    equi-join on forward-neighbour cells.
 *
 * Exactness law of kNN, the same on every path: a point's neighbours are the k
 * other rows (a_id != b_id) first in (dist2, neighbour id) ascending, with
 * dist2 = (ax-bx)*(ax-bx) + (ay-by)*(ay-by) computed in that order, so the
 * value is bit-identical across paths; a point with fewer than k other
 * points gets all of them; an id held by several points ranks all their
 * candidates together, as the window partitions by id.
 *  - broadcast: the tree search prunes a subtree only when its box's minimum
 *    dist2 is strictly greater than the current k-th (see
 *    [[graft.index.KnnSearcher]]), so ties resolve by neighbour id exactly
 *    as the window does;
 *  - ring rounds: after joining candidates from the Chebyshev disk of radius
 *    R cells, a point's k-th neighbour distance d is final iff
 *    d <= R * cellSize (any point outside the disk is at least R*cellSize
 *    away, since the query point lies inside its own cell). Points that fail
 *    the bound are retried with a doubled R — a driver-side loop of a few
 *    Spark jobs, each a plain equi-join on cellId. A point still pending
 *    after `MaxRounds` (the bbox/count resolution misjudges strongly
 *    non-uniform inputs, e.g. collinear points) gets its best-known
 *    neighbours from the widest ring searched, which may be fewer or farther
 *    than the law's;
 *  - brute-force tail: the cross form is the definition itself.
 *
 * The radius join's law, the same on both paths: the pairs with
 * dist2 <= radius^2 under Spark's double order, with the same dist2
 * arithmetic; the tree search prunes only subtrees whose every point is
 * strictly farther (see [[graft.index.RadiusSearcher]]), so a pair at
 * exactly the radius is kept.
 *
 * Nulls: rows with a null id, x or y (after the casts to long / double) are
 * dropped once, before the path is chosen, so no path sees them: they get
 * no neighbours and are no one's neighbour.
 */
object Knn {

  /** (id, x, y) of `points` as long / double / double, without the rows
   * whose id, x or y is null. */
  private def located(points: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame =
    points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("id").isNotNull && col("x").isNotNull && col("y").isNotNull)

  /** Bytes of one collected (id, x, y) row: an `UnsafeRow`'s null-bit word
   * and three 8-byte fields. */
  private val RowBytes = 32L

  /** Collected bytes of the most points whose tree
   * ([[PointTree.BytesPerPoint]] a point) fits
   * `spark.sql.autoBroadcastJoinThreshold`; -1 when the threshold is -1. */
  private def pointBound(spark: SparkSession): Long = {
    val threshold = GraftBridge.autoBroadcastThreshold(spark)
    if (threshold < 0) -1L
    else math.min(threshold / PointTree.BytesPerPoint, Long.MaxValue / RowBytes) * RowBytes
  }

  /** A [[PointTree]] of collected (id, x, y) rows, broadcast. */
  private def broadcastTree(spark: SparkSession, rows: Array[UnsafeRow]): Broadcast[PointTree] =
    spark.sparkContext.broadcast(PointTree.build(rows.map(_.getLong(0)), rows.map(_.getDouble(1)),
      rows.map(_.getDouble(2))))

  /**
   * For each row of `points` (id, x, y), the k nearest OTHER rows.
   * Output: (id, rank, neighbor_id, dist2). Rows with a null id, x or y are
   * dropped first. `bruteForceBudget` tunes the shuffle path only (taken
   * when the points do not fit one broadcast; see the header).
   */
  def knnJoin(spark: SparkSession, points: DataFrame, idCol: String, xCol: String, yCol: String,
              k: Int, bruteForceBudget: Long = 50000000L): DataFrame = {
    val base = located(points, idCol, xCol, yCol)
    val bound = pointBound(spark)
    collectWithin(base, bound) match {
      case Some(rows) => broadcastKnn(spark, base, rows, k)
      case None =>
        // the shuffle path's stats; their count decides when Spark's estimate
        // was above the bound (after a stopped collect, the count is too)
        val stats = base.agg(count(lit(1)), min(col("x")), max(col("x")),
          min(col("y")), max(col("y"))).head()
        val counted = if (bound >= 0 && stats.getLong(0) <= bound / RowBytes)
          GraftBridge.collectUnsafeWithin(base, bound) else None
        counted.fold(shuffleKnn(base, stats, k, bruteForceBudget))(broadcastKnn(spark, base, _, k))
    }
  }

  /** Ring-expansion rounds of the shuffle path before its stragglers take
   * their best-known neighbours. */
  private final val MaxRounds = 8

  /** The shuffle path: ring rounds, then the brute-force tail. `stats` is
   * (count, min x, max x, min y, max y) of `base`. */
  private def shuffleKnn(base: DataFrame, stats: Row, k: Int,
                         bruteForceBudget: Long): DataFrame = {
    val nPoints = math.max(1L, stats.getLong(0))
    // cell resolution from the bbox and count: aim for ~2(k+1) points per
    // cell, so the 3x3 disk satisfies the k-th-distance bound for ~all points
    // in ROUND 1 — every extra round costs a full job + fresh codegen, which
    // dominates at moderate n, while 2x more candidates per point is noise
    // in the ranked shuffle
    val useRes = {
      val w = math.max(1e-9, stats.getDouble(2) - stats.getDouble(1))
      val h = math.max(1e-9, stats.getDouble(4) - stats.getDouble(3))
      val csTarget = math.sqrt(w * h / nPoints.toDouble * 2.0 * (k + 1).toDouble)
      math.min(26, math.max(0, math.floor(math.log(360.0 / csTarget) / math.log(2.0)).toInt))
    }
    // read by every round and by the tail: checkpointed lazily, so the first
    // round's count (or the tail's final checkpoint) materializes it; its
    // scans name the call site `Knn.shuffleKnn`
    val pts = Materialize(
      base.withColumn("cell", graft.functions.SpatialExprs.cellIdCol(col("x"), col("y"), useRes)),
      eager = false)

    val cs = CellIndex.cellSize(useRes)
    var pending = pts
    var pendingCount = nPoints // tracked arithmetically: no isEmpty/count jobs
    var results: DataFrame = null
    var lastRanked: DataFrame = null // best-known results of still-pending points
    var r = 1
    var round = 0
    while (round < MaxRounds && pendingCount > 0) {
      // brute-force cutover for the tail (r6): once the pending set is small
      // enough that pending x n candidate pairs are trivial, one exact
      // window job replaces the remaining ring-expansion rounds (each a
      // checkpoint + anti-join job chain). Exactness is unchanged — the
      // cross form IS the definition of kNN, ranked by the same
      // (dist2, neighbor_id) law, and a point with fewer than k neighbors
      // gets all of them (identical to the straggler fallback's widest-ring
      // emission). The threshold scales with the data (pair budget), never
      // with the local core count.
      if (pendingCount * nPoints <= bruteForceBudget) {
        val cross = pending
          .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"))
          .crossJoin(pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by")))
          .filter(col("a_id") =!= col("b_id"))
          .withColumn("dist2",
            (col("ax") - col("bx")) * (col("ax") - col("bx")) +
              (col("ay") - col("by")) * (col("ay") - col("by")))
        val wf = Window.partitionBy("a_id").orderBy(col("dist2"), col("b_id"))
        val full = cross
          .withColumn("rank", row_number().over(wf))
          .filter(col("rank") <= k)
          .select(col("a_id").as("id"), col("rank"), col("b_id").as("neighbor_id"),
            col("dist2"))
        results = if (results == null) full else results.unionByName(full)
        pendingCount = 0
      } else {
      val ringR = r
      // codegen disk expansion (a boxed UDF here allocates an Array per row per
      // round; at 10^8 points the allocation rate makes the round GC-bound)
      val cand = pending
        .withColumn("qcell",
          explode(graft.functions.SpatialExprs.cellDisk(col("cell"), ringR)))
        .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"), col("qcell"))
        .join(pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
          col("cell").as("qcell")), Seq("qcell"))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("dist2",
          (col("ax") - col("bx")) * (col("ax") - col("bx")) +
            (col("ay") - col("by")) * (col("ay") - col("by")))
      val w = Window.partitionBy("a_id").orderBy(col("dist2"), col("b_id"))
      // FINALITY decided inside the same window pass (guide §2.4: two
      // operations keyed the same way share one exchange): a point is final
      // iff it has >= k candidates AND the k-th distance is within the ring
      // bound. Both facts are window aggregates over the row_number
      // partitioning — no groupBy summary, no semi/anti join back onto the
      // ranked rows (r5 shape: summary agg + 2 joins + an extra eager
      // checkpoint job per round).
      val bound = (ringR * cs) * (ringR * cs)
      val w2 = Window.partitionBy("a_id")
      // checkpointed LAZILY so the doneCount action below materializes it —
      // one job per round, not two (checkpoint pass + count pass)
      val ranked = Materialize(cand
        .withColumn("rank", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(w2))
        .withColumn("_kth", max(when(col("rank") === k, col("dist2"))).over(w2))
        .filter(col("rank") <= k)
        .withColumn("_final", col("_n") >= k && col("_kth") <= lit(bound))
        .select(col("a_id").as("id"), col("rank"), col("b_id").as("neighbor_id"),
          col("dist2"), col("_final")), eager = false)

      val done = ranked.filter(col("_final")).drop("_final")
      // one job decides the round AND materializes the checkpoint; a final
      // point contributes exactly k rows (_n >= k, rank <= k)
      val doneCount = done.count() / k
      results = if (results == null) done else results.unionByName(done)
      lastRanked = ranked.filter(!col("_final")).drop("_final")
      pendingCount -= doneCount
      round += 1
      if (pendingCount > 0 && round < MaxRounds) {
        val nextLazy = pending.join(done.select("id"), Seq("id"), "left_anti")
        if (pendingCount * nPoints <= bruteForceBudget) {
          // next iteration cuts over to the single brute-force job, which
          // consumes this frame exactly once — materializing it first would
          // spend a whole job on a handful of rows. Lineage stays shallow
          // (one anti-join over the round's checkpoint).
          pending = nextLazy
        } else pending = Materialize(nextLazy, eager = true)
      }
      r *= 2
      }
    }
    // stragglers (k >= n-1, or degenerate distributions that exhaust
    // MaxRounds): emit their best-known neighbors from the widest ring
    // searched instead of dropping them
    if (lastRanked != null && pendingCount > 0)
      results = if (results == null) lastRanked else results.unionByName(lastRanked)
    if (results == null) pts.limit(0)
      .select(col("id"), lit(1).as("rank"), col("id").as("neighbor_id"), lit(0.0).as("dist2"))
    else Materialize(results, eager = true)
  }

  /** The broadcast path: one map pass over `base` probing a broadcast
   * [[PointTree]] of its collected `rows`. An id held by several points is
   * probed once (from each of its points), as the window ranks those rows'
   * candidates together. */
  private def broadcastKnn(spark: SparkSession, base: DataFrame, rows: Array[UnsafeRow],
                           k: Int): DataFrame = {
    val bc = broadcastTree(spark, rows)
    val probes = if (bc.value.hasDuplicateIds) base.dropDuplicates("id") else base
    probes
      .select(col("id"), posexplode(
        graft.functions.SpatialExprs.knnProbe(col("id"), col("x"), col("y"), bc, k)))
      .select(col("id"), (col("pos") + 1).as("rank"), col("col.neighbor_id").as("neighbor_id"),
        col("col.dist2").as("dist2"))
  }

  /**
   * Radius join: all pairs of points within `radius` (squared distance
   * `dist2 <= radius^2`) as (a_id, b_id, dist2) with a_id < b_id. Rows with a
   * null id (after the cast to long) are dropped first; a point with a null
   * x or y pairs with nothing. Two points that share an id never pair. A
   * pair of ids held by several points comes out once per pair of points.
   * Broadcast path: each point probes the tree for the points with a
   * greater id (see [[graft.index.RadiusSearcher]]). Shuffle path: cell size
   * is chosen >= |radius| so the 3x3 disk is a complete candidate set, and the
   * pair is oriented by least/greatest id and kept only when a_id < b_id.
   */
  def distanceJoin(spark: SparkSession, points: DataFrame, idCol: String, xCol: String, yCol: String,
                   radius: Double): DataFrame = {
    val base = located(points, idCol, xCol, yCol)
    collectWithin(base, pointBound(spark)) match {
      case Some(rows) =>
        base.select(col("id").as("a_id"), explode(graft.functions.SpatialExprs.radiusProbe(
            col("id"), col("x"), col("y"), broadcastTree(spark, rows), radius * radius)))
          .select(col("a_id"), col("col.neighbor_id").as("b_id"), col("col.dist2").as("dist2"))
      case None => shuffleDistanceJoin(base, radius)
    }
  }

  /** The shuffle path of [[distanceJoin]]: an equi-join on cells. */
  private def shuffleDistanceJoin(base: DataFrame, radius: Double): DataFrame = {
    // smallest res whose cellSize >= |radius| (a negative radius keeps the
    // pairs within its square, as the broadcast path does)
    var res = 0
    while (CellIndex.cellSize(res + 1) >= math.abs(radius) && res < 30) res += 1
    val pts = base.withColumn("cell", graft.functions.SpatialExprs.cellIdCol(col("x"), col("y"), res))
    // forward-neighbor expansion (cell + E/NE/N/NW) instead of the full 3x3
    // disk (r6, guide §2.3 — shuffle/join fewer rows): every unordered pair
    // of adjacent cells appears in exactly ONE side's forward set, so each
    // candidate pair is generated once — 5/9 the join fan-out of the disk
    // form, with the a<b constraint needed only within the same cell.
    // dist2 is symmetric bit-exactly ((a-b)^2 == (b-a)^2), so orienting the
    // output by least/greatest id leaves every emitted value unchanged.
    val left = pts
      .withColumn("qcell",
        explode(graft.functions.SpatialExprs.cellForward(col("cell"))))
      .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
        col("cell").as("acell"), col("qcell"))
    val right = pts.select(col("id").as("b_id"), col("x").as("bx"), col("y").as("by"),
      col("cell").as("qcell"))
    left.join(right, Seq("qcell"))
      .filter(col("qcell") =!= col("acell") || col("a_id") < col("b_id"))
      .withColumn("dist2",
        (col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
      .filter(col("dist2") <= lit(radius * radius))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("dist2"))
      .filter(col("a_id") < col("b_id"))
  }
}
