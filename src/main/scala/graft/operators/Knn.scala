package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.index.PointTree

/**
 * k-nearest-neighbour and radius (max-distance) joins. The reference answers
 * point queries from an in-memory KD-tree (kdbush, mapshaper's
 * `src/points/mapshaper-point-index.mjs:11-47`); kNN takes that form
 * whenever the points fit one broadcast, and a shuffle form otherwise.
 *
 * Path selection (kNN), from the point count n alone: when
 * n * 24 bytes <= `spark.sql.autoBroadcastJoinThreshold` (Spark's own
 * broadcast setting; -1 disables it, the 10 MB default admits ~437 k points)
 *  - broadcast: the Spark driver collects (id, x, y), builds a
 *    [[PointTree]] and broadcasts it; one map pass probes every point with
 *    the codegen `knn_probe` expression and `posexplode`s its ranked array —
 *    no cross join, window, exchange or checkpoint loop, and no density
 *    assumption;
 *  - shuffle, otherwise: cell-ring expansion rounds (neighbour rings per
 *    `src/grids/mapshaper-square-grid.mjs:127-136`), then a brute-force
 *    cross join + window for the tail once pending x n <= `bruteForceBudget`
 *    (0 keeps the ring rounds to the end).
 *
 * Exactness law, the same on every path: a point's neighbours are the k
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
 *    after `maxRounds` (the bbox/count resolution misjudges strongly
 *    non-uniform inputs, e.g. collinear points) gets its best-known
 *    neighbours from the widest ring searched, which may be fewer or farther
 *    than the law's;
 *  - brute-force tail: the cross form is the definition itself.
 *
 * Nulls: rows with a null id, x or y (after the casts to long / double) are
 * dropped once, before the path is chosen, so no path sees them: they get
 * no neighbours and are no one's neighbour.
 */
object Knn {

  /**
   * For each row of `points` (id, x, y), the k nearest OTHER rows.
   * Output: (id, rank, neighbor_id, dist2). Rows with a null id, x or y are
   * dropped first. `res`, `maxRounds` and `bruteForceBudget` tune the
   * shuffle path only (taken when n * 24 bytes exceeds
   * `spark.sql.autoBroadcastJoinThreshold`).
   */
  def knnJoin(spark: SparkSession, points: DataFrame, idCol: String, xCol: String, yCol: String,
              k: Int, res: Int = -1, maxRounds: Int = 8,
              bruteForceBudget: Long = 50000000L): DataFrame = {
    val base = points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .filter(col("id").isNotNull && col("x").isNotNull && col("y").isNotNull)
    val stats = base.agg(count(lit(1)), min(col("x")), max(col("x")),
      min(col("y")), max(col("y"))).head()
    if (stats.getLong(0) * PointTree.BytesPerPoint <= GraftBridge.autoBroadcastThreshold(spark))
      broadcastKnn(spark, base, k)
    else shuffleKnn(base, stats, k, res, maxRounds, bruteForceBudget)
  }

  /** The shuffle path: ring rounds, then the brute-force tail. `stats` is
   * (count, min x, max x, min y, max y) of `base`. */
  private def shuffleKnn(base: DataFrame, stats: Row, k: Int, res: Int, maxRounds: Int,
                         bruteForceBudget: Long): DataFrame = {
    val nPoints = math.max(1L, stats.getLong(0))
    // auto resolution: aim for ~k+1 points per cell so the first 3x3 disk
    // usually satisfies the k-th-distance bound in one round
    val useRes = if (res >= 0) res else {
      val w = math.max(1e-9, stats.getDouble(2) - stats.getDouble(1))
      val h = math.max(1e-9, stats.getDouble(4) - stats.getDouble(3))
      // aim for ~2(k+1) points per cell: the 3x3 disk then satisfies the
      // k-th-distance bound for ~all points in ROUND 1 — every extra round
      // costs a full job + fresh codegen, which dominates at moderate n,
      // while 2x more candidates per point is noise in the ranked shuffle
      val csTarget = math.sqrt(w * h / nPoints.toDouble * 2.0 * (k + 1).toDouble)
      math.min(26, math.max(0, math.floor(math.log(360.0 / csTarget) / math.log(2.0)).toInt))
    }
    val pts = base.withColumn("cell", GraftCell.cellIdCol(col("x"), col("y"), useRes))
      .cache()

    val cs = CellIndex.cellSize(useRes)
    var pending = pts
    var pendingCount = nPoints // tracked arithmetically: no isEmpty/count jobs
    var results: DataFrame = null
    var lastRanked: DataFrame = null // best-known results of still-pending points
    // checkpointed round outputs still referenced by lazy downstream frames;
    // released only after the final result is itself materialized
    val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 1
    var round = 0
    while (round < maxRounds && pendingCount > 0) {
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
      // localCheckpoint truncates BOTH execution lineage and the logical
      // plan (without it the per-round union/anti-join chain sends Catalyst
      // analysis superlinear — same lesson as OverlayOp's CC loop); LAZY so
      // the doneCount action below materializes it — one job per round, not
      // two (checkpoint pass + count pass).
      val ranked = cand
        .withColumn("rank", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(w2))
        .withColumn("_kth", max(when(col("rank") === k, col("dist2"))).over(w2))
        .filter(col("rank") <= k)
        .withColumn("_final", col("_n") >= k && col("_kth") <= lit(bound))
        .select(col("a_id").as("id"), col("rank"), col("b_id").as("neighbor_id"),
          col("dist2"), col("_final"))
        .localCheckpoint(false)

      val done = ranked.filter(col("_final")).drop("_final")
      // one job decides the round AND materializes the checkpoint; a final
      // point contributes exactly k rows (_n >= k, rank <= k)
      val doneCount = done.count() / k
      results = if (results == null) done else results.unionByName(done)
      lastRanked = ranked.filter(!col("_final")).drop("_final")
      live += ranked
      pendingCount -= doneCount
      round += 1
      if (pendingCount > 0 && round < maxRounds) {
        val nextLazy = pending.join(done.select("id"), Seq("id"), "left_anti")
        if (pendingCount * nPoints <= bruteForceBudget) {
          // next iteration cuts over to the single brute-force job, which
          // consumes this frame exactly once — materializing it first would
          // spend a whole job on a handful of rows. Lineage stays shallow
          // (one anti-join over the round's checkpoint), and the previous
          // pending's blocks must outlive the final materialization, so no
          // early unpersist (the function-end cleanup releases everything).
          if (pending ne pts) live += pending // release after final materialization
          pending = nextLazy
        } else {
          val nextPending = nextLazy.localCheckpoint(true)
          if (pending ne pts) pending.unpersist() // dead once nextPending is materialized
          pending = nextPending
        }
      }
      r *= 2
      }
    }
    // stragglers (k >= n-1, or degenerate distributions that exhaust
    // maxRounds): emit their best-known neighbors from the widest ring
    // searched instead of dropping them
    if (lastRanked != null && pendingCount > 0)
      results = if (results == null) lastRanked else results.unionByName(lastRanked)
    // materialize the final result, then release every intermediate block
    val out =
      if (results == null) pts.limit(0)
        .select(col("id"), lit(1).as("rank"), col("id").as("neighbor_id"),
          lit(0.0).as("dist2"))
      else results.localCheckpoint(true)
    live.foreach(_.unpersist())
    if (pending ne pts) pending.unpersist()
    pts.unpersist()
    out
  }

  /** The broadcast path: one map pass over `base` probing a broadcast
   * [[PointTree]]. An id held by several points is probed once (from each of
   * its points), as the window ranks those rows' candidates together. */
  private def broadcastKnn(spark: SparkSession, base: DataFrame, k: Int): DataFrame = {
    val rows = base.collect()
    val tree = PointTree.build(rows.map(_.getLong(0)), rows.map(_.getDouble(1)),
      rows.map(_.getDouble(2)))
    val bc = spark.sparkContext.broadcast(tree)
    val probes = if (tree.hasDuplicateIds) base.dropDuplicates("id") else base
    probes
      .select(col("id"), posexplode(
        graft.functions.SpatialExprs.knnProbe(col("id"), col("x"), col("y"), bc, k)))
      .select(col("id"), (col("pos") + 1).as("rank"), col("col.neighbor_id").as("neighbor_id"),
        col("col.dist2").as("dist2"))
  }

  /**
   * Radius join: all pairs (a, b), a.id < b.id, within `radius`. Cell size is
   * chosen >= radius so the 3x3 disk is a complete candidate set.
   */
  def distanceJoin(spark: SparkSession, points: DataFrame, idCol: String, xCol: String, yCol: String,
                   radius: Double): DataFrame = {
    // smallest res whose cellSize >= radius
    var res = 0
    while (CellIndex.cellSize(res + 1) >= radius && res < 30) res += 1
    val pts = points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y"))
      .withColumn("cell", GraftCell.cellIdCol(col("x"), col("y"), res))
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
  }
}
