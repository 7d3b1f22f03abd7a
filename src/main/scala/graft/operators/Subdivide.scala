package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Recursive bisection of a point set — the reference's `-subdivide`
 * (`/root/reference/src/commands/mapshaper-subdivide.mjs:15`): split while a
 * predicate holds (here: leaf row count > maxPerLeaf), alternating the split
 * axis on the longer side. Driver-directed quadtree over DISTRIBUTED counts:
 * each round computes per-leaf counts + medians with one aggregation, so the
 * loop depth is O(log n) Spark jobs regardless of data size.
 */
object Subdivide {

  final case class Leaf(id: Long, xmin: Double, ymin: Double, xmax: Double, ymax: Double, count: Long)

  /** Per-leaf aggregates the [[byExpression]] predicate sees — the Spark
   * stand-in for the reference's calc-expression over a sub-layer. */
  final case class LeafStats(leaf: Long, count: Long,
                             xmin: Double, ymin: Double, xmax: Double, ymax: Double) {
    def width: Double = xmax - xmin
    def height: Double = ymax - ymin
  }

  /**
   * Reference `-subdivide` semantics (`mapshaper-subdivide.mjs:15-90`):
   * recursively split while the expression over the CURRENT sub-layer holds;
   * each split orders rows by position along the longer extent axis and sends
   * the first ceil(n/2) to the low child (count-median, not midpoint — both
   * children always hold n/2 ± 1 rows). Leaf ids use the same 2k/2k+1 scheme
   * as [[byCount]].
   *
   * Scale shape: one distributed aggregation (per-leaf stats, bounded rows
   * collected) plus one window shuffle per DEPTH level — depth is
   * O(log n / leaf), and each round's lineage is truncated with a
   * checkpoint ([[Materialize]]). The midpoint [[byCount]] stays the
   * cheaper path when median balance is not required.
   */
  def byExpression(spark: SparkSession, points: DataFrame, xCol: String, yCol: String,
                   predicate: LeafStats => Boolean, maxDepth: Int = 32): DataFrame = {
    import spark.implicits._
    var pts = Materialize(points
      .withColumn("_x", col(xCol).cast("double"))
      .withColumn("_y", col(yCol).cast("double"))
      .withColumn("leaf_id", lit(1L)), eager = true)
    var depth = 0
    var continue = true
    while (continue && depth < maxDepth) {
      val stats = pts.groupBy("leaf_id")
        .agg(count(lit(1)).as("n"), min("_x"), min("_y"), max("_x"), max("_y"))
        .as[(Long, Long, Double, Double, Double, Double)].collect()
        .map { case (l, n, x0, y0, x1, y1) => LeafStats(l, n, x0, y0, x1, y1) }
      val toSplit = stats.filter(s => s.count > 1 && predicate(s))
      if (toSplit.isEmpty) continue = false
      else {
        // reference: useX = bounds.width() > bounds.height(); first
        // ceil(n/2) sorted rows -> low child
        val useX = toSplit.map(s => s.leaf -> (s.width > s.height)).toMap
        val half = toSplit.map(s => s.leaf -> ((s.count + 1) / 2)).toMap
        val bcUseX = spark.sparkContext.broadcast(useX)
        val bcHalf = spark.sparkContext.broadcast(half)
        val ctrUdf = udf((l: Long, x: Double, y: Double) =>
          if (bcUseX.value.getOrElse(l, true)) x else y)
        val childUdf = udf { (l: Long, rk: Int) =>
          bcHalf.value.get(l) match {
            case None => l
            case Some(h) => if (rk <= h) l * 2 else l * 2 + 1
          }
        }
        val w = Window.partitionBy("leaf_id").orderBy("_ctr", "_x", "_y")
        pts = Materialize(pts
          .withColumn("_ctr", ctrUdf(col("leaf_id"), col("_x"), col("_y")))
          .withColumn("_rk", row_number().over(w))
          .withColumn("leaf_id", childUdf(col("leaf_id"), col("_rk")))
          .drop("_ctr", "_rk"), eager = true)
        depth += 1
      }
    }
    pts.drop("_x", "_y")
  }

  /**
   * Assign each point a leaf id such that every leaf holds ≤ maxPerLeaf
   * points (unless maxDepth hit). Returns (points + leaf_id column, leaves).
   * Splits at the leaf's bbox midpoint on its longer axis — deterministic.
   */
  def byCount(spark: SparkSession, points: DataFrame, xCol: String, yCol: String,
              maxPerLeaf: Long, maxDepth: Int = 24): (DataFrame, Seq[Leaf]) = {
    import spark.implicits._
    val pts = Materialize(
      points.select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y")),
      eager = false)
    val ext = pts.agg(min("x"), min("y"), max("x"), max("y")).head()
    var leaves = Map(1L -> ((ext.getDouble(0), ext.getDouble(1),
      ext.getDouble(2) + 1e-9, ext.getDouble(3) + 1e-9)))
    var depth = 0
    var changed = true
    // leaf id scheme: root=1; children of k = 2k and 2k+1 (binary split)
    while (changed && depth < maxDepth) {
      val cur = leaves
      val counts = pts.withColumn("leaf", leafOf(spark, cur)(col("x"), col("y")))
        .groupBy("leaf").count().as[(Long, Long)].collect().toMap
      val over = cur.keys.filter { id =>
        !cur.contains(id * 2) && counts.getOrElse(id, 0L) > maxPerLeaf
      }
      changed = over.nonEmpty
      over.foreach { id =>
        val (x0, y0, x1, y1) = cur(id)
        if ((x1 - x0) >= (y1 - y0)) {
          val mx = (x0 + x1) / 2
          leaves += (id * 2) -> ((x0, y0, mx, y1))
          leaves += (id * 2 + 1) -> ((mx, y0, x1, y1))
        } else {
          val my = (y0 + y1) / 2
          leaves += (id * 2) -> ((x0, y0, x1, my))
          leaves += (id * 2 + 1) -> ((x0, my, x1, y1))
        }
      }
      depth += 1
    }
    val finalMap = leaves
    val assigned = points.withColumn("leaf_id",
      leafOf(spark, finalMap)(col(xCol).cast("double"), col(yCol).cast("double")))
    val leafCounts = assigned.groupBy("leaf_id").count().as[(Long, Long)].collect().toMap
    val leafSeq = finalMap.toSeq
      .filter { case (id, _) => !finalMap.contains(id * 2) && !finalMap.contains(id * 2 + 1) }
      .map { case (id, (x0, y0, x1, y1)) => Leaf(id, x0, y0, x1, y1, leafCounts.getOrElse(id, 0L)) }
      .sortBy(_.id)
    (assigned, leafSeq)
  }

  /** The leaf of `leaves` (id -> box, ids 2k and 2k+1 splitting k at the
   * midpoint of its longer side) that holds (x, y): a descent from the root
   * until the box has no children. */
  private def leafOf(spark: SparkSession, leaves: Map[Long, (Double, Double, Double, Double)]) = {
    val bc = spark.sparkContext.broadcast(leaves)
    udf { (x: Double, y: Double) =>
      val m = bc.value
      var id = 1L
      while (m.contains(id * 2) || m.contains(id * 2 + 1)) {
        val (x0, y0, x1, y1) = m(id)
        val splitX = (x1 - x0) >= (y1 - y0)
        val lo = if (splitX) x < (x0 + x1) / 2 else y < (y0 + y1) / 2
        id = if (lo) id * 2 else id * 2 + 1
      }
      id
    }
  }
}
