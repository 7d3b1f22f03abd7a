package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed connected components: min-label propagation WITH pointer
 * jumping (path halving), so convergence takes O(log diameter) Spark rounds
 * instead of O(diameter) — a 1000-node chain labels in ~10 rounds.
 *
 * Each round is checkpointed through [[Materialize]], which resets the plan
 * the next round builds on. Only (id, comp) longs ever shuffle. Used by the
 * distributed dissolve2 mosaic and `-lines` chain assembly.
 */
object ConnectedComponents {

  /**
   * Label every node with the min node id of its component.
   * `nodes`: one column `id` (long). `edges`: columns `u`, `v` (longs,
   * undirected, self-loops/duplicates tolerated). Returns (id, comp).
   * Throws if not converged within `maxIters` rounds.
   */
  def label(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
            maxIters: Int = 30): DataFrame = {
    val sym = Materialize(edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v"))), eager = true)
    var labels = Materialize(nodes.select(col("id"), col("id").as("comp")), eager = true)
    var changedCount = 1L
    var iter = 0
    while (changedCount > 0 && iter < maxIters) {
      val neighborMin = sym.join(labels, sym("v") === labels("id"))
        .groupBy(col("u").as("id2")).agg(min(col("comp")).as("ncomp"))
      val hooked = labels.join(neighborMin, labels("id") === col("id2"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jumping: comp <- label(comp)
      val next = Materialize(hooked.as("x")
        .join(hooked.select(col("id").as("cid"), col("comp").as("ccomp")).as("y"),
          col("x.comp") === col("cid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.comp"), coalesce(col("ccomp"), col("x.comp"))).as("comp")), eager = true)
      changedCount = next.as("n").join(labels.as("o"), col("n.id") === col("o.id"))
        .filter(col("n.comp") =!= col("o.comp")).count()
      labels = next
      iter += 1
    }
    require(changedCount == 0,
      s"ConnectedComponents: failed to converge after $maxIters rounds " +
        s"($changedCount labels still changing) — raise maxIters")
    labels
  }
}
