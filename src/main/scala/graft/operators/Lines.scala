package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * `-lines` — convert polygon layers to classified boundary polylines, and
 * point layers to connected lines / callouts (reference:
 * `src/commands/mapshaper-lines.mjs:16-282`).
 *
 * Classification follows the reference's arc classifier
 * (`src/topology/mapshaper-arc-classifier.mjs:13-63`): each undirected
 * boundary edge belongs to at most two shapes (a = smaller shape key,
 * b = larger); an edge is consumed by the FIRST category that claims it —
 * `outer` (single owner, RANK 0), then one category per requested data
 * field where the two owners disagree (RANK 1..k, TYPE = field name,
 * `mapshaper-lines.mjs:168-185`), then `inner` (RANK k+1,
 * `mapshaper-lines.mjs:235-238`).
 *
 * Scale shape: everything is built-in expressions (whole-stage codegen);
 * the only shuffle keys are the canonical edge coordinates plus the small
 * per-shape attribute values being compared — ring arrays never shuffle.
 */
object Lines {

  /** Explode a layer of flat closed rings into directed edges.
   * Output: carry columns + (x1, y1, x2, y2, seg) where seg is the
   * 0-based segment index within the ring (`-lines segments=` mode,
   * `mapshaper-lines.mjs:51-79`). */
  def segments(polys: DataFrame, ringCol: String, carry: Seq[String]): DataFrame = {
    val ring = col(ringCol)
    val segIdx = sequence(lit(0), (size(ring) / 2 - 2).cast("int"))
    val segs = transform(segIdx, i => struct(
      element_at(ring, i * 2 + 1).as("x1"),
      element_at(ring, i * 2 + 2).as("y1"),
      element_at(ring, i * 2 + 3).as("x2"),
      element_at(ring, i * 2 + 4).as("y2"),
      i.as("seg")))
    polys
      .select(carry.map(col) :+ explode(segs).as("e"): _*)
      .select(carry.map(col) :+ col("e.x1") :+ col("e.y1") :+
        col("e.x2") :+ col("e.y2") :+ col("e.seg"): _*)
  }

  /** Canonicalize directed edges to undirected keys: the lexicographically
   * smaller endpoint becomes (ex1, ey1). */
  private def canonical(df: DataFrame): DataFrame = {
    val lt = (col("x1") < col("x2")) ||
      (col("x1") === col("x2") && col("y1") < col("y2"))
    df.withColumn("ex1", when(lt, col("x1")).otherwise(col("x2")))
      .withColumn("ey1", when(lt, col("y1")).otherwise(col("y2")))
      .withColumn("ex2", when(lt, col("x2")).otherwise(col("x1")))
      .withColumn("ey2", when(lt, col("y2")).otherwise(col("y1")))
      .drop("x1", "y1", "x2", "y2")
  }

  /**
   * `-lines` over a polygon layer: one row per undirected boundary edge with
   * its classification. `polys` holds one flat closed ring per row plus a
   * shape key and the attribute fields named in `fields`.
   *
   * Returns (ex1, ey1, ex2, ey2, type, rank, key_a, key_b) where key_a/key_b
   * are the two owning shape keys in ascending order (key_b null for outer
   * edges). Ownership ties beyond two shapes (invalid topology) keep the two
   * smallest keys deterministically.
   */
  def polygonsToLines(polys: DataFrame, keyCol: String, ringCol: String,
                      fields: Seq[String] = Nil): DataFrame = {
    val edges = canonical(segments(polys, ringCol, keyCol +: fields))
    val owner = struct(col(keyCol).as("k") +: fields.map(col): _*)
    val grouped = edges
      .groupBy("ex1", "ey1", "ex2", "ey2")
      .agg(count(lit(1)).as("c"),
        slice(array_sort(collect_list(owner)), 1, 2).as("own"))
    val a = col("own").getItem(0)
    val b = col("own").getItem(1)
    val innerRank = fields.size + 1
    // first claiming category wins, in the reference's order
    val (typeCol, rankCol) = fields.zipWithIndex.foldLeft(
      (when(col("c") === 1, lit("outer")), when(col("c") === 1, lit(0)))) {
      case ((t, r), (f, i)) =>
        val differs = col("c") > 1 && !(a.getField(f) <=> b.getField(f))
        (t.when(differs, lit(f)), r.when(differs, lit(i + 1)))
    }
    grouped.select(
      col("ex1"), col("ey1"), col("ex2"), col("ey2"),
      typeCol.otherwise(lit("inner")).as("type"),
      rankCol.otherwise(lit(innerRank)).cast("long").as("rank"),
      a.getField("k").as("key_a"),
      when(col("c") > 1, b.getField("k")).as("key_b"))
  }

  /**
   * Assemble classified edges into maximal polylines — the reference merges
   * contiguous same-key arcs into one line (`mapshaper-lines.mjs:240-282`,
   * extractLines' continuation/ring-seam merging). Distributed shape: within
   * each classification group (type, key_a, key_b), two edges chain when they
   * meet at a vertex used by EXACTLY two group edges (junctions of degree ≥ 3
   * break chains, like the reference's node splits); chains are connected
   * components over edge nodes — pointer-jumping CC, O(log chain-length)
   * rounds, only (edge-id, label) longs shuffle.
   *
   * Input: output of [[polygonsToLines]]. Output: one row per chain:
   * (type, rank, key_a, key_b, chain, n_edges) with `chain` the min edge id.
   */
  def assembleChains(spark: SparkSession, classified: DataFrame): DataFrame = {
    val grp = Seq(col("type"), col("rank"), col("key_a"), col("key_b"))
    val eid = xxhash64(col("ex1"), col("ey1"), col("ex2"), col("ey2"),
      col("type"), col("key_a"))
    val edges = classified.withColumn("eid", eid)
    // endpoints, keyed by group + vertex
    val ends = edges.select(grp :+ col("eid") :+
      explode(array(struct(col("ex1").as("vx"), col("ey1").as("vy")),
        struct(col("ex2").as("vx"), col("ey2").as("vy")))).as("v"): _*)
    // vertices where exactly two group edges meet -> an adjacency pair
    val adj = ends
      .groupBy(grp :+ col("v"): _*)
      .agg(collect_list(col("eid")).as("es"))
      .where(size(col("es")) === 2)
      .select(col("es").getItem(0).as("u"), col("es").getItem(1).as("v"))
    val labels = ConnectedComponents.label(spark, edges.select(col("eid").as("id")), adj)
    edges.join(labels, edges("eid") === labels("id"))
      .groupBy(grp :+ col("comp").as("chain"): _*)
      .agg(count(lit(1)).as("n_edges"))
      .drop("comp")
  }

  /**
   * `-lines` over a point layer (`mapshaper-lines.mjs:81-152`): connect the
   * points of each group (groupby=) in `orderCol` order into one LineString.
   * Returns (group, line, n_vertices) with `line` a flat [x0,y0,x1,y1,...]
   * array. With no grouping, pass a constant group column.
   */
  def pointsToLines(points: DataFrame, groupCol: String, orderCol: String,
                    xCol: String, yCol: String): DataFrame = {
    points
      .groupBy(col(groupCol).as("group"))
      .agg(array_sort(collect_list(struct(col(orderCol).as("o"),
        col(xCol).as("x"), col(yCol).as("y")))).as("pts"))
      .select(col("group"),
        flatten(transform(col("pts"), p => array(p.getField("x"), p.getField("y")))).as("line"),
        size(col("pts")).cast("long").as("n_vertices"))
  }

  /**
   * `-lines callouts=` (`mapshaper-lines.mjs:94-117`): each point grows a
   * horizontal callout segment of length layerWidth/50. The layer width is a
   * one-row broadcast aggregate — no per-point shuffle.
   */
  def callouts(points: DataFrame, xCol: String, yCol: String): DataFrame = {
    val ext = points.agg(((max(col(xCol)) - min(col(xCol))) / 50.0).as("callout_len"))
    points.crossJoin(broadcast(ext))
      .select(points.columns.map(col) :+
        col(xCol).as("cx1") :+ col(yCol).as("cy1") :+
        (col(xCol) + col("callout_len")).as("cx2") :+ col(yCol).as("cy2"): _*)
  }
}
