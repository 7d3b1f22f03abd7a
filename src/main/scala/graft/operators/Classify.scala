package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * `-classify` / `-colorizer` — sequential and categorical classification with
 * the reference's exact break semantics
 * (`/root/reference/src/classification/mapshaper-class-stats.mjs`):
 *
 *  - equal-interval: breaks at min + i*(max-min)/numRanges (getEqualIntervalBreaks);
 *  - quantile: break i = ascending[floor(i * n/numRanges)] (getQuantileBreaks);
 *  - hybrid: quantile outer buckets, equal-interval inner over values in
 *    [lowerBreak, upperBreak) (getHybridBreaks);
 *  - class id = number of breaks <= value (getClassId: `while (val >= breaks[i]) i++`);
 *  - colorizer: class id -> color value, nodata -> null color
 *    (`src/commands/mapshaper-colorizer.mjs:25-90`), categorical by exact
 *    match, `random` via the reference's string-hash (fastStringHash).
 *
 * Scale: break computation is a one-off rank-select (a single sort shuffle
 * emitting k values); classification itself is pure codegen column math.
 */
object Classify {

  /** Class id of a value given ascending breaks: count of breaks <= value.
   * Null-safe: null -> -1 (the reference's null class). Codegen arithmetic. */
  def classId(value: Column, breaks: Seq[Double]): Column = {
    val id = breaks.map(b => when(value >= b, 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    when(value.isNull, -1).otherwise(id).cast("int")
  }

  /** Discrete colorizer: class id -> colors(i); null/invalid -> nullColor. */
  def colorize(value: Column, breaks: Seq[Double], colors: Seq[String],
               nullColor: String = null): Column = {
    require(colors.length == breaks.length + 1,
      s"need ${breaks.length + 1} colors for ${breaks.length} breaks")
    val id = classId(value, breaks)
    colors.zipWithIndex.foldLeft(lit(nullColor)) { case (acc, (c, i)) =>
      when(id === i, c).otherwise(acc)
    }
  }

  /** Categorical colorizer: exact category match -> color; unmatched ->
   * otherColor; null -> nullColor (getCategoricalColorFunction). */
  def colorizeCategorical(value: Column, categories: Seq[String], colors: Seq[String],
                          otherColor: String = null, nullColor: String = null): Column = {
    require(colors.length == categories.length, "colors must match categories")
    val base = when(value.isNull, nullColor).otherwise(otherColor)
    categories.zip(colors).foldLeft(base) { case (acc, (cat, c)) =>
      when(value === cat, c).otherwise(acc)
    }
  }

  /** The reference's fastStringHash (string-hash, public domain): h = 5381,
   * then h = ToInt32(h*33) ^ charCode scanning from the END of the string;
   * returns |h|. Used by the `random` colorizer. */
  def fastStringHash(s: String): Long = {
    var hash = 5381
    var i = s.length
    while (i > 0) {
      i -= 1
      hash = ((hash * 33L).toInt) ^ s.charAt(i).toInt
    }
    // JS Math.abs(-2^31) exceeds int32 — abs in 64-bit like the reference
    math.abs(hash.toLong)
  }

  /** `random` colorizer: deterministic color from the value's string hash. */
  def colorizeRandom(value: Column, colors: Seq[String]): Column = {
    val hashUdf = udf((s: String) => if (s == null) null
      else colors((fastStringHash(s) % colors.length).toInt))
    hashUdf(value.cast("string"))
  }

  // ------------------------------------------------------------ break makers

  /** Equal-interval breaks from data min/max (one distributed agg). */
  def equalIntervalBreaks(df: DataFrame, valueCol: String, numBreaks: Int): Seq[Double] = {
    val r = df.agg(min(col(valueCol).cast("double")), max(col(valueCol).cast("double"))).head()
    equalIntervalBreaksOf(r.getDouble(0), r.getDouble(1), numBreaks)
  }

  def equalIntervalBreaksOf(minVal: Double, maxVal: Double, numBreaks: Int): Seq[Double] = {
    val numRanges = numBreaks + 1
    val interval = (maxVal - minVal) / numRanges
    (1 until numRanges).map(i => minVal + i * interval)
  }

  /** Quantile breaks: ascending[floor(i * n/numRanges)] — exact DISTRIBUTED
   * rank-select. A bare `Window.orderBy` would sort everything through ONE
   * task; instead the values are range-partitioned, ranked per partition in
   * parallel, and globalized with driver-side prefix sums (k tiny rows out). */
  def quantileBreaks(spark: SparkSession, df: DataFrame, valueCol: String,
                     numBreaks: Int): Seq[Double] = {
    import spark.implicits._
    val parts = math.max(2, spark.sparkContext.defaultParallelism)
    // ranked + counted below without recomputing
    val vals = Materialize(
      df.select(col(valueCol).cast("double").as("v")).filter(col("v").isNotNull)
        .repartitionByRange(parts, col("v"))
        .withColumn("_pid", spark_partition_id()),
      eager = true)
    val counts = vals.groupBy("_pid").count()
      .as[(Int, Long)].collect().sortBy(_._1)
    val n = counts.map(_._2).sum
    val prefix = counts.scanLeft(0L)(_ + _._2).init
    val prefixBc = spark.sparkContext.broadcast(
      counts.map(_._1).zip(prefix).toMap)
    val numRanges = numBreaks + 1
    val targets = (1 until numRanges)
      .map(i => math.floor(i * (n.toDouble / numRanges)).toLong)
    // ranks computed per range-partition IN PARALLEL; global rank = prefix + local
    val w = Window.partitionBy(col("_pid")).orderBy(col("v"))
    val prefixUdf = udf((pid: Int) => prefixBc.value.getOrElse(pid, 0L))
    vals
      .withColumn("rnk", row_number().over(w) - 1 + prefixUdf(col("_pid")))
      .filter(col("rnk").isin(targets: _*))
      .orderBy("rnk")
      .select("v").as[Double].collect().toSeq
  }

  /** Hybrid breaks: quantile outer, equal-interval inner over
   * [lowerBreak, upperBreak) (getHybridBreaks). */
  def hybridBreaks(spark: SparkSession, df: DataFrame, valueCol: String,
                   numBreaks: Int): Seq[Double] = {
    val qb = quantileBreaks(spark, df, valueCol, numBreaks)
    if (numBreaks < 3) return qb
    val lower = qb.head
    val upper = qb.last
    val inner = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v") >= lower && col("v") < upper)
    val innerBreaks = equalIntervalBreaks(inner, "v", numBreaks - 2)
    lower +: innerBreaks :+ upper
  }

  // ------------------------------------------------------------------
  // -classify non-adjacent: greedy saturation coloring of the polygon
  // neighbor graph (ref src/color/graph-color.mjs:8-163, dispatched from
  // src/commands/mapshaper-classify.mjs:59). The reference's exact order
  // semantics are kept: queue initially stable-ascending on neighbor
  // count (popped from the end -> most neighbors first), updated items
  // bubble forward while (saturation desc, common desc, uncolored asc)
  // beats the next item, and color preference is (use-count asc, color
  // index asc) with the first non-conflicting candidate taken.
  //
  // Scale shape: coloring is for STYLING the polygon layer — the bounded
  // side of every spatial join in this engine (same bounded-input
  // contract as -cluster). The adjacency EXTRACTION from geometry is
  // distributed (edge-key self-join, see sharedEdgeAdjacency); only the
  // (a, b) id pairs are collected, never geometry. The queue itself is
  // inherently sequential — the reference's bubble history makes results
  // order-dependent, so a parallel recoloring would change outputs.
  // ------------------------------------------------------------------

  /** Exact greedy from graph-color.mjs. `nabes` must list every node id
   * (record order = index order); neighbor lists use ascending-id order
   * (the reference's arc-traversal order is an arc-storage artifact; this
   * is the deterministic equivalent). Returns nodeId -> colorId; nodes the
   * greedy could not color keep the fallback (most-preferred) color, as in
   * the reference. */
  def nonAdjacentColors(nabes: IndexedSeq[Seq[Int]], nColors: Int): Array[Int] = {
    require(nColors > 0, "nColors must be positive")
    val n = nabes.length
    val colorId = Array.fill(n)(-1)
    val nabeColors = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val uncolored = Array.tabulate(n)(i => nabes(i).length)
    val saturation = new Array[Int](n)
    val common = new Array[Int](n)
    // color preference state (getUpdateFunction): counts asc, index asc
    val counts = new Array[Int](nColors)
    var colorIds: Array[Int] = Array.range(0, nColors)
    def bumpColor(c: Int): Unit = {
      counts(c) += 1
      colorIds = colorIds.sortBy(i => (counts(i), i)) // stable by construction
    }
    // queue: stable sort ascending on uncolored; pop from the end
    val sorted = scala.collection.mutable.ArrayBuffer(
      Array.range(0, n).sortBy(uncolored): _*)
    def betterThan(a: Int, b: Int): Boolean =
      if (saturation(a) != saturation(b)) saturation(a) > saturation(b)
      else if (common(a) != common(b)) common(a) > common(b)
      else uncolored(a) < uncolored(b)
    while (sorted.nonEmpty) {
      val d = sorted.remove(sorted.length - 1)
      val picked = colorIds.find(c => nabes(d).forall(nb => colorId(nb) != c))
        .getOrElse(colorIds(0)) // no color available: reference's fallback
      colorId(d) = picked
      bumpColor(picked)
      // updateNeighbors, in nabes order; each update bubbles the neighbor
      // forward past consecutive worse items (the reference's bubble sort)
      nabes(d).foreach { nb =>
        if (colorId(nb) == -1) {
          var i = sorted.indexOf(nb)
          uncolored(nb) -= 1
          if (!nabeColors(nb).contains(picked)) {
            saturation(nb) += 1
            nabeColors(nb) += picked
          } else common(nb) += 1
          var j = i + 1
          while (j < sorted.length && betterThan(nb, sorted(j))) {
            sorted(i) = sorted(j)
            sorted(j) = nb
            i = j
            j += 1
          }
        }
      }
    }
    colorId
  }

  /** Distributed shared-edge adjacency of a polygon layer given exploded
   * ring vertices (id, ring, seq, x, y): consecutive vertices form edges,
   * canonicalized endpoint-sorted on a snap lattice, then a self-join on
   * the edge key yields every pair of shapes sharing a boundary segment.
   * Id-only pairs come back; geometry never shuffles twice. */
  def sharedEdgeAdjacency(vertices: DataFrame, scale: Double = 1e7): DataFrame = {
    val w = Window.partitionBy(col("id"), col("ring")).orderBy(col("seq"))
    val edges = vertices
      .withColumn("x2", lead(col("x"), 1).over(w))
      .withColumn("y2", lead(col("y"), 1).over(w))
      .filter(col("x2").isNotNull)
      .select(col("id"),
        least(
          concat_ws(",", floor(col("x") * scale).cast("long"),
            floor(col("y") * scale).cast("long")),
          concat_ws(",", floor(col("x2") * scale).cast("long"),
            floor(col("y2") * scale).cast("long"))).as("p1"),
        greatest(
          concat_ws(",", floor(col("x") * scale).cast("long"),
            floor(col("y") * scale).cast("long")),
          concat_ws(",", floor(col("x2") * scale).cast("long"),
            floor(col("y2") * scale).cast("long"))).as("p2"))
      .withColumn("ekey", concat_ws("|", col("p1"), col("p2")))
      .select("id", "ekey")
    edges.as("l").join(edges.as("r"),
        col("l.ekey") === col("r.ekey") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** DataFrame wrapper: features (idCol) + undirected adjacency (a, b) ->
   * (id, color_id). Adjacency and ids are collected under the bounded-layer
   * contract; record order = ascending id. */
  def nonAdjacentDF(spark: SparkSession, features: DataFrame, adjacency: DataFrame,
                    nColors: Int, idCol: String = "id"): DataFrame = {
    import spark.implicits._
    val ids = features.select(col(idCol).cast("long").as("id"))
      .distinct().orderBy("id").as[Long].collect()
    val index = ids.zipWithIndex.toMap
    val pairs = adjacency.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].collect()
    val nb = Array.fill(ids.length)(scala.collection.mutable.SortedSet.empty[Int])
    pairs.foreach { case (a, b) =>
      if (a != b) for (ai <- index.get(a); bi <- index.get(b)) {
        nb(ai) += bi; nb(bi) += ai
      }
    }
    val colors = nonAdjacentColors(nb.map(_.toSeq).toIndexedSeq, nColors)
    spark.createDataset(ids.toIndexedSeq.zipWithIndex.map { case (id, i) =>
      (id, colors(i).toLong)
    }).toDF("id", "color_id")
  }
}
