package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.functions.GraftFunctions.{phashLat, phashLon}
import graft.index.{LayerBroadcasts, PolygonLayer}
import graft.operators.{SpatialJoin, Tiling}
import graft.tables.{Images, Synthetic}

/** The inputs of the `tiles` and `tilerun` workloads once set up. */
final case class Prepared(input: DataFrame, layer: PolygonLayer, rows: Long)

/**
 * `tiles`: uniformly spread images, read once as a cached narrow projection,
 * replicated `rep`-fold with a seed-salted phash perturbation, then a
 * broadcast PIP join against a seeded 1024-polygon layer, 4x4 tile
 * assignment (cell res 9, first-key PIP per tile centre) and a
 * `(cell_id, poly_key)` count. Built from the engine's public operators only.
 */
object Tiles {
  final val Tag = "sf0.001"
  final val Polygons = 1024
  /** Timed calls of a scaling child, after one warm-up call. */
  final val ScaleCalls = 3
  def rep(a: Args): Int = if (a.smoke) 16 else 2048

  /** Generates the image table into a fresh directory, builds and broadcasts
   * the layer and caches the narrow projection; returns the per-layer figures. */
  def setup(spark: SparkSession, t: Tracer, a: Args, dir: String): (Prepared, Map[String, Double]) = {
    val n = Images.rowsForSf(Tag)
    val (path, gen) = Common.secs(t.span("Images.ensureParquet")(Images.ensureParquet(spark, dir, Tag, n)))
    val (layer, build) = Common.secs(t.span("Synthetic.polygonLayer") {
      val l = Synthetic.polygonLayer(Polygons, seed = a.sub(2))
      l.grid; l.tree
      l
    })
    val (_, bcast) = Common.secs(t.span("LayerBroadcasts.of")(LayerBroadcasts.of(spark, layer)))
    val input = t.span("cache input") {
      val df = spark.read.parquet(path)
        .select(col("image_id"), col("w"), col("h"), col("phash"))
        .repartition(spark.sparkContext.defaultParallelism * 3)
        .cache()
      df.count()
      df
    }
    (Prepared(input, layer, n), Map("tables.gen_s" -> gen, "index.build_s" -> build,
      "index.broadcast_s" -> bcast, "tables.parquet_bytes" -> Common.treeSize(path)._2.toDouble))
  }

  /** The tile rows of `rep` logical images per stored image. */
  def tiles(spark: SparkSession, t: Tracer, p: Prepared, rep: Int, salt: Long): DataFrame = {
    val imgs = p.input
      .withColumn("rep", explode(sequence(lit(0), lit(rep - 1))))
      .withColumn("ph", xxhash64(col("phash"), col("rep"), lit(salt)).bitwiseAND((1L << 52) - 1))
      .withColumn("x", phashLon(col("ph")))
      .withColumn("y", phashLat(col("ph")))
    val joined = t.span("SpatialJoin.broadcastJoin")(SpatialJoin.broadcastJoin(spark, imgs, "x", "y", p.layer))
    t.span("Tiling.tileAssignAt")(Tiling.tileAssignAt(spark, joined, "x", "y", 4, 9, Some(p.layer)))
  }

  /** One pipeline call: (number of (cell_id, poly_key) groups, tile rows). */
  def call(spark: SparkSession, t: Tracer, p: Prepared, rep: Int, salt: Long): (Long, Long) = {
    val counts = tiles(spark, t, p, rep, salt)
      .groupBy("cell_id", "poly_key").agg(count(lit(1)).as("n"))
    val r = t.span("aggregate")(counts.agg(count(lit(1)), sum(col("n"))).head())
    (r.getLong(0), r.getLong(1))
  }

  /** Checks a seeded sample of tile centres: cell id against `CellIndex`,
   * polygon key against a brute-force even-odd test over every ring. */
  def checkSample(spark: SparkSession, t: Tracer, p: Prepared, rep: Int, salt: Long,
                  seed: Long, checks: Checks): Unit = {
    // about 2 000 of the tile centres, of which the join keeps those in a polygon
    val every = math.max(1L, p.rows * rep * 16 / 2000)
    val rows = tiles(spark, t, p, rep, salt)
      .filter(pmod(xxhash64(col("cx"), col("cy"), lit(seed)), lit(every)) === 0)
      .select("cx", "cy", "cell_id", "poly_key").limit(3000).collect()
    checks.check(rows.length >= 100, s"tile sample too small: ${rows.length}")
    rows.foreach { r =>
      val (x, y) = (r.getDouble(0), r.getDouble(1))
      checks.check(r.getLong(2) == CellIndex.cellId(x, y, 9), s"cell_id mismatch at ($x, $y)")
      val want = Probe.bruteFirstKey(p.layer, x, y)
      checks.check(r.getLong(3) == want, s"tile poly_key ${r.getLong(3)} != brute-force $want at ($x, $y)")
    }
  }

  def run(spark: SparkSession, t: Tracer, a: Args, res: mutable.Map[String, Any], checks: Checks): Unit = {
    val setups = if (a.mode == "scale") 1 else 3
    val prepared = (0 until setups).map { i =>
      // a scaling child reuses the image table its parent generated
      val dir = if (a.reuse.nonEmpty) a.reuse else s"${a.out}/tiles-$i"
      if (a.reuse.isEmpty) Common.deleteTree(dir)
      val ((p, parts), wall) = Common.secs(setup(spark, t, a, dir))
      if (i < setups - 1) p.input.unpersist(true)
      (p, parts, wall)
    }
    val p = prepared.last._1
    val r = rep(a)
    val salt = a.sub(1)
    val logical = p.rows * r
    val rec = new Recorder(t, a.cores)
    def once() = call(spark, t, p, r, salt)

    if (a.mode == "scale") {
      // scaling child: one warm-up call, then a fixed number of timed calls
      once()
      (0 until ScaleCalls).foreach(_ => rec.op("tiles.call", traceIt = false)(once()))
      res("images_per_s") = logical / Common.median(rec.untracedNet.toSeq)
      return
    }

    val cpu0 = Common.processCpuS()
    val (first, cold) = Common.secs(rec.op("tiles.call", a.trace)(once()))
    val coldCpu = Common.processCpuS() - cpu0
    checks.check(first._1 > 0 && first._2 >= logical, s"pipeline result too small: $first")
    // untimed warm-up: the JIT is still compiling the generated stages
    checks.attempt("tiles.call")(once())
    rec.clear()
    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || rec.untraced.size < 4) {
      checks.attempt("tiles.call")(rec.op("tiles.call", a.trace && k % 2 == 1)(once())).foreach { got =>
        checks.check(got == first, s"pipeline call gave $got, first call gave $first")
      }
      k += 1
    }
    // the sample comes from the first eighth of the replicas, to keep the check short
    checks.attempt("tile sample check")(checkSample(spark, t, p, math.max(1, r / 8), salt, a.sub(3), checks))

    res("items_per_s") = logical / Common.median(Common.steady(rec.untracedNet.toSeq))
    res("raw_items_per_s") = logical / Common.median(Common.steady(rec.untraced.toSeq))
    res("items_per_cpu_s") = logical / Common.median(Common.steady(rec.untracedCpu.toSeq))
    res("cold_s") = cold
    res("cold_cpu_s") = coldCpu
    res("setup_in_jvm_s") = Common.median(prepared.map(_._3))
    res("measured_calls") = rec.untraced.size
    res("call_s") = rec.untraced.toSeq
    res("net_s") = rec.untracedNet.toSeq
    res("cpu_s") = rec.untracedCpu.toSeq
    res("logical_images") = logical
    res("tile_rows") = first._2
    if (a.trace)
      res("layers") = layerMedians(prepared.map(_._2)) ++ rec.sparkLayers ++
        Probe.kernels(t, p.layer, a.sub(4), 0.3)
  }

  /** Median of each setup part over the repeated setups. */
  def layerMedians(parts: Seq[Map[String, Double]]): Map[String, Double] =
    parts.head.keys.map(k => k -> Common.median(parts.map(_(k)))).toMap
}
