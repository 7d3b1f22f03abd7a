package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.index.PolygonLayer
import graft.operators.SpatialJoin

/**
 * Checkpoint-resumable tile run with per-partition lineage records — the
 * engine's answer to the north rule's "resumable from checkpoint with
 * per-partition lineage + metrics" requirement. Mapshaper's analog is the
 * per-input-file batch pipeline + `.msx` session snapshot
 * (`/root/reference/src/cli/mapshaper-run-commands.mjs:313-345`,
 * `src/pack/mapshaper-pack.mjs`); here the unit of work is a *cell group*
 * (coarse-resolution cell), the natural shard of the spatial join.
 *
 * Layout under `outDir`:
 *   tiles/g=<g>/...parquet        output rows of each completed cell group
 *   manifest/<g>.json             lineage record, written AFTER the group's data
 *
 * Scale shape: per invocation, regardless of the number of groups,
 *   - ONE input aggregation: `groupBy("g").count` over the located input
 *     gives both the sorted group list (its keys, see [[planGroups]]) and the
 *     input rows of every group (its values);
 *   - ONE partitioned write of the joined rows, `REBALANCE(g)` first and
 *     `write.partitionBy("g")` with dynamic partition overwrite;
 *   - ONE lineage read-back: output rows and an order-independent XOR
 *     checksum per group, one `groupBy("g")` over the committed files, read
 *     with the known output schema (no footer-inference job).
 * No per-group full-table rescans: at 10^12 rows the whole run is O(1) Spark
 * jobs.
 *
 * Why rebalance before the write: without it every input task writes one
 * file for every group it meets (tasks × groups small files). `REBALANCE(g)`
 * puts a group's rows together, so adaptive execution writes about one file
 * per group at small sizes, coalesced to the advisory partition size, and
 * splits a skewed group over several writers at scale. Without adaptive
 * execution the hint is a plain hash repartition on `g`, still correct.
 *
 * Nulls: a row whose `phash` is null has no location, so its group `g` is
 * null. Such rows belong to no group: they are skipped by the input
 * aggregation, never joined or written, and counted in no manifest.
 *
 * The manifest write is the commit point: a crashed run leaves at most
 * non-manifested partition directories, which the retry overwrites (dynamic
 * partition overwrite is idempotent — same deterministic input → same output).
 * `resume` therefore never recomputes completed groups and never double-counts.
 */
object TileRun {

  final case class GroupManifest(
      group: Long,
      inputRows: Long,
      outputRows: Long,
      checksum: Long,
      wallMs: Long)

  /** Image rows with their location `x`, `y` and coarse cell group `g`. */
  private def locate(images: DataFrame, coarseRes: Int): DataFrame =
    images
      .withColumn("x", phashLon(col("phash")))
      .withColumn("y", phashLat(col("phash")))
      .withColumn("g", cellId(col("x"), col("y"), coarseRes))

  /** Input rows per cell group at the coarse resolution, sorted by group, in
   * one aggregation; rows with a null group (null `phash`) are skipped. */
  private def groupCounts(spark: SparkSession, images: DataFrame, coarseRes: Int): Array[(Long, Long)] = {
    import spark.implicits._
    locate(images, coarseRes)
      .filter(col("g").isNotNull)
      .groupBy("g").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().sortBy(_._1)
  }

  /** Cell groups present in the image table at the coarse resolution. */
  def planGroups(spark: SparkSession, images: DataFrame, coarseRes: Int): Array[Long] =
    groupCounts(spark, images, coarseRes).map(_._1)

  def completedGroups(outDir: String): Set[Long] = {
    val dir = new java.io.File(s"$outDir/manifest")
    if (!dir.exists()) Set.empty
    else dir.listFiles().filter(_.getName.endsWith(".json"))
      .map(_.getName.stripSuffix(".json").toLong).toSet
  }

  /**
   * Run (or resume) the tile pipeline: PIP join + cell assignment, partitioned
   * by cell group. Returns the manifests of groups processed in THIS
   * invocation. `failAfter` (tests only): process at most N groups to simulate
   * a crash mid-run.
   */
  def run(
      spark: SparkSession,
      images: DataFrame,
      layer: PolygonLayer,
      outDir: String,
      coarseRes: Int = 3,
      fineRes: Int = 8,
      failAfter: Int = Int.MaxValue,
      inputManifest: Option[graft.tables.TableManifest.Manifest] = None): Seq[GroupManifest] = {
    import spark.implicits._
    Files.createDirectories(Paths.get(s"$outDir/manifest"))
    // lineage: input rows per group, from the same aggregate as the groups
    val counts = groupCounts(spark, images, coarseRes)
    val inRows = counts.toMap
    val done = completedGroups(outDir)
    val todo = counts.map(_._1).filterNot(done.contains).take(failAfter)
    if (todo.isEmpty) return Seq.empty
    val t0 = System.nanoTime()

    // resume-time file pruning: with a derived-stats manifest (per-file
    // min/max of the coarse group), a resume that has only a few groups left
    // opens only the input files whose group range can still contain them —
    // at 10^12 rows this turns "resume rescans the table" into "resume
    // rescans the crashed shard" for spatially-clustered layouts. The g
    // filter below stays as the exactness guarantee (pruning is a superset).
    val input = inputManifest match {
      case Some(m) =>
        val cand = graft.tables.TableManifest
          .pruneFilesForValues(m, "g", todo.toIndexedSeq)
        if (cand.isEmpty) images.limit(0)
        else spark.read.parquet(cand.map(_.path): _*)
      case None => images
    }
    val located = locate(input, coarseRes)
      .filter(col("g").isin(todo.toIndexedSeq: _*))

    val joined = SpatialJoin.broadcastJoin(spark, located, "x", "y", layer)
      .withColumn("cell_id", cellId(col("x"), col("y"), fineRes))
      .select(col("image_id"), col("cell_id"), col("poly_key"), col("g"))

    // ONE job writes every todo group, about one file per group (see the
    // header); dynamic overwrite touches only the partitions present in
    // `joined`, so completed groups are never rewritten
    joined.hint("rebalance", col("g")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("g")
      .parquet(s"$outDir/tiles")

    // lineage from the committed output itself (reads back only the 3 narrow
    // columns of the todo partitions): rows + order-independent checksum.
    // The schema is the one just written, so no job infers it from footers.
    val tilesDir = new java.io.File(s"$outDir/tiles")
    val anyWritten = tilesDir.exists() &&
      tilesDir.listFiles().exists(_.getName.startsWith("g="))
    val outAgg: Map[Long, (Long, Long)] =
      if (!anyWritten) Map.empty
      else spark.read.schema(joined.schema).parquet(s"$outDir/tiles")
        .filter(col("g").isin(todo.toIndexedSeq: _*))
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(image_id, cell_id, poly_key))"), lit(0L)).as("xor"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap

    val wallMs = (System.nanoTime() - t0) / 1000000
    todo.toSeq.map { g =>
      val (outN, checksum) = outAgg.getOrElse(g, (0L, 0L))
      val m = GroupManifest(g, inRows(g), outN, checksum, wallMs)
      // manifest write = commit point (data for g is already durable)
      Files.writeString(Paths.get(s"$outDir/manifest/$g.json"),
        s"""{"group":$g,"input_rows":${m.inputRows},"output_rows":${m.outputRows},"checksum":${m.checksum},"wall_ms":${m.wallMs}}""")
      m
    }
  }
}
