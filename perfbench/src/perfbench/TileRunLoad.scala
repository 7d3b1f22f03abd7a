package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cell.CellIndex
import graft.index.LayerBroadcasts
import graft.streaming.TileRun
import graft.tables.{Images, SplitMix64, Synthetic}

/**
 * `tilerun`: stored images relocated around a few seeded hotspots and
 * replicated `rep`-fold into an uncached parquet table, then
 * `TileRun.run` into a fresh directory, repeatedly; once per run a crash
 * (`failAfter` = half the groups) and a resume into another directory.
 */
object TileRunLoad {
  final val Tag = "sf0.001"
  final val Hotspots = 5
  def rep(a: Args): Int = if (a.smoke) 8 else 256

  /** Clustered phash for logical image (ph, rep): one of the hotspots with
   * Zipf-like weights, or (one in ten) anywhere, at a seeded normal offset. */
  def clustered(seed: Long): (Long, Int) => Long = {
    val rng = new SplitMix64(seed)
    val full = (1L << Images.LocBits).toDouble
    val centres = Array.fill(Hotspots)((0.1 + 0.8 * rng.nextDouble(), 0.1 + 0.8 * rng.nextDouble()))
    val weights = (1 to Hotspots).map(1.0 / _)
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    (ph: Long, r: Int) => {
      val g = new SplitMix64(SplitMix64.hash(ph ^ (r.toLong << 52)) ^ seed)
      val (cx, cy) =
        if (g.nextInt(10) == 0) (g.nextDouble(), g.nextDouble())
        else {
          val u = g.nextDouble()
          centres(cum.indexWhere(_ >= u).max(0))
        }
      def near(c: Double): Long = {
        // Irwin-Hall(4) approximation of a normal offset, sigma = 3 % of the domain
        val z = (g.nextDouble() + g.nextDouble() + g.nextDouble() + g.nextDouble() - 2.0) * math.sqrt(3.0)
        math.min(full - 1, math.max(0.0, (c + 0.03 * z) * full)).toLong
      }
      (CellIndex.interleave(near(cx)) << 1) | CellIndex.interleave(near(cy))
    }
  }

  def setup(spark: SparkSession, t: Tracer, a: Args, dir: String): (Prepared, Map[String, Double]) = {
    val ((inputPath, rows), gen) = Common.secs(t.span("Images.ensureParquet") {
      val base = Images.ensureParquet(spark, s"$dir/base", Tag, Images.rowsForSf(Tag))
      val f = clustered(a.sub(6))
      val move = udf((ph: Long, r: Int) => f(ph, r))
      val out = s"$dir/input.parquet"
      val df = spark.read.parquet(base)
        .select(col("image_id"), col("phash"))
        .withColumn("rep", explode(sequence(lit(0), lit(rep(a) - 1))))
        .select(concat_ws("-", col("image_id"), col("rep")).as("image_id"),
          move(col("phash"), col("rep")).as("phash"))
        .repartition(16)
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, count(lit(1)).as("n")).write.parquet(out)
      (out, obs.get("n").asInstanceOf[Long])
    })
    val (layer, build) = Common.secs(t.span("Synthetic.polygonLayer") {
      val l = Synthetic.polygonLayer(Tiles.Polygons, seed = a.sub(2))
      l.grid; l.tree
      l
    })
    val (_, bcast) = Common.secs(t.span("LayerBroadcasts.of")(LayerBroadcasts.of(spark, layer)))
    val input = spark.read.parquet(inputPath)
    (Prepared(input, layer, rows), Map("tables.gen_s" -> gen, "index.build_s" -> build,
      "index.broadcast_s" -> bcast, "tables.parquet_bytes" -> Common.treeSize(inputPath)._2.toDouble))
  }

  /** Manifests of a run directory: group -> (input rows, output rows, checksum). */
  def manifests(outDir: String): Map[Long, (Long, Long, Long)] = {
    val dir = new File(s"$outDir/manifest")
    val num = "\"(\\w+)\":(-?\\d+)".r
    Option(dir.listFiles()).getOrElse(Array.empty[File]).filter(_.getName.endsWith(".json")).map { f =>
      val kv = num.findAllMatchIn(java.nio.file.Files.readString(f.toPath))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      kv("group") -> ((kv("input_rows"), kv("output_rows"), kv("checksum")))
    }.toMap
  }

  def run(spark: SparkSession, t: Tracer, a: Args, res: mutable.Map[String, Any], checks: Checks): Unit = {
    val prepared = (0 until 3).map { i =>
      Common.deleteTree(s"${a.out}/tilerun-$i")
      val ((p, parts), wall) = Common.secs(setup(spark, t, a, s"${a.out}/tilerun-$i"))
      (p, parts, wall)
    }
    val p = prepared.last._1
    val rec = new Recorder(t, a.cores)
    val runs = s"${a.out}/tilerun-runs"
    Common.deleteTree(runs)
    var n = 0
    def fresh(): String = { n += 1; s"$runs/run-$n" }
    def runInto(dir: String, failAfter: Int = Int.MaxValue) =
      TileRun.run(spark, p.input, p.layer, dir, failAfter = failAfter)

    val (groups, planS) = Common.secs(t.span("TileRun.planGroups")(TileRun.planGroups(spark, p.input, 3)))
    val refDir = fresh()
    val cpu0 = Common.processCpuS()
    val (_, cold) = Common.secs(rec.op("TileRun.run", a.trace)(runInto(refDir)))
    val coldCpu = Common.processCpuS() - cpu0
    rec.clear()
    val ref = manifests(refDir)
    checks.check(ref.keySet == groups.toSet, s"manifested groups ${ref.keySet} != planned ${groups.toSeq}")
    checks.check(ref.values.map(_._1).sum == p.rows, s"input rows not conserved: ${ref.values.map(_._1).sum} != ${p.rows}")
    checks.check(ref.values.map(_._2).sum > 0, "no tile rows written")
    val (files, bytes) = Common.treeSize(s"$refDir/tiles")
    val (_, manifestBytes) = Common.treeSize(s"$refDir/manifest")

    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || rec.untraced.size < 4) {
      val dir = fresh()
      checks.attempt("TileRun.run")(rec.op("TileRun.run", a.trace && k % 2 == 1)(runInto(dir))).foreach { _ =>
        val got = manifests(dir)
        checks.check(got == ref, s"fresh run manifests differ from the first run's")
      }
      Common.deleteTree(dir)
      k += 1
    }

    // crash after half the groups, then resume
    if (a.trace) t.enable()
    val crashDir = fresh()
    val half = math.max(1, groups.length / 2)
    var resumeS = 0.0
    var resumed = 0
    var recomputed = 0
    checks.attempt("crash and resume") {
      val crashed = t.span("TileRun.run crash")(runInto(crashDir, failAfter = half)).map(_.group).toSet
      checks.check(crashed.size == half, s"crash run processed ${crashed.size} groups, wanted $half")
      val (again, s) = Common.secs(t.span("TileRun.run resume")(runInto(crashDir)))
      resumeS = s
      val again1 = again.map(_.group).toSet
      resumed = again1.size
      recomputed = (again1 & crashed).size
      checks.check(recomputed == 0, s"resume recomputed groups ${again1 & crashed}")
      checks.check((crashed | again1) == groups.toSet, "crash + resume did not cover every group")
      checks.check(manifests(crashDir) == ref, "resumed manifests differ from a fresh run's")
    }

    res("items_per_s") = p.rows / Common.median(Common.steady(rec.untracedNet.toSeq))
    res("raw_items_per_s") = p.rows / Common.median(Common.steady(rec.untraced.toSeq))
    res("items_per_cpu_s") = p.rows / Common.median(Common.steady(rec.untracedCpu.toSeq))
    res("run_s") = rec.untraced.toSeq
    res("net_s") = rec.untracedNet.toSeq
    res("cold_s") = cold
    res("cold_cpu_s") = coldCpu
    res("setup_in_jvm_s") = Common.median(prepared.map(_._3))
    res("measured_runs") = rec.untraced.size
    res("input_rows") = p.rows
    res("groups") = groups.length
    if (a.trace)
      res("layers") = Tiles.layerMedians(prepared.map(_._2)) ++ rec.sparkLayers ++
        Probe.kernels(t, p.layer, a.sub(4), 0.3) ++ Map(
          "streaming.plan_groups_s" -> planS,
          "streaming.run_s" -> Common.median(rec.traced.toSeq),
          "streaming.files_written" -> files.toDouble,
          "streaming.bytes_written" -> (bytes + manifestBytes).toDouble,
          "streaming.bytes_per_row" -> (bytes + manifestBytes).toDouble / p.rows,
          "streaming.resume_s" -> resumeS,
          "streaming.groups_resumed" -> resumed.toDouble,
          "streaming.groups_recomputed" -> recomputed.toDouble)
    Common.deleteTree(runs)
  }
}
