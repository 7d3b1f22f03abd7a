package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/**
 * The benchmark JVM: one workload, one closed-loop client (this thread).
 * Writes `result.json` (and `spans.json` when traced) into `--out`; run.py
 * turns them into the printed metrics.
 *
 * Usage: perfbench.Main --workload tiles|ops|tilerun --seed N --seconds S
 *   --trace 0|1 --cores C --out DIR [--tables DIR --verified FILE]
 *   [--mode main|scale --reuse DIR]
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val spark = Common.session(a.cores, a.out)
    val ready = Tracer.nowMs()
    val codegen0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val t = new Tracer(spark)
    if (a.trace) t.enable()
    val res = mutable.LinkedHashMap[String, Any]("workload" -> a.workload, "seed" -> a.seed,
      "session_ready_ms" -> ready, "java_version" -> System.getProperty("java.version"))
    val checks = new Checks
    try {
      val w0 = System.nanoTime()
      a.workload match {
        case "tiles" => Tiles.run(spark, t, a, res, checks)
        case "ops" => Ops.run(spark, t, a, res, checks)
        case "tilerun" => TileRunLoad.run(spark, t, a, res, checks)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
      res("workload_s") = (System.nanoTime() - w0) / 1e9
      if (a.trace) {
        t.enable()
        val layers = res.getOrElse("layers", Map.empty).asInstanceOf[Map[String, Double]]
        res("layers") = layers ++ Map(
          "functions.codegen_s" -> (CodeGenerator.compileTime - codegen0._1) / 1e9,
          "functions.codegen_classes" ->
            (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0._2).toDouble)
        Files.writeString(Paths.get(s"${a.out}/spans.json"), t.spansJson)
      }
      res("attempted") = checks.attempted
      res("failed") = checks.failed
      res("failures") = checks.notes.toSeq
      res("peak_rss_mb") = Common.peakRssMb()
      Files.writeString(Paths.get(s"${a.out}/result.json"), Json.value(res) + "\n")
    } finally spark.stop()
  }
}
