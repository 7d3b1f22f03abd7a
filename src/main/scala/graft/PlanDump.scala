package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/**
 * Plan and timing capture for declared queries:
 *   sbt "runMain graft.PlanDump <outDir> <sfDir> <query>..."
 * For each query, writes `<outDir>/<query>.txt` (the formatted physical plan)
 * and prints the min-of-3 noop-sink seconds after one warm-up call, in one
 * `local[*]` session. The arguments are checked before the session starts:
 * a missing argument or an unknown query name prints the usage line (and the
 * unknown names) and exits with code 2.
 */
object PlanDump {

  val Usage = "usage: PlanDump <outDir> <sfDir> <query>..."

  def main(args: Array[String]): Unit = sys.exit(run(args))

  def run(args: Array[String]): Int = {
    if (args.length < 3) {
      Console.err.println(Usage)
      return 2
    }
    val (outDir, sfDir, names) = (args(0), args(1), args.drop(2))
    val queries = SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    if (unknown.nonEmpty) {
      Console.err.println(s"$Usage\nunknown queries: ${unknown.mkString(" ")}")
      return 2
    }
    val s = SparkSession.builder()
      .master("local[*]")
      .appName("graft-plan-dump")
      .config("spark.sql.shuffle.partitions", (Runtime.getRuntime.availableProcessors * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val planDir = Paths.get(outDir)
    Files.createDirectories(planDir)
    try names.foreach { name =>
      val fn = queries(name)
      s.sparkContext.setJobDescription(name)
      Files.write(planDir.resolve(s"$name.txt"),
        fn(s, sfDir).queryExecution.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(s, sfDir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warm-up
      val t = Seq.fill(3)(once()).min
      println(f"PLANDUMP $name min3=$t%.3f s")
    } finally s.stop()
    0
  }
}
