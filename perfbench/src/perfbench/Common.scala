package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.tables.SplitMix64

/** Minimal JSON writer for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(mutable.LinkedHashMap(kv: _*))
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Command-line options of the benchmark JVM (run.py passes them). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    out: String,
    mode: String,
    tables: String,
    verified: String,
    reuse: String,
    smoke: Boolean) {
  /** Independent sub-seed for one generated input. */
  def sub(tag: Long): Long = SplitMix64.hash(seed * 0x100000001b3L + tag)
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(get("workload", ""), get("seed", "1").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("cores", "1").toInt, get("out", "."),
      get("mode", "main"), get("tables", ""), get("verified", ""), get("reuse", ""),
      get("smoke", "0") == "1")
  }
}

/** Failed checks and exceptions, counted against operations attempted. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (notes.size < 50) notes += what }
    ok
  }

  /** One operation: an exception counts as a failure and yields None. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case e: Exception =>
        attempted += 1; failed += 1
        if (notes.size < 50) notes += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        None
    }
}

object Common {
  def session(cores: Int, out: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$out/hadoop-tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body`; returns its result, its wall seconds, and its wall seconds
   * less the hypervisor steal per granted CPU over the same interval (time
   * the guest's CPUs were runnable but not run, which the code under test
   * did not cause). */
  def timed[A](body: => A): (A, Double, Double) = {
    val s0 = stealPerCpuS()
    val (r, t) = secs(body)
    (r, t, math.max(t - (stealPerCpuS() - s0), 1e-6))
  }

  /** The CPU ids this JVM may run on (`Cpus_allowed_list`). */
  lazy val grantedCpus: Set[Int] = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("Cpus_allowed_list:")).map(_.split(":")(1).trim)
      .getOrElse("").split(",").filter(_.nonEmpty).flatMap { r =>
        r.split("-") match {
          case Array(a, b) => a.toInt to b.toInt
          case Array(a) => Seq(a.toInt)
        }
      }.toSet
    finally src.close()
  }

  /** Hypervisor steal so far, summed over the granted CPUs and divided by
   * their number, in seconds (`/proc/stat`, USER_HZ = 100). */
  def stealPerCpuS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val ticks = src.getLines().takeWhile(_.startsWith("cpu")).map(_.split("\\s+"))
        .filter(f => f(0).length > 3 && grantedCpus.contains(f(0).drop(3).toInt) && f.length > 8)
        .map(_(8).toLong).toSeq
      if (ticks.isEmpty) 0.0 else ticks.sum / 100.0 / ticks.size
    } finally src.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The calls of a measured window after its first third, which still
   * shows the JIT warming up the generated code. */
  def steady(xs: Seq[Double]): Seq[Double] = xs.drop(xs.length / 3)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** CPU seconds this JVM has used so far, all threads. */
  def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val it = Files.walk(root)
      try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally it.close()
    }
  }

  /** (files, bytes) of the regular files under `p`, Spark's `.crc` sidecars
   * excluded. */
  def treeSize(p: String): (Long, Long) = {
    val root = new File(p)
    if (!root.exists()) (0L, 0L)
    else {
      var files = 0L; var bytes = 0L
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else if (!f.getName.endsWith(".crc")) { files += 1; bytes += f.length() }
      walk(root)
      (files, bytes)
    }
  }

  /** Seeded permutation (Fisher-Yates over SplitMix64). */
  def shuffle[A](xs: Seq[A], seed: Long): Seq[A] = {
    val a = mutable.ArrayBuffer.from(xs)
    val rng = new SplitMix64(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toList
  }
}

/**
 * Collects the measured calls of one run. Untraced calls give the
 * end-to-end figures; traced calls give the per-layer counters and spans.
 * In a traced run the two kinds alternate, so both see the same JIT state
 * and host load, and their difference is the tracing overhead.
 */
final class Recorder(tracer: Tracer, cores: Int) {
  val untraced = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of the untraced operations less hypervisor steal. */
  val untracedNet = mutable.ArrayBuffer.empty[Double]
  val untracedCpu = mutable.ArrayBuffer.empty[Double]
  val traced = mutable.ArrayBuffer.empty[Double]
  private val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]

  /** Times one operation; traces it when `traceIt`. */
  def op[A](name: String, traceIt: Boolean)(body: => A): A = {
    if (traceIt) tracer.enable() else tracer.disable()
    if (traceIt) tracer.takeCounters()
    val cpu0 = Common.processCpuS()
    val (r, t, net) = Common.timed(tracer.span(name)(body))
    if (traceIt) {
      val c = tracer.takeCounters()
      val id = tracer.lastSpan(name)
      perOp += c ++ Map("wall_s" -> t, "serial_ms" -> tracer.serialMs(id),
        "jobs_under" -> tracer.jobsUnder(id).toDouble)
      traced += t
    } else {
      untraced += t
      untracedNet += net
      untracedCpu += Common.processCpuS() - cpu0
    }
    r
  }

  /** Forgets the operations so far (the cold call is reported on its own). */
  def clear(): Unit = {
    untraced.clear(); untracedNet.clear(); untracedCpu.clear(); traced.clear(); perOp.clear()
  }

  /** Mean of one counter over the traced operations. */
  def perOpMean(k: String): Double = Common.mean(perOp.map(_.getOrElse(k, 0.0)).toSeq)

  /** The per-layer Spark metrics, per traced operation. */
  def sparkLayers: Map[String, Double] = {
    val busy = Common.mean(perOp.map(c => c.getOrElse("run_ms", 0.0) / 1000.0 /
      (math.max(c("wall_s"), 1e-9) * cores)).toSeq)
    Map(
      "driver.plan_s" -> perOpMean("plan_ms") / 1000.0,
      "driver.serial_s" -> perOpMean("serial_ms") / 1000.0,
      "driver.jobs" -> perOpMean("jobs_under"),
      "scan.bytes_read" -> perOpMean("input_bytes"),
      "scan.task_s" -> perOpMean("scan_run_ms") / 1000.0,
      "exchange.write_bytes" -> perOpMean("shuffle_write_bytes"),
      "exchange.records" -> perOpMean("shuffle_write_records"),
      "exchange.fetch_wait_s" -> perOpMean("fetch_wait_ms") / 1000.0,
      "aggregate.spill_bytes" -> perOpMean("spill_bytes"),
      "executor.task_s" -> perOpMean("run_ms") / 1000.0,
      "executor.gc_s" -> perOpMean("gc_ms") / 1000.0,
      "executor.busy_frac" -> busy,
      "trace.overhead_frac" ->
        (if (untraced.isEmpty || traced.isEmpty) 0.0
         else Common.median(traced.toSeq) / Common.median(untraced.toSeq) - 1.0))
  }
}
