package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch milliseconds: a benchmark call into an
 * engine entry point (`kind = "call"`), or a Spark job / stage below it. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startMs: Double, var endMs: Double)

/**
 * Spans and per-layer counters for the traced run. Spans live in memory and
 * are written out once, at the end. Jobs become children of the innermost
 * open call span through the job group that [[span]] sets on the driver
 * thread (Spark copies it to the threads that run broadcasts and
 * subqueries); stages become children of their job.
 *
 * When tracing is off, [[span]] only runs its body and no listener is
 * registered, so untraced measurements carry no listener cost.
 */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val stageParent = mutable.Map.empty[Int, Long]
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var open: List[Long] = Nil
  @volatile private var on = false

  private def add(k: String, v: Double): Unit = synchronized { totals(k) += v }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val parent = group.filter(_.startsWith(Tracer.GroupPrefix))
        .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)
      Tracer.this.synchronized {
        val s = Span(ids.incrementAndGet(), parent, s"job ${e.jobId}", "job", e.time.toDouble, e.time.toDouble)
        jobSpans(e.jobId) = s
        spansBuf += s
        e.stageIds.foreach(st => stageParent.getOrElseUpdate(st, s.id))
        totals("jobs") += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      for (t0 <- si.submissionTime; t1 <- si.completionTime) Tracer.this.synchronized {
        spansBuf += Span(ids.incrementAndGet(), stageParent.getOrElse(si.stageId, 0L),
          s"stage ${si.stageId} ${si.name.takeWhile(_ != ' ')}", "stage", t0.toDouble, t1.toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        totals("tasks") += 1
        totals("run_ms") += m.executorRunTime
        totals("gc_ms") += m.jvmGCTime
        totals("input_bytes") += m.inputMetrics.bytesRead
        totals("input_records") += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) totals("scan_run_ms") += m.executorRunTime
        totals("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        totals("shuffle_write_records") += m.shuffleWriteMetrics.recordsWritten
        totals("fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
        totals("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Analysis, optimisation and planning time of every action, from Spark's
   * own planning tracker. */
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def enable(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def disable(): Unit = if (on) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  /** Runs `body` inside a call span named after the entry point it calls. */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val s = Span(ids.incrementAndGet(), open.headOption.getOrElse(0L), name, "call", Tracer.nowMs(), 0.0)
      synchronized(spansBuf += s)
      open = s.id :: open
      sc.setJobGroup(Tracer.GroupPrefix + s.id, name)
      try body
      finally {
        s.endMs = Tracer.nowMs()
        open = open.tail
        open.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.GroupPrefix + p, "")
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Counter totals since the last call, once every pending event arrived. */
  def takeCounters(): Map[String, Double] = {
    if (on) PerfbenchBus.drain(sc)
    synchronized {
      val out = totals.toMap.withDefaultValue(0.0)
      totals.clear()
      out
    }
  }

  def spans: Seq[Span] = { if (on) PerfbenchBus.drain(sc); synchronized(spansBuf.toList) }

  /** The jobs below call span `id`, directly or through nested calls. */
  private def jobsBelow(id: Long): Seq[Span] = {
    val byParent = spans.groupBy(_.parent)
    def go(p: Long): Seq[Span] = byParent.getOrElse(p, Nil).flatMap { c =>
      if (c.kind == "job") Seq(c) else if (c.kind == "call") go(c.id) else Nil
    }
    go(id)
  }

  /** Wall time of call span `id` that no job below it covers: the driver's
   * serial share of that call, in ms. */
  def serialMs(id: Long): Double =
    spans.find(_.id == id).map { s =>
      (s.endMs - s.startMs) - Tracer.covered(s.startMs, s.endMs, jobsBelow(id))
    }.getOrElse(0.0)

  def jobsUnder(id: Long): Int = jobsBelow(id).size

  /** Every span with its self time (duration minus the part its children
   * cover), as JSON. */
  def spansJson: String = {
    val all = spans
    val byParent = all.groupBy(_.parent)
    all.sortBy(_.startMs).map { s =>
      val self = (s.endMs - s.startMs) - Tracer.covered(s.startMs, s.endMs, byParent.getOrElse(s.id, Nil))
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self)
    }.mkString("[\n", ",\n", "\n]\n")
  }

  /** The id of the latest call span named `name`, or 0. */
  def lastSpan(name: String): Long =
    spans.filter(s => s.kind == "call" && s.name == name).map(_.id).lastOption.getOrElse(0L)
}

object Tracer {
  final val GroupPrefix = "perfbench-span-"

  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Length of [t0, t1] covered by the union of the children's intervals. */
  def covered(t0: Double, t1: Double, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(t0, c.startMs), math.min(t1, c.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
