package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.tables.Synthetic

/**
 * `ops`: the engine's query entry points in a fresh JVM over the engine's
 * scale-0.01 test tables, in a seed-chosen order, several times each, with
 * a noop sink. The first call of each query is its cold sample. Every call
 * is observed for its row count and an order-independent hash, which must
 * match the first call's.
 *
 * The oracle check: after the measured window, one more untimed call of each
 * query writes its output as parquet, and run.py compares it with the
 * query's oracle SQL in DuckDB. The tables are fixed, so an output whose
 * digest (oracle SQL, rows, hashes) that check already accepted in this
 * build directory is accepted again without the DuckDB run, which costs
 * more than the engine's whole round; `--verified` names the file of
 * accepted digests.
 */
object Ops {
  /** The `graft.Bench` query set minus `q_img_cell`, `q_img_pip` and
   * `q_img_tiles`: those read the image table from a fixed data directory
   * that `SparkEntry` does not take as an argument, so a run could not keep
   * its files inside its own working tree. `tiles` times the same
   * operators over the image table. */
  val Queries: Seq[String] = Seq(
    "q_pip_join", "q_cell_assign", "q_knn", "q_dist_join", "q_dissolve",
    "q_calc_group", "q_attr_join", "q_join_duplication", "q_minhash_pairs", "q_ann_lsh")

  type Digest = (Long, Long, Long)

  /** Runs query `q` once into `sink`; returns its (rows, xor hash, sum hash). */
  def call(spark: SparkSession, t: Tracer, dir: String, q: String)(sink: DataFrame => Unit): Digest =
    t.span(s"query $q") {
      val df = t.span("SparkEntry.queries")(SparkEntry.queries(q)(spark, dir))
      val obs = Observation()
      val h = xxhash64(df.columns.toIndexedSeq.map(c => df.col(c)): _*)
      sink(df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(pmod(h, lit(2147483647L))).as("s")))
      val m = obs.get
      (m("n").asInstanceOf[Long], m("x").asInstanceOf[Long],
        Option(m("s")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }

  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** The line of the accepted-digest file that stands for output `d` of `q`. */
  def digestKey(q: String, d: Digest): String = {
    val sql = java.security.MessageDigest.getInstance("SHA-256")
      .digest(SparkEntry.oracleSql(q).getBytes("UTF-8")).map(b => f"$b%02x").mkString
    s"$q\t$sql\t${d._1}\t${d._2}\t${d._3}"
  }

  def run(spark: SparkSession, t: Tracer, a: Args, res: mutable.Map[String, Any], checks: Checks): Unit = {
    val order = Common.shuffle(Queries, a.sub(5))
    val rec = new Recorder(t, a.cores)
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val first = mutable.Map.empty[String, Digest]
    val warm = Queries.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val warmCpu = Queries.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val warmTraced = Queries.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap

    /** One round over every query; returns the per-query (seconds less
     * steal, CPU seconds of this JVM). */
    def round(sink: DataFrame => Unit): Map[String, (Double, Double)] = order.flatMap { q =>
      checks.attempt(q) {
        val cpu0 = Common.processCpuS()
        val (d, _, s) = Common.timed(call(spark, t, a.tables, q)(sink))
        val cpu = Common.processCpuS() - cpu0
        first.get(q) match {
          case Some(want) => checks.check(d == want, s"$q gave $d, its first call gave $want")
          case None => first(q) = d; checks.check(d._1 > 0, s"$q returned no rows")
        }
        q -> (s, cpu)
      }
    }.toMap

    val cpu0 = Common.processCpuS()
    rec.op("ops.round", a.trace)(round(noop)).foreach { case (q, (s, _)) => cold(q) = s }
    val coldCpu = Common.processCpuS() - cpu0
    rec.clear()

    val t0 = System.nanoTime()
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || rec.untraced.size < 2) {
      val traced = a.trace && k % 2 == 1
      rec.op("ops.round", traced)(round(noop)).foreach { case (q, (s, cpu)) =>
        if (traced) warmTraced(q) += s else { warm(q) += s; warmCpu(q) += cpu }
      }
      k += 1
    }
    // two or three rounds fit in the window; each query's best round is the
    // estimate least disturbed by a host stall or by JIT compiler threads
    val warmS = Queries.map(q => warm(q).minOption.getOrElse(0.0)).sum
    val warmCpuS = Queries.map(q => warmCpu(q).minOption.getOrElse(0.0)).sum
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else Queries.flatMap { q =>
        Seq(s"operators.$q.cold_s" -> cold.getOrElse(q, 0.0),
          s"operators.$q.warm_s" -> Common.median(warmTraced(q).toSeq),
          s"operators.$q.jobs" -> t.jobsUnder(t.lastSpan(s"query $q")).toDouble)
      }.toMap ++ rec.sparkLayers ++ Probe.kernels(t, Synthetic.oracleLayer, a.sub(4), 0.3) ++
        Map("tables.parquet_bytes" -> Common.treeSize(a.tables)._2.toDouble)

    // untimed and untraced: the outputs the oracle check has not accepted yet
    t.disable()
    val accepted = Option(a.verified).filter(f => new java.io.File(f).exists)
      .map(f => java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f)).asScala.toSet)
      .getOrElse(Set.empty[String])
    val (known, unknown) = order.filter(first.contains).partition(q => accepted(digestKey(q, first(q))))
    val oracleDir = s"${a.out}/oracle"
    Common.deleteTree(oracleDir)
    unknown.foreach(q => checks.attempt(s"$q oracle output") {
      val d = call(spark, t, a.tables, q)(_.write.parquet(s"$oracleDir/$q"))
      checks.check(d == first(q), s"$q oracle output gave $d, its first call gave ${first(q)}")
    })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(oracleDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$oracleDir/oracle_sql.json"),
      Json.value(unknown.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    res("items_per_s") = Queries.size / warmS
    res("items_per_cpu_s") = Queries.size / warmCpuS
    res("cold_s") = cold.values.sum
    res("cold_cpu_s") = coldCpu
    res("warm_s") = warmS
    res("query_order") = order
    res("cold_by_query") = cold
    res("warm_by_query") = Queries.map(q => q -> warm(q).toSeq).toMap
    res("warm_cpu_by_query") = Queries.map(q => q -> warmCpu(q).toSeq).toMap
    res("measured_rounds") = rec.untraced.size
    res("oracle_dir") = oracleDir
    res("oracle_keys") = unknown.map(q => q -> digestKey(q, first(q))).toMap
    res("oracle_accepted") = known
    if (a.trace) res("layers") = layers
  }
}
