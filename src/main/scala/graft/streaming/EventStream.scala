package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Structured-Streaming ingestion surface. The reference is strictly batch
 * (SURVEY §1.5/§2.9); this is the additive Spark-native mode: file-stream
 * source → event-time windowed aggregation with a watermark → sink, plus an
 * `availableNow` batch-drain trigger for backfill (the streaming analog of
 * the reference's per-input-file batch pipelines,
 * `/root/reference/src/cli/mapshaper-run-commands.mjs:313-345`).
 */
object EventStream {

  /** File-stream source over a directory of event parquet (ts normalized to
   * event-time TIMESTAMP). */
  def source(spark: SparkSession, dir: String, schemaFrom: DataFrame): DataFrame =
    spark.readStream.schema(schemaFrom.schema).parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))

  /** Streaming exact dedup: `dropDuplicates` keyed on the id column with a
   * watermark bounding the dedup state — the streaming form of
   * [[graft.operators.Dedup.exact]] (state is evicted once the watermark
   * passes, so memory stays bounded at any stream length). */
  def dedupStream(events: DataFrame, idCol: String, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates(idCol, "ts")

  /** Stateful per-key session counts via mapGroupsWithState: the custom-state
   * surface (KeyValueGroupedDataset) the north rule's streaming mode names.
   * Emits (key, events_in_batch, running_total) per trigger. */
  def runningTotals(spark: SparkSession, events: DataFrame, keyCol: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.selectExpr(s"$keyCol AS k")
      .as[String]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[String],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = rows.size.toLong
          val total = state.getOption.getOrElse(0L) + n
          state.update(total)
          (key, n, total)
      }
      .toDF("event_type", "n_batch", "running_total")
  }

  /**
   * Streaming gap-based sessionization via flatMapGroupsWithState — the
   * incremental form of [[graft.operators.Sessionize]]: state holds the
   * open session per key; events extend it or close it (gap exceeded), and
   * an event-time timeout at last_event + gap flushes sessions the
   * watermark has passed, so state stays bounded at any stream length.
   * Emits (k, start_us, end_us, n_events) per completed session.
   */
  def sessionizeStream(spark: SparkSession, events: DataFrame, keyCol: String,
                       gapSeconds: Long, watermark: String = "2 hours"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapSeconds * 1000000L
    events
      .select(col(keyCol).cast("long").as("k"),
        col("ts").cast("timestamp").as("ts"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withWatermark("ts", watermark) // event-time column must survive to the grouping
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
         state: GroupState[(Long, Long, Long)]) =>
          if (!rows.hasNext && state.hasTimedOut) {
            val out = state.getOption.map { case (s, e, n) => (k, s, e, n) }
            state.remove()
            out.iterator
          } else {
            val ts = rows.map(_._3).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            var cur = state.getOption
            var i = 0
            while (i < ts.length) {
              val t = ts(i)
              cur match {
                case Some((s, e, n)) if t - e > gapUs =>
                  closed += ((k, s, e, n))
                  cur = Some((t, t, 1L))
                case Some((s, e, n)) =>
                  cur = Some((math.min(s, t), math.max(e, t), n + 1))
                case None =>
                  cur = Some((t, t, 1L))
              }
              i += 1
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 / 1000L + gapSeconds * 1000L)
            }
            closed.iterator
          }
      }
      .toDF("k", "start_us", "end_us", "n_events")
  }
}
