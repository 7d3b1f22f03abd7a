package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.index.PolygonLayer
import graft.operators.SpatialJoin

/**
 * Streaming spatial ingestion — the continuous counterpart of the headline
 * batch path: a file stream of points flows through the SAME broadcast
 * polygon layer + codegen PIP expression (`SpatialJoin.broadcastJoin` is
 * stateless, so it applies unchanged to a streaming frame), then either
 * lands in an exactly-once parquet sink or folds into watermarked
 * per-polygon window counts.
 *
 * Scale shape: the polygon layer is broadcast once per micro-batch executor,
 * the point stream never shuffles before assignment, and exactly-once
 * delivery comes from the file-sink commit log + source checkpoint (files
 * are the unit of progress — a restarted query reprocesses no committed
 * file). This is the design one would run on a 1000-executor cluster with
 * sources arriving as object-store drops.
 */
object GeoStream {

  /** Streaming point→polygon assignment (adds `poly_key`; unmatched rows drop). */
  def pipAssignStream(spark: SparkSession, stream: DataFrame, xCol: String, yCol: String,
                      layer: PolygonLayer): DataFrame =
    SpatialJoin.broadcastJoin(spark, stream, xCol, yCol, layer)

  /** Watermarked per-polygon / per-window counts over an assigned stream. */
  def pipWindowCounts(assigned: DataFrame, tsCol: String,
                      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    assigned
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("poly_key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("poly_key"), col("n"))

  /** Drain all currently-available source files into a parquet sink, exactly
   * once: the checkpoint records consumed files, the sink's commit log
   * records written ones, so re-running after new files arrive (or after a
   * crash) appends only the delta. Blocks until the drain completes. */
  def ingestAvailable(assigned: DataFrame, outDir: String, checkpointDir: String,
                      timeoutMs: Long = 300000): Unit = {
    val q: StreamingQuery = assigned.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(timeoutMs)
    if (!finished) {
      // a timed-out drain must not masquerade as a complete one: the caller
      // would read a partial outDir while this query still holds the
      // checkpoint. Stop it and fail loudly.
      q.stop()
      throw new IllegalStateException(
        s"streaming drain into $outDir did not complete within $timeoutMs ms")
    }
  }
}
