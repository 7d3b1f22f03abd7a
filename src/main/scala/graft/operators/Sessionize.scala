package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Gap-based event sessionization: a new session starts when the gap to the
 * previous event of the same key exceeds `gapSeconds`. The batch analog of
 * the engine's streaming state machine (`streaming/EventStream` uses
 * mapGroupsWithState for the incremental version); on a static table it is
 * two windows over one key shuffle — lag for the gap test, a running sum for
 * the session index — all exact integer microsecond arithmetic.
 */
object Sessionize {

  /**
   * Assign session indexes. Needs a timestamp column and a unique in-key
   * tie-break column. Adds `session` (0-based per key, in time order).
   */
  def apply(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
            gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val us = unix_micros(col(tsCol).cast("timestamp")) // NTZ -> UTC (session tz)
    val prev = lag(us, 1).over(w)
    val isNew = when(prev.isNull || us - prev > gapSeconds * 1000000L, 1L).otherwise(0L)
    events
      .withColumn("_new", isNew)
      .withColumn("session",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("_new")
  }

  /** Per-session summary: (key, session, n_events, start_us, end_us). */
  def summarize(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                gapSeconds: Long): DataFrame =
    apply(events, keyCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(keyCol), col("session"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col(tsCol).cast("timestamp"))).as("start_us"),
        max(unix_micros(col(tsCol).cast("timestamp"))).as("end_us"))
}
