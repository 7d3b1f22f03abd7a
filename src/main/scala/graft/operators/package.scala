package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

/**
 * The size rule of the operators that answer on the Spark driver (or from
 * one broadcast) when their input is small ([[operators.Knn.knnJoin]],
 * [[operators.Knn.distanceJoin]], [[operators.Dissolve.dissolve]],
 * [[operators.Ann.lshTopK]] and the band joins of [[operators.Dedup]]):
 * Spark's own broadcast threshold,
 * `spark.sql.autoBroadcastJoinThreshold` (-1 turns every driver path off).
 * No operator has an option of its own.
 */
package object operators {

  /** True when `bytes` fit one broadcast: the threshold is >= 0 and `bytes`
   * are at most that many. */
  private[operators] def fitsOneBroadcast(spark: SparkSession, bytes: BigInt): Boolean = {
    val threshold = GraftBridge.autoBroadcastThreshold(spark)
    threshold >= 0 && bytes <= threshold
  }

  /**
   * `df`'s rows as the `UnsafeRow`s the codegen kernels read, when they fit
   * one broadcast; `None` otherwise. Same as [[collectWithin]] under the
   * bound `spark.sql.autoBroadcastJoinThreshold`.
   */
  private[operators] def collectIfFits(df: DataFrame): Option[Array[UnsafeRow]] =
    collectWithin(df, GraftBridge.autoBroadcastThreshold(df.sparkSession))

  /**
   * `df`'s rows when their exact bytes are at most `maxBytes`; `None`
   * otherwise, and before any job when `maxBytes` is negative or Spark's own
   * size estimate (`optimizedPlan.stats.sizeInBytes`, what its join planner
   * compares with the threshold) is already above it. The estimate
   * undercounts strings and arrays (it assumes a fixed width per value), so
   * the rows' exact bytes are what bound a driver path: the collect counts
   * them as it goes and stops once they pass `maxBytes`
   * ([[GraftBridge.collectUnsafeWithin]]), and the caller takes its shuffle
   * path. That stopped collect is not free: the tasks already running when
   * the bound is passed finish their partitions' upstream work, which the
   * shuffle path then does again.
   */
  private[operators] def collectWithin(df: DataFrame, maxBytes: Long): Option[Array[UnsafeRow]] =
    if (maxBytes < 0 || df.queryExecution.optimizedPlan.stats.sizeInBytes > maxBytes) None
    else GraftBridge.collectUnsafeWithin(df, maxBytes)
}
