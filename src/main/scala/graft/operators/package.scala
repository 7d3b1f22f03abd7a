package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow

/**
 * The size rule of the operators that answer on the Spark driver when their
 * input is small ([[operators.Knn.knnJoin]], [[operators.Ann.lshTopK]] and
 * the band joins of [[operators.Dedup]]): Spark's own broadcast threshold,
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
   * one broadcast; `None` otherwise, before any job when Spark's own size
   * estimate (`optimizedPlan.stats.sizeInBytes`, what its join planner
   * compares with the threshold) is already too large. The estimate
   * undercounts strings and arrays (it assumes a fixed width per value), so
   * the rows' exact bytes are what bound a driver path: the collect counts
   * them as it goes and stops once they pass the threshold
   * ([[GraftBridge.collectUnsafeWithin]]), and the caller takes its shuffle
   * path.
   */
  private[operators] def collectIfFits(df: DataFrame): Option[Array[UnsafeRow]] = {
    val spark = df.sparkSession
    if (!fitsOneBroadcast(spark, df.queryExecution.optimizedPlan.stats.sizeInBytes)) None
    else GraftBridge.collectUnsafeWithin(df, GraftBridge.autoBroadcastThreshold(spark))
  }
}
