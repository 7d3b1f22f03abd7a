package org.apache.spark.sql

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution

/**
 * Bridge into Spark's package-private Column <-> catalyst Expression
 * conversions (Spark 4 hides `Column.expr` behind the classic API). Same
 * technique as public Spark-extension projects (cf. SNIPPETS.md [2], [3]:
 * package-object shims in `org.apache.spark.sql`).
 */
object GraftBridge {
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes (-1 when
   * broadcasting is disabled). */
  def autoBroadcastThreshold(s: SparkSession): Long =
    s.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /**
   * `df`'s rows as `UnsafeRow`s, collected in one job of one SQL execution
   * as `Dataset.collect` runs it, but not converted to external `Row`s (an
   * array column stays the `ArrayData` a codegen kernel reads); `None` once
   * their bytes pass `maxBytes`. The count is incremental: a task stops
   * reading its partition once that partition alone passes the bound (so a
   * task result is at most the bound), and the driver keeps rows only while
   * the partitions received so far fit and cancels the job once they do
   * not. Partitions already running then still finish; those not yet
   * started are never read.
   */
  def collectUnsafeWithin(df: DataFrame, maxBytes: Long): Option[Array[UnsafeRow]] = {
    val qe = df.asInstanceOf[classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      // per partition: its rows' bytes, and its rows (null once over the bound)
      val parts = qe.executedPlan.execute().mapPartitionsInternal { it =>
        val rows = ArrayBuffer.empty[UnsafeRow]
        var bytes = 0L
        while (bytes <= maxBytes && it.hasNext) {
          val row = it.next().asInstanceOf[UnsafeRow]
          bytes += row.getSizeInBytes
          if (bytes <= maxBytes) rows += row.copy()
        }
        Iterator.single((bytes, if (bytes <= maxBytes) rows.toArray else null))
      }
      val got = new Array[Array[UnsafeRow]](parts.getNumPartitions)
      val over = Promise[Unit]()
      var bytes = 0L // the result handler runs on the scheduler's one event thread
      val job = parts.sparkContext.submitJob(parts, (it: Iterator[(Long, Array[UnsafeRow])]) => it.next(),
        got.indices, (i: Int, part: (Long, Array[UnsafeRow])) => {
          bytes += part._1
          if (bytes > maxBytes) over.trySuccess(()) else got(i) = part._2
        }, ())
      Await.ready(Future.firstCompletedOf(Seq(job, over.future))(ExecutionContext.parasitic),
        Duration.Inf)
      if (over.isCompleted) {
        job.cancel()
        Await.ready(job, Duration.Inf)
        None
      } else {
        job.value.get.get // rethrows the job's failure
        Some(got.flatten)
      }
    }
  }

  /** Public alias for the sql-private AbstractDataType, so graft expressions
   * can declare `inputTypes` (ImplicitCastInputTypes) outside this package. */
  type AbsDataType = org.apache.spark.sql.types.AbstractDataType
}
