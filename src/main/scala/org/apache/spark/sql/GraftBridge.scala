package org.apache.spark.sql

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{DataType, StructType}

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

  /** A local relation of `rows` (internal values) under `schema`: a driver
   * path's answer, with no conversion to external `Row`s. */
  def localRelation(s: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Field 0 of a row, of type `dt`, as a one-field `UnsafeRow` that equals
   * another exactly when `groupBy` puts the two values in one group (the
   * optimizer's -0.0 / NaN normalization applied). The projection reuses
   * its output row. It is interpreted: a generated class would take a slot
   * of Spark's codegen cache (100 by default, shared by every query of the
   * JVM) for a key the driver computes once per collected row. */
  def groupingKey(dt: DataType): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(
      Seq(NormalizeFloatingNumbers.normalize(BoundReference(0, dt, nullable = true))))

  /** Public alias for the sql-private AbstractDataType, so graft expressions
   * can declare `inputTypes` (ImplicitCastInputTypes) outside this package. */
  type AbsDataType = org.apache.spark.sql.types.AbstractDataType
}
