package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

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

  /** Public alias for the sql-private AbstractDataType, so graft expressions
   * can declare `inputTypes` (ImplicitCastInputTypes) outside this package. */
  type AbsDataType = org.apache.spark.sql.types.AbstractDataType
}
