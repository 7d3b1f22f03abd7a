package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  final val Sf = "/root/testdata/sf0.001"

  /** Runs `f` with `spark.sql.autoBroadcastJoinThreshold` set to `v` ("-1"
   * turns off every broadcast and driver path), then restores it. */
  protected def withBroadcastThreshold[T](v: String)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, v)
    try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every shuffle's output attribute names in `df`'s physical plan. Under
   * adaptive execution the plan root is an `AdaptiveSparkPlanExec` leaf, so
   * the walk goes through `AdaptiveSparkPlanHelper`. A plan without any
   * shuffle fails here: a "no exchange carries X" check must not pass on an
   * empty list. */
  protected def exchangeOutputs(df: DataFrame): Seq[Seq[String]] = {
    val plan = df.queryExecution.executedPlan
    val outs = SparkSuite.Aqe.collect(plan) { case e: ShuffleExchangeExec => e.output.map(_.name) }
    assert(outs.nonEmpty, s"the plan has no shuffle exchange to check:\n$plan")
    outs
  }
}

object SparkSuite {
  private object Aqe extends AdaptiveSparkPlanHelper
}
