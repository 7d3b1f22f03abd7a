package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entry.Fixtures.{imageLayer, imagesDf}
import graft.entry.Registry
import graft.functions.GraftFunctions._
import graft.operators._

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2 (+ the training-pipeline operators), each with a
 * DuckDB-runnable `oracleSql` mirror. The queries are declared in the
 * family modules of `graft.entry`, each once with its builder and oracle
 * SQL side by side; the oracle-parity rules are in the `entry.Registry`
 * header. Both maps are built once per JVM, and building them fails if a
 * query name is declared twice.
 */
object SparkEntry {

  /** Directory of the generated media tables (images, audio, video) and
   * of `q_tilerun`'s output: `data/` under the working directory (the
   * repository root under sbt). The oracle SQL reads the sf0.01 media
   * tables from it by absolute path. */
  final val DataRoot: String = new java.io.File("data").getAbsolutePath

  /** Test data of the mapshaper reference checkout, read by the reader
   * queries (`entry.ReaderQueries`) and by their oracle SQL. */
  final val ReferenceData: String = "/root/reference/test/data"

  /** Flagship query on sf=0.001: image table → cell ids → broadcast PIP join →
   * per-polygon counts + caption sample. Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val imgs = imagesDf(spark, "/root/testdata/sf0.001")
      .select(col("image_id"), col("caption"), col("phash"))
      .withColumn("x", phashLon(col("phash")))
      .withColumn("y", phashLat(col("phash")))
      .withColumn("cell", cellId(col("x"), col("y"), 7))
    SpatialJoin.broadcastJoin(spark, imgs, "x", "y", imageLayer)
      .groupBy("poly_key")
      .agg(count(lit(1)).as("n_images"),
        countDistinct(col("cell")).as("n_cells"),
        first(col("caption")).as("sample_caption"))
      .orderBy("poly_key")
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.byName.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    Registry.byName.map { case (name, q) => name -> q.oracle() }
}
