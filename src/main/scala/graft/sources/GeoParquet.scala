package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * GeoParquet export/import: Spark writes the data; the files are then
 * rewritten (row groups copied verbatim via parquet-hadoop's appendFile)
 * with the GeoParquet `geo` key-value metadata in the footer — the same
 * metadata shape the reference emits
 * (`/root/reference/src/geoparquet/mapshaper-geoparquet-export.mjs:13-76`,
 * spec at geoparquet.org): version, primary_column, per-column encoding
 * ("WKB"), geometry_types, bbox.
 *
 * Geometry is encoded as standard WKB (little-endian) in a binary column —
 * [[wkbPoint]] / [[wkbPolygon]] build it as column expressions/UDFs.
 */
object GeoParquet {

  /** WKB for a 2D point (little-endian, type 1). */
  def wkbPointBytes(x: Double, y: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    b.array()
  }

  /** WKB for a single-ring 2D polygon (type 3). */
  def wkbPolygonBytes(ring: Array[Double]): Array[Byte] = {
    val n = ring.length / 2
    val b = java.nio.ByteBuffer.allocate(9 + 4 + n * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(3).putInt(1).putInt(n)
    var i = 0
    while (i < ring.length) { b.putDouble(ring(i)); i += 1 }
    b.array()
  }

  def wkbPoint(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = udf((xx: Double, yy: Double) => wkbPointBytes(xx, yy))
    u(x, y)
  }

  /** The `geo` metadata JSON (GeoParquet 1.0). */
  def geoMetadataJson(primaryColumn: String, geometryTypes: Seq[String],
                      bbox: (Double, Double, Double, Double)): String = {
    val types = geometryTypes.map(t => s""""$t"""").mkString(",")
    s"""{"version":"1.0.0","primary_column":"$primaryColumn","columns":{"$primaryColumn":{"encoding":"WKB","geometry_types":[$types],"bbox":[${bbox._1},${bbox._2},${bbox._3},${bbox._4}]}}}"""
  }

  /**
   * Write `df` (containing a WKB binary `geometryCol`) as GeoParquet: Spark
   * parquet write, then each part file is rewritten with the `geo` footer
   * metadata (row groups are byte-copied — no re-encode).
   */
  def write(spark: SparkSession, df: DataFrame, geometryCol: String, outDir: String,
            geometryTypes: Seq[String], bbox: (Double, Double, Double, Double)): Unit = {
    val tmp = outDir + "_tmp"
    df.write.mode("overwrite").parquet(tmp)
    val conf = new Configuration()
    val geoJson = geoMetadataJson(geometryCol, geometryTypes, bbox)
    val outPath = new java.io.File(outDir)
    if (outPath.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(outPath)
    }
    outPath.mkdirs()
    new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).foreach { part =>
      val in = HadoopInputFile.fromPath(new Path(part.getAbsolutePath), conf)
      val reader = ParquetFileReader.open(in)
      val schema = reader.getFooter.getFileMetaData.getSchema
      val existingKv = reader.getFooter.getFileMetaData.getKeyValueMetaData
      reader.close()
      val out = HadoopOutputFile.fromPath(
        new Path(s"$outDir/${part.getName}"), conf)
      val writer = new ParquetFileWriter(out, schema,
        ParquetFileWriter.Mode.OVERWRITE, 128L * 1024 * 1024, 8 * 1024 * 1024)
      writer.start()
      writer.appendFile(in)
      val kv = new java.util.HashMap[String, String](existingKv)
      kv.put("geo", geoJson)
      writer.end(kv)
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(tmp))
  }

  /** Read the `geo` footer metadata of a GeoParquet file (or null). */
  def readGeoMetadata(path: String): String = {
    val conf = new Configuration()
    val file = new java.io.File(path)
    val part = if (file.isDirectory)
      file.listFiles().filter(_.getName.endsWith(".parquet")).head else file
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), conf))
    val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
    reader.close()
    kv.get("geo")
  }

  /** Decode a WKB point binary column back to (x, y). */
  def parseWkbPoint(bytes: Array[Byte]): (Double, Double) = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    b.order(if (b.get(0) == 1) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN)
    require(b.getInt(1) == 1, "not a WKB point")
    (b.getDouble(5), b.getDouble(13))
  }
}
