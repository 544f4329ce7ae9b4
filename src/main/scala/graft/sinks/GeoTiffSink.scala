package graft.sinks

import java.io.BufferedOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}

import graft.raster.{AsciiGrid, GeoTiff}

/** GeoTIFF file sink (SNK-1; ETL.py:259–262): one `.tif` per row,
  * encoded executor-side by the pure-JVM writer — same
  * foreachPartition + Hadoop-FileSystem shape as the pipeline's zip and
  * json sink pass, so the same code streams to file://, hdfs://, or
  * s3a:// roots with no driver collection.
  */
object GeoTiffSink {

  /** Expects schema: tif_name STRING, grid_text STRING (ESRI-ASCII).
    * Writes `outDir/<tif_name>` single-band float32 tiled GeoTIFFs in
    * the given projected CRS.
    */
  def write(df: DataFrame, outDir: String, srid: Int = 2193): Unit = {
    val fsConf = S3Sink.fsConfEntries(df.sparkSession)
    S3Sink.fileSystemFor(outDir, fsConf).mkdirs(new Path(outDir))
    df.foreachPartition { rows: Iterator[Row] =>
      val fs = S3Sink.fileSystemFor(outDir, fsConf)
      rows.foreach { row =>
        val name = row.getAs[String]("tif_name")
        val grid = AsciiGrid.parse(row.getAs[String]("grid_text"))
        val out = new BufferedOutputStream(
          fs.create(new Path(outDir, name), true))
        try out.write(GeoTiff.write(grid, srid)) finally out.close()
      }
    }
  }
}
