package graft.sinks

import java.io.BufferedOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row

/** Zip packaging sink (SNK-3; ETL.py:315–346): one .zip per group,
  * entries = the group's sidecar files, lockfiles excluded upstream
  * (PRJ-5 — the *grouping* is a query, see EtlQueries.q_zip_group; this
  * module is only the packaging).
  *
  * Called from a partition-side writer (the pipeline's one sink pass
  * writes each product's zip and json doc with one handle): no driver
  * collection — per-group single-file output is inherently a sink-side
  * concern (SURVEY.md §7.6.5). I/O goes through the Hadoop FileSystem
  * API, so the same writer streams to file://, hdfs://, or s3a://
  * roots (SNK-5).
  */
object ZipSink {

  /** Writes one zip at `path`: `entries` are STRUCT<name STRING,
    * content STRING> text sidecars, then `binEntries` STRUCT<name
    * STRING, content BINARY> non-text ones (the clipped GeoTIFF itself,
    * ETL.py:315–346 zips the .tif alongside its text sidecars).
    */
  def write(fs: FileSystem, path: Path, entries: collection.Seq[Row],
      binEntries: collection.Seq[Row]): Unit = {
    val out = new ZipOutputStream(new BufferedOutputStream(fs.create(path, true)))
    try {
      entries.foreach { e =>
        out.putNextEntry(new ZipEntry(e.getAs[String]("name")))
        out.write(e.getAs[String]("content").getBytes(StandardCharsets.UTF_8))
        out.closeEntry()
      }
      binEntries.foreach { e =>
        out.putNextEntry(new ZipEntry(e.getAs[String]("name")))
        out.write(e.getAs[Array[Byte]]("content"))
        out.closeEntry()
      }
    } finally out.close()
  }
}
