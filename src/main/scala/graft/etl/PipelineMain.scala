package graft.etl

/** CLI entry point (SRC-6; the reference's argparse `main`,
  * ETL.py:505–577): run the composed ETL over an .asc tree.
  *
  * {{{
  * runMain graft.etl.PipelineMain \
  *   --files_input_folder /path/to/asc_tree \
  *   --output_folder_zipped /path/to/out \
  *   [--regions_geojson /path/to/fc.geojson]  // GeoJSON FeatureCollection (SRC-3)
 *   [--regions_json /path/to/regions.json]   // code,name,raw_title,wkt
  *   [--updated_at 2026-01-01T00:00:00Z]
  * }}}
  *
  * Unlike the reference (import-time network/layer side effects,
  * SURVEY.md §3 entry 3), nothing here touches input until the Spark
  * actions run.
  */
object PipelineMain {

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val input = opts.getOrElse("files_input_folder",
      sys.error("--files_input_folder is required"))
    val out = opts.getOrElse("output_folder_zipped",
      sys.error("--output_folder_zipped is required"))
    val updatedAt = opts.getOrElse("updated_at",
      java.time.Instant.now().toString)

    val spark = graft.Harness.session()

    val regions = (opts.get("regions_geojson"), opts.get("regions_json")) match {
      // SRC-3: a GeoJSON FeatureCollection (the feature-service response
      // shape) — attributes + polygon geometry parsed to the region dim
      case (Some(path), _) => graft.sources.GeoJsonSource.regions(spark, path)
      case (_, Some(path)) => spark.read.json(path)
        .select("code", "name", "raw_title", "wkt")
      case _ => Lookups.fullCoverRegions(spark)
    }

    val result = Pipeline.run(spark, input, regions, out, updatedAt)
    // the observe() metrics were aggregated during the run's own
    // materialization — no extra count job over the written store
    val m = result.metrics
    println(s"""{"pipeline":"ok","products":${m.getOrElse("n_products", 0L)},""" +
      s""""nonempty_clips":${m.getOrElse("n_nonempty_clips", 0L)},""" +
      s""""source_files":${m.getOrElse("n_source_files", 0L)},"out":"$out"}""")
    spark.stop()
  }
}
