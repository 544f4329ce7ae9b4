package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.Jts
import graft.raster.{AsciiGrid, GeoTiff, RasterOps}
import graft.sinks.ZipSink

/** The composed end-to-end pipeline (SURVEY.md §3 lifecycle): the
  * reference's serial nested loops (ETL.py:229–366) as one declarative
  * DataFrame graph.
  *
  * {{{
  * asciigrid scan (*.asc, recursive)             SRC-1  (glob pushdown)
  *   header columns + values, parsed once per grid
  *  → filename decode                            PRJ-1
  *  → broadcast dim decode joins → rename        JOIN-2, PRJ-2
  *  → × broadcast(regions ≠ "99", footprint)     JOIN-1, PRJ-3/4, OP-SP-5/6
  *  → one product per pair: clip + stats,        OP-SP-3, AGG-2
  *    .asc / .wld / .tif from the one clip
  *  → metadata doc                               D5
  *  → zip sink + json sink + catalog             SNK-3/4
  * }}}
  *
  * Anti-optimizations of the reference eliminated by construction
  * (SURVEY.md §4.1): the region layer is read once and broadcast (not
  * re-fetched per file); no per-region directory re-listing; each grid
  * is converted once, not once per region; the (file × region) clip
  * tasks are embarrassingly parallel across executors instead of
  * strictly serial.
  */
object Pipeline {

  /** Regions dimension schema: code, name, raw_title, wkt (NZTM). */
  final case class Result(catalog: DataFrame,
      metrics: Map[String, Any] = Map.empty)

  /** One product per (grid × region) pair, all from the one clipped grid:
    * (.asc text, ncols, nrows, n_valid, n_nodata, min, max, sum,
    * .wld text, .tif bytes). The grid arrives as the scan's header and
    * `values` columns; the reference zips the ESRI sidecars and the .tif
    * Clip_management wrote (ETL.py:5,303–346). An empty clip (region
    * outside the grid) gets an empty world file and a zero-byte .tif,
    * mirroring how the reference's failed clips leave no raster payload.
    */
  private val productUdf = udf { (g: AsciiGrid, wkt: String) =>
    val c = RasterOps.clip(g, Jts.parseWkt(wkt))
    val s = RasterOps.stats(c)
    val empty = c.ncols == 0 || c.nrows == 0
    // world file: cellsize / rotation / center of the upper-left cell
    val wld =
      if (empty) ""
      else s"${c.cellsize}\n0.0\n0.0\n-${c.cellsize}\n${c.centerX(0)}\n${c.centerY(0)}\n"
    (AsciiGrid.write(c), c.ncols, c.nrows, s.nValid, s.nNodata, s.min, s.max, s.sum,
      wld, if (empty) Array.emptyByteArray else GeoTiff.write(c, srid = 2193))
  }

  /** The pipeline's source stage: the asciigrid DataSource V2 scan with
    * an optional source-region scope; each caller projects the columns
    * it needs (the pipeline reads the header columns and `values`, so
    * each grid is tokenized once, in the scan).
    * The scope is expressed as a `path` predicate so the DSv2 pushdown
    * applies it at FILE LISTING time: a run scoped to one region-code
    * directory of a 100 TB tree opens only that directory's files
    * (PushedFilters in the scan — PipelineSpec pins this; an exact
    * parent-dir check stays as a cheap residual filter).
    */
  def sourceFiles(spark: SparkSession, inputDir: String,
      srcRegion: Option[String] = None): DataFrame = {
    val scan = spark.read.format("asciigrid").load(inputDir)
    srcRegion match {
      case Some(code) =>
        // two predicates, one job each: the contains() is a pushable
        // string filter the DSv2 source applies at FILE LISTING time
        // (directories outside the code never open); the parent-dir
        // equality is the exact scope — it screens out the pathological
        // case where inputDir itself contains a segment equal to a
        // region code (contains alone would then match every file).
        // Scheme-prefix-agnostic, unlike anchoring on inputDir.
        scan.filter(col("path").contains(s"/$code/") &&
          element_at(split(col("path"), "/"), -2) === code)
      case None => scan
    }
  }

  /** Run the full pipeline.
    *
    * @param inputDir   root of the .asc tree (region-code subfolders)
    * @param regions    dimension with columns code, name, raw_title, wkt
    * @param outDir     local/shared-FS output root (zips + json docs)
    * @param updatedAt  deterministic updatedAt stamp for metadata docs
    * @param srcRegion  optional source-region scope (a region-code
    *                   directory); pushed into the scan's file listing
    */
  def run(spark: SparkSession, inputDir: String, regions: DataFrame,
      outDir: String, updatedAt: String, prefix: String = "climate/grids",
      srcRegion: Option[String] = None): Result = {

    // SNK-5/6: when the S3 sink is enabled and its target scheme is
    // usable, all outputs stream straight to the object store; otherwise
    // degrade to the local root (the reference's missing-boto3 path,
    // ETL.py:77–92) with a logged warning.
    val sinkRoot = graft.sinks.S3Sink.resolveRoot(spark, outDir)

    // SRC-1/5: the asciigrid DataSource V2 — recursive .asc listing with
    // the suffix filter applied in the listing itself, one grid per row.
    val files = sourceFiles(spark, inputDir, srcRegion)
      .select(col("path"), struct(col("ncols"), col("nrows"), col("xllcorner"),
        col("yllcorner"), col("cellsize"), col("nodata"), col("values")).as("grid"))

    // PRJ-1/2 + JOIN-2: decode & rename.
    val pDim = broadcast(Lookups.parameterDim(spark)
      .select(col("code").as("parameter_code"), col("name").as("parameter_name")))
    val tDim = broadcast(Lookups.periodDim(spark)
      .select(col("code").as("period_token"), col("name").as("period_name")))

    val decoded = files
      .withColumn("file_name", element_at(split(col("path"), "/"), -1))
      .withColumn("base_name", element_at(split(col("file_name"), "\\.asc$"), 1))
      .withColumn("parameter_code", Filenames.parameterCode(col("base_name")))
      .withColumn("statistic", Filenames.statistic(col("base_name")))
      .withColumn("period_token", Filenames.periodToken(col("base_name")))
      .join(pDim, "parameter_code")
      .join(tDim, "period_token")
      .withColumn("new_file_name",
        Filenames.newFileName(col("parameter_name"), col("statistic"), col("period_name")))

    // JOIN-1 + PRJ-3/4: cross join the broadcast region dim; the
    // region-constant footprint (OP-SP-5/6) is computed once per region.
    val dims = broadcast(regions
      .filter(col("code") =!= "99")
      .select(col("code").as("region_code"), col("name").as("region_name"),
        Filenames.normalizeTitle(col("raw_title")).as("region_title"),
        col("wkt").as("region_wkt"), ringCoords(col("wkt")).as("region_coords")))

    val pairs = decoded.crossJoin(dims)
      .withColumn("clipped_name",
        Filenames.clippedName(col("new_file_name"), col("region_name")))

    // OP-SP-3 + AGG-2: one product per (file × region) task.
    val clipped = pairs
      .withColumn("cl", productUdf(col("grid"), col("region_wkt")))
      .withColumn("stats_text", concat_ws("\n",
        concat(lit("n_valid "), col("cl._4")),
        concat(lit("n_nodata "), col("cl._5")),
        concat(lit("min "), col("cl._6")),
        concat(lit("max "), col("cl._7")),
        concat(lit("sum "), col("cl._8"))))

    // D5: metadata document with the region's reprojected footprint.
    val typeParam = Filenames.dashToSpace(col("parameter_name"))
    val withDocs = clipped
      .withColumn("file_stem", element_at(split(col("clipped_name"), "\\.tif$"), 1))
      .withColumn("metadata_json", MetadataJson.doc(
        prefix = lit(prefix),
        fileStem = col("file_stem"),
        title = MetadataJson.title(typeParam, col("period_name"), col("region_title")),
        description = MetadataJson.description(typeParam, col("statistic"),
          lit("1991-2020"), col("period_name"), col("region_title")),
        coords = col("region_coords"),
        parameter = typeParam,
        period = col("period_name"),
        statistic = col("statistic"),
        region = col("region_title"),
        updatedAt = lit(updatedAt)))
      // the persisted frame: product columns only
      .select(col("base_name"), col("new_file_name"), col("clipped_name"),
        col("region_code"), col("region_name"), col("region_title"),
        col("cl"), col("stats_text"), col("metadata_json"), col("file_stem"))

    // SNK-7 counterpart at scale: data-quality counters ride the
    // existing materialization via observe() — an AccumulatorV2 under
    // the hood, aggregated DURING the first action over the cached
    // plan, zero extra passes (a separate count()/agg() would re-scan).
    // The run's log line and Result.metrics both come from here.
    val obs = org.apache.spark.sql.Observation(
      s"graft-pipeline-${java.util.UUID.randomUUID()}")
    val observed = withDocs.observe(obs,
      count(lit(1)).as("n_products"),
      coalesce(sum(when(col("cl._4") > 0, 1L).otherwise(0L)), lit(0L))
        .as("n_nonempty_clips"), // sum of zero rows is NULL, not 0
      approx_count_distinct(col("base_name")).as("n_source_files"),
      approx_count_distinct(col("region_code")).as("n_regions"))

    // the three consumers below (catalog, zips, docs) share one
    // materialization of the expensive clip and product work; released in
    // the finally so repeated runs in a shared session don't leak blocks
    observed.persist()
    try {

    val catalog = observed.select(
      col("base_name"), col("new_file_name"), col("clipped_name"),
      col("region_code"), col("region_name"), col("region_title"),
      col("cl._2").as("ncols_out"), col("cl._3").as("nrows_out"),
      col("cl._4").as("n_valid"), col("cl._5").as("n_nodata"),
      col("cl._8").as("sum_valid"),
      col("cl._1").as("clipped_text"), col("stats_text"), col("metadata_json"),
      col("file_stem"))

    // SNK-3: zip of sidecar group (clipped raster + world file + stats).
    val zips = observed.select(
      concat(col("file_stem"), lit(".zip")).as("zip_name"),
      array(
        struct(concat(col("file_stem"), lit(".asc")).as("name"), col("cl._1").as("content")),
        struct(concat(col("file_stem"), lit(".wld")).as("name"), col("cl._9").as("content")),
        struct(concat(col("file_stem"), lit(".stats.txt")).as("name"), col("stats_text").as("content")),
      ).as("entries"),
      array(
        struct(concat(col("file_stem"), lit(".tif")).as("name"), col("cl._10").as("content")),
      ).as("bin_entries"))
    ZipSink.write(zips, s"$sinkRoot/zipped")

    // SNK-4: one metadata .json per product, written partition-side
    // through the Hadoop FileSystem API (same writer for file:// and
    // s3a:// roots; executors rebuild the handle from shipped fs.* conf).
    val docs = observed.select(col("file_stem"), col("metadata_json"))
    val docDir = s"$sinkRoot/zipped"
    val fsConf = graft.sinks.S3Sink.fsConfEntries(spark)
    docs.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      import java.nio.charset.StandardCharsets
      import org.apache.hadoop.fs.Path
      val fs = graft.sinks.S3Sink.fileSystemFor(docDir, fsConf)
      fs.mkdirs(new Path(docDir))
      rows.foreach { r =>
        val out = fs.create(new Path(docDir, r.getAs[String]("file_stem") + ".json"), true)
        try out.write(r.getAs[String]("metadata_json").getBytes(StandardCharsets.UTF_8))
        finally out.close()
      }
    }

    // SNK-1 analog: the converted store is columnar parquet (grid text
    // + product metadata per row), replacing the reference's COG files.
    // coalesce(8): the catalog is one row per product — small relative
    // to the data at every scale — so writing it at the session's 32
    // shuffle partitions yields a tray of near-empty part files (26
    // tiny files + sidecars at the fixture). Eight bounds the
    // small-file count without serializing the write through one task
    // the way coalesce(1) would if the catalog grows.
    catalog.coalesce(8).write.mode("overwrite").parquet(s"$sinkRoot/catalog.parquet")

    // hand back the WRITTEN store, not the in-memory lineage: consumers
    // read the parquet (cheap, pruned) and the cache can be dropped now
    Result(spark.read.parquet(s"$sinkRoot/catalog.parquet"), obs.get)
    } finally observed.unpersist(blocking = false)
  }

  /** WKT polygon → GeoJSON-style coordinates array
    * array(array(array(x,y)...)) of the WGS84-reprojected envelope ring.
    */
  private def ringCoords(wkt: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val u = udf { (w: String) =>
      val ring = Jts.exteriorRing(
        Jts.reprojectToWgs84(Jts.envelopePolygon(Jts.parseWkt(w))))
      Array(ring.map { case (x, y) =>
        Array(math.rint(x * 1e6) / 1e6, math.rint(y * 1e6) / 1e6) })
    }
    u(wkt)
  }
}
