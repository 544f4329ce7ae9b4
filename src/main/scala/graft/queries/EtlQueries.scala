package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Filenames, Lookups, Manifest, MetadataJson}

/** ETL-parity queries — the reference's data-processing surface
  * (SURVEY.md §2, `Q:` tags) re-expressed as declarative DataFrame plans
  * over the deterministic manifest, each with a DuckDB oracle.
  *
  * Plan-shape invariants (checked in specs / by `.explain`):
  *   - every dim decode is a BroadcastHashJoin (16–17-row dims);
  *   - the files×regions product is a BroadcastNestedLoopJoin with the
  *     region side broadcast — no shuffle;
  *   - the only exchanges in this module are the `groupBy(base_name)`
  *     hash aggregations (SRC-2 / SNK-3), which partial-aggregate
  *     map-side first.
  */
object EtlQueries {

  private def manifestAsc(spark: SparkSession, dir: String): DataFrame =
    Manifest.build(spark, dir).filter(col("file_name").endsWith(".asc"))

  /** The manifest's distinct base names. */
  private def bases(spark: SparkSession, dir: String): DataFrame =
    Manifest.build(spark, dir).select("base_name").distinct()

  /** Distinct (base_name, new_file_name) after the decode joins (PRJ-2). */
  private def renamed(spark: SparkSession, dir: String): DataFrame =
    Filenames.rename(bases(spark, dir))

  private val sidecarExts = Seq(".tif", ".tfw", ".tif.aux.xml", ".tif.ovr", ".tif.lock")

  /** On-disk .asc tree for the END-TO-END pipeline bench row: one file
    * per nation key k (25 at every SF), named from the same dim
    * arithmetic as the manifest (param k%16, period k%17, stat k%3),
    * content = GridGen grid k, under the k%17 region-code source dir.
    * SF-independent by construction — nation is fixed-size — so ONE
    * tree serves every scale's gate and the oracle rebuilds names and
    * clip statistics from `nation` alone.
    */
  private[graft] def pipelineTree(s: SparkSession): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_pipe_tree"
    SideStores.stagedTree(out) { stage =>
      val pCodes = Lookups.parameters.map(_._1)
      val tCodes = Lookups.periods.map(_._1)
      val rCodes = Lookups.regions.map(_._1)
      for (k <- 0 until 25) {
        val base = s"grid_${pCodes(k % 16)}_NZ_norm_" +
          s"${Lookups.statistics(k % 3)}_1991-2020_${tCodes(k % 17)}"
        val sub = new java.io.File(stage.toFile, rCodes(k % 17))
        sub.mkdirs()
        java.nio.file.Files.writeString(sub.toPath.resolve(s"$base.asc"),
          graft.raster.GridGen.genText(k))
        ()
      }
    }
    out
  }

  /** On-disk twin of a deterministic manifest subset (file_id % 97 = 0,
    * ≤ ~1 ‰ of the listing at any SF) for the streaming file-ingest
    * query: real region-dir/file layout, content `"cell <file_id>\n"`
    * so the byte count is oracle-computable. BOTH extensions are
    * written — the stream's pathGlobFilter must do real filtering.
    * Fixture materialization only (one driver-side pass over ≤ a few
    * hundred rows, once per JVM per sfDir) — the measured operator is
    * the stream that READS the tree.
    */
  private[graft] def streamTree(s: SparkSession, dir: String): String = {
    // key on the sanitized ABSOLUTE path (ADVICE r10): two fixture dirs
    // sharing a basename but not a parent must not silently reuse each
    // other's memoized tree within one JVM (keying recipe + aliasing
    // rationale: SideStores.keyedTmpPath).
    val out = SideStores.keyedTmpPath("graft_stream_tree_", dir)
    SideStores.stagedTree(out) { stage =>
      Manifest.build(s, dir)
        .filter(col("file_id") % 97 === 0)
        .select("file_id", "region_code", "file_name")
        .orderBy("file_id") // last writer on a colliding path = max(file_id)
        .collect()
        .foreach { r =>
          val sub = new java.io.File(stage.toFile, r.getAs[String]("region_code"))
          sub.mkdirs()
          java.nio.file.Files.writeString(
            sub.toPath.resolve(r.getAs[String]("file_name")),
            s"cell ${r.getAs[Long]("file_id")}\n")
          ()
        }
    }
    out
  }

  /** Streaming binaryFile scan of an on-disk region tree, decoded to
    * the shared columns the streaming file queries key on —
    * (path, modificationTime, length, content) from the source plus
    * region_code / base_name. ONE definition so the explicit source
    * schema cannot drift between q_stream_file_ingest,
    * q_stream_cog_convert and q_stream_pipeline.
    */
  private def ascFileStream(s: SparkSession, tree: String): DataFrame = {
    // the streaming file source requires an explicit schema; this is
    // binaryFile's fixed one
    val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    s.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.asc")
      .option("recursiveFileLookup", "true")
      .load(tree)
      .withColumn("region_code", Filenames.regionCodeFromPath(col("path")))
      .withColumn("base_name", Filenames.baseName(col("path")))
  }

  /** The deterministic asciigrid side tree shared by q_spj_source and
    * q_runtime_prune_source: region rXX holds XX % 3 + 1 one-row grids
    * with ncols = XX + k + 1, recreated from empty once per JVM (a
    * stale tree from an older layout would silently diverge from the
    * arithmetic oracles).
    */
  private[graft] def spjTree(): String = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_spj_tree"
    SideStores.stagedTree(out) { stage =>
      for (r <- 0 until 16; k <- 0 to (r % 3)) {
        val sub = new java.io.File(stage.toFile, f"r$r%02d")
        sub.mkdirs()
        val ncols = r + k + 1
        val body = s"ncols $ncols\nnrows 1\nxllcorner 0.0\nyllcorner 0.0\n" +
          s"cellsize 1.0\nNODATA_value -9999\n${Seq.fill(ncols)("1.0").mkString(" ")}\n"
        java.nio.file.Files.writeString(sub.toPath.resolve(s"g$k.asc"), body)
        ()
      }
    }
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SRC-1: recursive scan with suffix predicate (ETL.py:198–200).
    "q_scan_filter_files" -> ((s, dir) =>
      manifestAsc(s, dir)
        .select("file_id", "region_code", "base_name", "path")
        .orderBy("file_id")),

    // SRC-2/AGG-1: group files by base name, accumulate paths (ETL.py:201–208).
    "q_group_collect" -> ((s, dir) =>
      manifestAsc(s, dir)
        .groupBy("base_name")
        .agg(count(lit(1)).as("n_files"),
          array_join(sort_array(collect_list(col("path"))), ",").as("paths"))
        .orderBy("base_name")),

    // PRJ-1: positional filename decode (ETL.py:243–248).
    "q_parse_filename" -> ((s, dir) =>
      Filenames.decode(bases(s, dir)).orderBy("base_name")),

    // PRJ-2/JOIN-2: code→name decode + recompose (ETL.py:248–255).
    "q_rename_lookup" -> ((s, dir) =>
      renamed(s, dir).select("base_name", "new_file_name").orderBy("base_name")),

    // JOIN-2 full surface: all three broadcast dim decodes + PRJ-8
    // region-from-path (ETL.py:234, 248, 251, 275).
    "q_broadcast_lookup_join" -> ((s, dir) =>
      Filenames.rename(Manifest.build(s, dir)
          .withColumn("region_code", Filenames.regionCodeFromPath(col("path"))))
        .join(Lookups.regionNames(s), "region_code")
        .select("file_id", "parameter_name", "period_name", "region_code", "region_name")
        .orderBy("file_id")),

    // PRJ-3: region "99" skip (ETL.py:272–273).
    "q_filter_region" -> ((s, dir) =>
      Manifest.build(s, dir)
        .filter(Lookups.clipped(col("region_code")))
        .join(Lookups.regionNames(s), "region_code")
        .select("file_id", "region_code", "region_name")
        .orderBy("file_id")),

    // PRJ-4: region title normalization (ETL.py:276–279), exercised over
    // feature-layer-style raw titles rebuilt from the region dim.
    "q_title_normalize" -> ((s, dir) =>
      Lookups.regionDim(s)
        .select(col("code").as("region_code"),
          Lookups.rawTitle(col("code"), col("name")).as("raw_title"))
        .withColumn("title", Filenames.normalizeTitle(col("raw_title")))
        .orderBy("region_code")),

    // PRJ-6: dash→space character translation (ETL.py:421).
    "q_dash_to_space" -> ((s, dir) =>
      Lookups.parameterDim(s)
        .select(col("code").as("param_code"), col("name").as("parameter_name"),
          Filenames.dashToSpace(col("name")).as("display_name"))
        .orderBy("param_code")),

    // JOIN-1: the files × regions cross product at the heart of the
    // pipeline (ETL.py:229–310) — region side broadcast once, not
    // re-fetched per file like the reference.
    "q_cross_join_regions" -> ((s, dir) =>
      renamed(s, dir).select("new_file_name").distinct()
        .crossJoin(Lookups.clipRegions(Lookups.regionDim(s)))
        .withColumn("clipped_name",
          Filenames.clippedName(col("new_file_name"), col("region_name")))
        .select("new_file_name", "region_code", "region_name", "clipped_name")
        .orderBy("new_file_name", "region_code")),

    // PRJ-9/SNK-5: S3 object-key construction incl. slash stripping
    // (ETL.py:389–393); prefix variants cycle through the edge cases.
    "q_s3_key" -> ((s, dir) =>
      Manifest.build(s, dir)
        .withColumn("prefix",
          when(col("file_id") % 4 === 0, lit("/climate/grids/"))
            .when(col("file_id") % 4 === 1, lit("climate/grids"))
            .when(col("file_id") % 4 === 2, lit("/"))
            .otherwise(lit("")))
        .withColumn("zip_name", concat(col("base_name"), lit(".zip")))
        .select(col("file_id"), col("prefix"),
          Filenames.s3Key(col("prefix"), col("zip_name")).as("object_key"))
        .orderBy("file_id")),

    // SNK-3/PRJ-5: sidecar grouping for zip packaging with lockfile
    // exclusion (ETL.py:315–346). The zip I/O itself is a sink
    // (graft.sinks); the queryable grouping semantics live here.
    "q_zip_group" -> ((s, dir) =>
      manifestAsc(s, dir).select("base_name").distinct()
        .crossJoin(explodedSidecars(s))
        .withColumn("entry", concat(col("base_name"), col("sidecar_ext")))
        .filter(!col("entry").endsWith(".lock"))
        .groupBy(concat(col("base_name"), lit(".zip")).as("zip_name"))
        .agg(count(lit(1)).as("n_entries"),
          array_join(sort_array(collect_list(col("entry"))), ",").as("entries"))
        .orderBy("zip_name")),

    // §7.4 flagship: the product catalog — decode → rename → filter 99 →
    // cross join regions → metadata fields (ETL.py:417–425, 474–489),
    // re-parsing the output filename convention exactly like the
    // reference's create_json_file does (PRJ-7).
    "q_product_catalog" -> ((s, dir) =>
      catalog(renamed(s, dir).select("new_file_name").distinct()).orderBy("file_name")),

    // JOIN-2 alternative (SURVEY §1.4): the dictionary decode as a PURE
    // EXPRESSION — typedLit(Map) + element_at — no join at all. The map
    // literal ships inside the plan (codegen'd hash lookup per row),
    // the right call when the dim is tiny and static; the broadcast
    // join variant (q_broadcast_lookup_join) wins once dims change
    // independently of code.
    "q_map_decode" -> ((s, dir) => {
      val periodMap = typedLit(Lookups.periods.toMap)
      val paramMap = typedLit(Lookups.parameters.toMap)
      Manifest.build(s, dir)
        .withColumn("period_token", Filenames.periodToken(col("base_name")))
        .withColumn("parameter_code", Filenames.parameterCode(col("base_name")))
        .select(col("file_id"),
          element_at(periodMap, col("period_token")).as("period_name"),
          element_at(paramMap, col("parameter_code")).as("parameter_name"))
        .orderBy("file_id")
    }),

    // Standard source-format coverage: the manifest round-trips through
    // CSV text (header, quoting, typed re-read with an explicit schema)
    // and must aggregate identically to its parquet origin. A real
    // engine meets catalogs in whatever format they arrive in; the
    // explicit schema (never inferSchema at scale — it double-scans)
    // is the posture that matters.
    "q_csv_source" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_csv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      SideStores.ensure(out) {
        Manifest.build(s, dir)
          .select("file_id", "region_code", "base_name", "path")
          .write.mode("overwrite").option("header", "true").csv(out)
      }
      s.read.option("header", "true")
        .schema("file_id BIGINT, region_code STRING, base_name STRING, path STRING")
        .csv(out)
        .groupBy("region_code")
        .agg(count(lit(1)).as("n_files"),
          min(col("base_name")).as("first_base"),
          max(col("file_id")).as("max_file_id"))
        .orderBy("region_code")
    }),

    // Same contract through JSON-lines (schema'd read, no inference).
    "q_json_source" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_json_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      SideStores.ensure(out) {
        Manifest.build(s, dir)
          .select("file_id", "region_code", "file_name")
          .write.mode("overwrite").json(out)
      }
      s.read
        .schema("file_id BIGINT, region_code STRING, file_name STRING")
        .json(out)
        .filter(col("file_name").endsWith(".asc"))
        .groupBy("region_code")
        .agg(count(lit(1)).as("n_asc"), min(col("file_name")).as("first_file"))
        .orderBy("region_code")
    }),

    // Same round-trip contract through ORC (the other columnar format
    // Spark ships natively; schema'd read, no inference).
    "q_orc_source" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_orc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      SideStores.ensure(out) {
        Manifest.build(s, dir)
          .select("file_id", "region_code", "base_name")
          .write.mode("overwrite").orc(out)
      }
      s.read
        .schema("file_id BIGINT, region_code STRING, base_name STRING")
        .orc(out)
        .groupBy("region_code")
        .agg(count(lit(1)).as("n_files"), max(col("base_name")).as("last_base"))
        .orderBy("region_code")
    }),

    // Hive-style partitioned layout: the manifest written partitionBy
    // region_code, then read back with a partition filter — the filter
    // must prune at the FILE LISTING level (PartitionFilters in the
    // scan, directories never opened), which is what makes
    // region-scoped queries on a 100 TB store touch only their slice.
    // The partition column comes back from directory names; values are
    // re-verified by the oracle.
    "q_partitioned_source" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_part_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      SideStores.ensure(out) {
        Manifest.build(s, dir)
          .select("file_id", "base_name", "region_code")
          .write.mode("overwrite").partitionBy("region_code").parquet(out)
      }
      // explicit schema: partition-type inference would turn the "01"
      // directory value into INT 1 and break the decode contract
      s.read.schema("file_id BIGINT, base_name STRING, region_code STRING")
        .parquet(out)
        .filter(col("region_code").isin("01", "05", "13"))
        .groupBy("region_code")
        .agg(count(lit(1)).as("n_files"), min(col("file_id")).as("min_file_id"))
        .orderBy("region_code")
    }),

    // Parquet schema EVOLUTION across snapshot generations — the lake
    // reality a 100 TB store always reaches: files written before a
    // column existed must remain readable beside files that carry it.
    // Two generations are materialized once (v1 = doc_id % 3 == 0
    // docs WITHOUT lang/quality; v2 = the rest WITH them), then read
    // TOGETHER under one EXPLICIT unified schema — the scale-honest
    // posture: Spark's parquet reader fills absent columns with null
    // per file, and a declared schema avoids mergeSchema's
    // footer-merge pass over every file on the listing path (double
    // metadata IO across millions of objects — the same "never
    // inferSchema" discipline as q_csv_source). The aggregate proves
    // the generations blend: per source, how many legacy rows
    // (lang IS NULL ⇔ v1 provenance) and the quality mass that only
    // v2 rows contribute.
    "q_schema_evolution" -> ((s, dir) => {
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_schevo_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      SideStores.ensure(out) {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/v1")
        docs.filter(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), col("source"), col("n_chars"), col("lang"),
            (col("n_chars") % 97).as("quality"))
          .write.mode("overwrite").parquet(s"$out/v2")
      }
      s.read
        .schema("doc_id BIGINT, source STRING, n_chars BIGINT, " +
          "lang STRING, quality BIGINT")
        .parquet(s"$out/v1", s"$out/v2")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_legacy"),
          sum(coalesce(col("quality"), lit(0L))).as("quality_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .orderBy("source")
    }),

    // Snapshot DIFF — the reconciliation op a versioned lake runs
    // between two table snapshots: which rows were added, removed,
    // changed, or untouched, counted per source. Two overlapping
    // generations are materialized once as doc_id-BUCKETED tables
    // (snap1 = doc_id % 5 ≠ 4; snap2 = doc_id % 5 ≠ 0 with ~1/7 of
    // shared rows carrying a changed quality), so the diff itself —
    // a full-outer join on the primary key — runs EXCHANGE-FREE on
    // the co-bucketed layout (the q_bucketed_join discipline): at
    // 100 TB a snapshot diff is exactly one co-partitioned merge
    // pass, never a re-shuffle of either snapshot. Row class from
    // null-side analysis (added/removed) and value compare (changed);
    // the only exchanges are the small per-(source, status) aggregate
    // and the presentation sort (plan-pinned).
    "q_snapshot_diff" -> ((s, dir) => {
      BucketedTables.ensure(s, Seq("graft_snap1", "graft_snap2"),
          "spark.graft.snap.writtenDir", dir) {
        val docs = s.read.parquet(s"$dir/documents.parquet")
        docs.filter(col("doc_id") % 5 =!= 4)
          .select(col("doc_id"), col("source"),
            (col("n_chars") % 97).as("quality"))
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
          .saveAsTable("graft_snap1")
        docs.filter(col("doc_id") % 5 =!= 0)
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 7 === 0,
              (col("n_chars") + col("doc_id")) % 97)
              .otherwise(col("n_chars") % 97).as("quality"))
          .repartition(8, col("doc_id"))
          .write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
          .saveAsTable("graft_snap2")
      }
      QueryCaches.scopedConf(s,
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      val a = s.table("graft_snap1")
        .select(col("doc_id"), col("source").as("src_a"), col("quality").as("q_a"))
      val b = s.table("graft_snap2")
        .select(col("doc_id"), col("source").as("src_b"), col("quality").as("q_b"))
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("src_a").isNull, lit("added"))
            .when(col("src_b").isNull, lit("removed"))
            .when(col("q_a") =!= col("q_b"), lit("changed"))
            .otherwise(lit("unchanged")))
        .withColumn("source", coalesce(col("src_a"), col("src_b")))
        .groupBy("source", "status")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "status")
    }),

    // Storage-partitioned join through the asciigrid DataSource V2: the
    // region-directory layout is reported as KeyGroupedPartitioning, so
    // the two co-partitioned scans join on `region` with NO exchange on
    // either side (`spark.sql.sources.v2.bucketing.enabled`, scoped) —
    // the V2 analog of the bucketed-table join, with the layout owned
    // by the source instead of the warehouse. The side tree is
    // deterministic (region rXX holds XX % 3 + 1 one-row grids with
    // ncols = XX + k + 1, written once per JVM), so the oracle
    // reconstructs the same numbers arithmetically — the gate checks
    // the exchange-free path returns exactly what the shuffled plan
    // would.
    "q_spj_source" -> ((s, dir) => {
      QueryCaches.scopedConf(s, "spark.sql.sources.v2.bucketing.enabled", "true")
      QueryCaches.scopedConf(s, "spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = spjTree()
      val a = s.read.format("asciigrid").load(out)
        .groupBy("region").agg(sum(col("ncols")).as("total_cols"))
      val b = s.read.format("asciigrid").load(out)
        .groupBy("region").agg(count(lit(1)).as("n_grids"))
      a.join(b, "region").orderBy("region")
    }),

    // DSv2 dynamic partition pruning end-to-end: the asciigrid scan
    // reports `region` as runtime-filterable (SupportsRuntimeV2Filtering),
    // so when a selective dim joins on region, Spark evaluates the dim
    // FIRST and ships the surviving region values into the scan as an
    // IN predicate — pruned grids never become partitions, never open,
    // never transfer. This is the runtime complement of the source's
    // static path-filter pushdown: at 100 TB it is the difference
    // between reading 4 regions and listing-then-discarding all 16
    // (the fleet, in the real layout). The dim derives from the nation
    // parquet so the build side is a genuinely selective file-scan
    // filter, and the oracle reconstructs the joined tree
    // arithmetically. Pruning is pinned in RuntimePruneSpec via the
    // scan's planned-partition counter.
    "q_runtime_prune_source" -> ((s, dir) => {
      val out = spjTree()
      val dim = s.read.parquet(s"$dir/nation.parquet")
        .filter(col("n_nationkey") % 4 === 0 && col("n_nationkey") < 16)
        .select(format_string("r%02d", col("n_nationkey")).as("region"))
      s.read.format("asciigrid").load(out)
        .select(col("region"), col("ncols"))
        .join(dim, "region")
        .groupBy("region")
        .agg(count(lit(1)).as("n_grids"),
          sum(col("ncols")).cast("bigint").as("total_cols"))
        .orderBy("region")
    }),

    // The FLAGSHIP PATH end to end as a tracked bench row (VERDICT r9
    // item 6): a real etl/Pipeline.run — asciigrid DSv2 scan →
    // filename decode → broadcast dim joins → ×regions cross join →
    // clip+stats → metadata docs → zip/json/catalog SINKS — over the
    // 25-grid tree, returning the written catalog store. Every stage
    // the decomposed q_* queries gate piecewise here runs COMPOSED,
    // with the sinks' I/O in the timed window. The full-cover region
    // boxes make the clip arithmetic closed-form (clip = whole grid),
    // so the oracle rebuilds all 400 catalog rows — names, titles, and
    // clip statistics — from `nation` + the dim CTEs alone. The returned
    // frame reads the written catalog lazily, so the output tree goes at
    // the harness's per-query release, after the caller consumed it.
    "q_pipeline_e2e" -> ((s, dir) => {
      val tree = pipelineTree(s)
      val out = java.nio.file.Files.createTempDirectory("graft_pipe_e2e_")
      QueryCaches.defer(() => SideStores.rmTree(out), s"delete of pipeline output $out")
      val res = graft.etl.Pipeline.run(s, tree, Lookups.fullCoverRegions(s), out.toString,
        updatedAt = "2026-01-01T00:00:00Z")
      res.catalog.select(col("base_name"), col("region_code"),
          col("region_title"), col("new_file_name"), col("clipped_name"),
          col("ncols_out").cast("bigint"), col("nrows_out").cast("bigint"),
          col("n_valid").cast("bigint"), col("n_nodata").cast("bigint"),
          round(col("sum_valid"), 2).as("sum_valid"))
        .orderBy("base_name", "region_code")
    }),

    // SRC-1 as a STREAM (SURVEY §2.9 stretch, VERDICT r9 item 3): the
    // recursive .asc tree consumed by Structured Streaming's file
    // source (binaryFile) with the suffix predicate pushed down as a
    // pathGlobFilter, feeding the SAME decode→rename path as the batch
    // pipeline — filename decode, broadcast dim joins, new_file_name
    // recomposition — plus the content length as proof bytes flowed
    // through the stream. Stateless (no watermark, no state store):
    // each arriving file maps to one output row, the dims broadcast
    // once, so at 100 TB this is the continuous-ingest twin of SRC-1 —
    // new files land, decode, and append with no shuffle. The drain
    // processes every available file then stops (the
    // Trigger.AvailableNow batch-of-a-stream contract). Gate: the
    // on-disk tree is a deterministic manifest subset, so the batch
    // oracle rebuilds rows AND byte counts arithmetically.
    "q_stream_file_ingest" -> ((s, dir) => {
      val tree = streamTree(s, dir)
      val name =
        s"stream_ingest_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      graft.streaming.EventStreams.drainTuned(s, dir) {
        val decoded = Filenames.rename(ascFileStream(s, tree))
          .select(col("region_code"), col("base_name"), col("new_file_name"),
            col("length").cast("bigint").as("n_bytes"))
        graft.streaming.EventStreams.runToCompletion(decoded, name,
            org.apache.spark.sql.streaming.OutputMode.Append())
          .distinct()
          .orderBy("region_code", "base_name")
      }
    }),

    // The reference's conversion loop as a CONTINUOUS service: asc
    // files arrive (Trigger.AvailableNow drain of the pipeline tree),
    // each decodes and re-encodes to a Cloud-Optimized GeoTIFF
    // executor-side, and the stream emits the conversion catalog row —
    // the streaming composition of SRC-1 (file arrival) + OP-SP-2/SNK-1
    // (asc→COG). Per-file task, dims broadcast nowhere, no shuffle: at
    // 100 TB this is the same embarrassingly-parallel shape as the
    // batch converter, running forever. Gate: emitted byte length and
    // whole-pyramid tile count are the writer's closed-form layout, so
    // the oracle rebuilds every row from `nation` + the dim arithmetic
    // (names k%16/k%3/k%17, dims 8+k%5 × 6+k%4, recursive-CTE pyramid)
    // with no filesystem in sight.
    "q_stream_cog_convert" -> ((s, dir) => {
      val tree = pipelineTree(s)
      val name =
        s"stream_cog_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      graft.streaming.EventStreams.drainTuned(s, dir) {
        val convUdf = udf { (content: Array[Byte]) =>
          val g = graft.raster.AsciiGrid.parse(new String(content, "US-ASCII"))
          val tif = graft.raster.GeoTiff.write(g)
          (tif.length.toLong,
            graft.raster.GeoTiff.nTilesAll(g.ncols, g.nrows).toLong,
            g.ncols.toLong, g.nrows.toLong)
        }
        val converted = ascFileStream(s, tree)
          .withColumn("m", convUdf(col("content")))
          .select(col("region_code"), col("base_name"),
            col("m._1").as("tif_bytes"), col("m._2").as("n_tiles_all"),
            col("m._3").as("width"), col("m._4").as("height"))
        graft.streaming.EventStreams.runToCompletion(converted, name,
            org.apache.spark.sql.streaming.OutputMode.Append())
          .orderBy("region_code", "base_name")
      }
    }),

    // The FLAGSHIP PIPELINE as a STREAM (SURVEY §7.6 stretch, VERDICT
    // r16 item 4): Trigger.AvailableNow file source over the .asc tree
    // driving scan → filename decode → broadcast dim joins → ×regions
    // stream-static join → catalog metadata projection, incrementally —
    // the continuous-ingest mode of q_product_catalog. Stateless per
    // file (no watermark, no state store): each arriving grid emits its
    // 16 catalog rows through the SAME catalog projection the
    // batch uses, dims broadcast once, so at 100 TB new grids land and
    // append with no shuffle. Gate: the tree carries exactly the
    // manifest's distinct base_name set, so the drained output
    // hash-matches the batch q_product_catalog oracle — batch ≡ stream,
    // checked by the driver every round.
    "q_stream_pipeline" -> ((s, dir) => {
      val tree = catalogTree(s, dir)
      val name =
        s"stream_pipeline_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      graft.streaming.EventStreams.drainTuned(s, dir) {
        val projected = catalog(Filenames.rename(ascFileStream(s, tree)).select("new_file_name"))
        graft.streaming.EventStreams.runToCompletion(projected, name,
            org.apache.spark.sql.streaming.OutputMode.Append())
          .distinct() // replay safety; the tree is one file per base_name
          .orderBy("file_name")
      }
    }),

    // SRC-3: the feature-service response parsed as a real GeoJSON
    // FeatureCollection (ETL.py:184–187, 265–270): nested
    // features[].properties attributes + features[].geometry.coordinates
    // polygon rings → one region row each, geometry rewritten to WKT by
    // pure higher-order-function expressions (no UDF), display name
    // decoded via the broadcast region dim, region_title derived with
    // the reference's exact string rules (split " Region", "Area…" →
    // Chatham Islands, ETL.py:276–280).
    "q_feature_source" -> ((s, dir) => {
      val dim = broadcast(Lookups.regionDim(s).select(col("code"), col("name")))
      graft.sources.GeoJsonSource.features(s, graft.sources.GeoJsonSource.fixturePath)
        .join(dim, Seq("code"), "left")
        .select(col("code"), col("name"),
          Filenames.normalizeTitle(col("raw_title")).as("region_title"),
          col("gtype"), col("n_rings"), col("n_vertices"), col("wkt"))
        .orderBy("code")
    }),

    // SRC-4: the projected cursor scan (ETL.py:265–267) — the reference
    // cursors exactly ["REGC_code", "REGC_name_ascii", "SHAPE@"] out of
    // the feature layer and touches nothing else. GeoJsonSource.cursor
    // declares that field list as the reader schema, so the scan's
    // ReadSchema carries ONLY the cursored fields — the feature/geometry
    // `type` members are never parsed (CursorProjectSpec pins this on
    // the formatted plan, mirroring PartitionPruningSpec's approach).
    "q_cursor_project" -> ((s, dir) =>
      graft.sources.GeoJsonSource
        .cursor(s, graft.sources.GeoJsonSource.fixturePath,
          Seq("code", "raw_title", "wkt"))
        .orderBy("code")),

    // SNK-4/D5: the full nested metadata document (ETL.py:474–498) —
    // Mongo-extended $date wrappers, GeoJSON Polygon footprint (the
    // envelope ring, closed, in JTS corner order), catalog strings —
    // serialized with to_json(struct(...)). updatedAt is pinned
    // (SURVEY §7.6.3); the bbox derives from the region dim idx so the
    // oracle rebuilds the byte-identical JSON.
    "q_metadata_json" -> ((s, dir) => {
      val regions = Lookups.clipRegions(Lookups.regionDim(s),
        col("idx").cast("double").as("ridx"))
      val params = Lookups.parameterDim(s)
        .select(col("code").as("param_code"), col("name").as("param_name"))
      val x0 = lit(1600000.0) + lit(9000.0) * col("ridx")
      val y0 = lit(5000000.0) + lit(7000.0) * col("ridx")
      val x1 = x0 + lit(3000.0) + lit(500.0) * col("ridx")
      val y1 = y0 + lit(2000.0) + lit(400.0) * col("ridx")
      val coords = array(array(
        array(x0, y0), array(x0, y1), array(x1, y1), array(x1, y0), array(x0, y0)))
      val fileStem = concat(col("param_name"), lit("_Mean_1991-2020_Annual_"),
        col("region_name"))
      params.crossJoin(regions)
        .select(col("param_code"), col("region_code"),
          MetadataJson.product(lit("climate/grids"), fileStem, col("param_name"),
            lit("Mean"), lit("Annual"), Filenames.dashToSpace(col("region_name")),
            coords, lit("2026-01-01T00:00:00Z")).as("metadata_json"))
        .orderBy("param_code", "region_code")
    }),
  )

  private def explodedSidecars(s: SparkSession): DataFrame = {
    import s.implicits._
    sidecarExts.toDF("sidecar_ext")
  }

  /** The product catalog of a `new_file_name` frame: × the clipped
    * regions, each clip's `file_name`, then the catalog metadata
    * projection — the PRJ-7 re-parse of the output naming convention
    * (ETL.py:417–425). ONE definition shared by the batch catalog
    * (q_product_catalog) and its streaming twin (q_stream_pipeline), so
    * batch ≡ stream holds by construction.
    */
  private def catalog(names: DataFrame): DataFrame = {
    val comps = split(col("file_name"), "_")
    val typeParam = Filenames.dashToSpace(element_at(comps, 1))
    val statistic = element_at(comps, 2)
    val period = element_at(comps, 3)
    val monthSeason = element_at(comps, 4)
    val regionStem = element_at(split(element_at(comps, -1), "\\."), 1)
    val regionTitle = Filenames.dashToSpace(regionStem)
    val fileStem = element_at(split(col("file_name"), "\\."), 1)
    val prefix = lit("climate/grids")
    names.crossJoin(Lookups.clipRegions(Lookups.regionDim(names.sparkSession)))
      .withColumn("file_name",
        Filenames.clippedName(col("new_file_name"), col("region_name")))
      .select(
        col("file_name"),
        MetadataJson.src(prefix, fileStem).as("src"),
        prefix.as("product_ref"),
        MetadataJson.title(typeParam, monthSeason, regionTitle).as("title"),
        MetadataJson.description(typeParam, statistic, period, monthSeason,
          regionTitle).as("description"),
        typeParam.as("parameter"),
        monthSeason.as("period"),
        statistic.as("statistic"),
        regionTitle.as("region"),
        lit(MetadataJson.DateMin).as("date_min"),
        lit(MetadataJson.DateMax).as("date_max"),
      )
  }

  /** On-disk .asc tree with ONE file per distinct manifest base_name —
    * the streaming flagship's input (SURVEY §7.6 stretch). The batch
    * catalog is a function of the distinct base_name set alone
    * (renamed → distinct new_file_name × regions), so a tree carrying
    * exactly that set makes the drained stream output EQUAL the batch
    * q_product_catalog rows — the batch ≡ stream equivalence the gate
    * checks. Bounded: base_name is determined by p_partkey mod
    * lcm(16,17,3) = 816, so ≤ 816 files at any SF. Each file lands
    * under its min region dir (the catalog ignores the file's own
    * region — it cross-joins all of them); content is a stub because
    * the catalog is filename algebra (the reference's decode,
    * ETL.py:244–251).
    */
  private[graft] def catalogTree(s: SparkSession, dir: String): String = {
    val out = SideStores.keyedTmpPath("graft_catalog_tree_", dir)
    // staged + atomic rename (ADVICE r17): readers only ever see a
    // complete tree. Fixture materialization only (≤ 816 rows, once
    // per JVM per dir); the measured operator is the stream that
    // READS the tree.
    SideStores.stagedTree(out) { stage =>
      Manifest.build(s, dir)
        .groupBy("base_name").agg(min("region_code").as("region_code"))
        .collect()
        .foreach { r =>
          val sub = new java.io.File(stage.toFile, r.getAs[String]("region_code"))
          sub.mkdirs()
          java.nio.file.Files.writeString(
            sub.toPath.resolve(s"${r.getAs[String]("base_name")}.asc"),
            "asc\n")
          ()
        }
    }
    out
  }

  // ------------------------------------------------------------------
  // DuckDB oracles (driver runs these on the same parquet fixtures).
  // ------------------------------------------------------------------

  private val W = s"WITH ${Manifest.cte}"

  private val renamedSql =
    """renamed AS (
      |  SELECT DISTINCT m.base_name,
      |         pd.name || '_' || split_part(m.base_name, '_', 5) || '_1991-2020_' || td.name AS new_file_name
      |  FROM manifest m
      |  JOIN parameter_dim pd ON pd.code = split_part(m.base_name, '_', 2)
      |  JOIN period_dim td ON td.code = split_part(m.base_name, '_', 7)
      |)""".stripMargin

  /** The batch catalog's oracle — shared verbatim by q_product_catalog
    * and its streaming twin q_stream_pipeline (batch ≡ stream is the
    * gated contract, not a spec-only promise).
    */
  private val productCatalogSql: String =
    s"""$W, $renamedSql,
       |catalog AS (
       |  SELECT r.new_file_name || '_' || rd.name || '.tif' AS file_name
       |  FROM (SELECT DISTINCT new_file_name FROM renamed) r
       |  CROSS JOIN (SELECT code, name FROM region_dim WHERE code <> '99') rd
       |),
       |parsed AS (
       |  SELECT file_name,
       |         replace(split_part(file_name, '_', 1), '-', ' ') AS type_param,
       |         split_part(file_name, '_', 2) AS statistic,
       |         split_part(file_name, '_', 3) AS period_range,
       |         split_part(file_name, '_', 4) AS month_season,
       |         replace(split_part(split_part(file_name, '_', 5), '.', 1), '-', ' ') AS region_title,
       |         split_part(file_name, '.', 1) AS file_stem
       |  FROM catalog
       |)
       |SELECT file_name,
       |       '/climate/grids/' || file_stem || '.zip' AS src,
       |       'climate/grids' AS product_ref,
       |       'Climatology Grid ' || type_param || ' (1991-2020), ' || month_season
       |         || ', Region: ' || region_title AS title,
       |       'This dataset comprises a 500m resolution grid of climatologic normals (averages) for: Parameter: '
       |         || type_param || '; Statistic: ' || statistic || '; Period: ' || period_range
       |         || '; ' || month_season || '; Region: ' || region_title AS description,
       |       type_param AS parameter,
       |       month_season AS period,
       |       statistic AS statistic,
       |       region_title AS region,
       |       '1991-01-01T00:00:00Z' AS date_min,
       |       '2020-12-31T00:00:00Z' AS date_max
       |FROM parsed ORDER BY file_name""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_scan_filter_files" ->
      s"""$W
         |SELECT file_id, region_code, base_name, path FROM manifest
         |WHERE file_name LIKE '%.asc' ORDER BY file_id""".stripMargin,

    "q_group_collect" ->
      s"""$W
         |SELECT base_name, COUNT(*) AS n_files,
         |       string_agg(path, ',' ORDER BY path) AS paths
         |FROM manifest WHERE file_name LIKE '%.asc'
         |GROUP BY base_name ORDER BY base_name""".stripMargin,

    "q_parse_filename" ->
      s"""$W
         |SELECT DISTINCT base_name,
         |       split_part(base_name, '_', 2) AS parameter_code,
         |       split_part(base_name, '_', 5) AS statistic,
         |       split_part(base_name, '_', 7) AS period_token
         |FROM manifest ORDER BY base_name""".stripMargin,

    "q_rename_lookup" ->
      s"""$W, $renamedSql
         |SELECT base_name, new_file_name FROM renamed ORDER BY base_name""".stripMargin,

    // the composed pipeline's catalog rebuilt arithmetically: names
    // from the k%16/k%17/k%3 dim joins, clip stats from the GridGen
    // cell formula (full-cover boxes ⇒ clip = whole grid), ×16
    // clipping regions
    "q_pipeline_e2e" ->
      s"""WITH ${Lookups.parameterCte},
         |${Lookups.periodCte},
         |${Lookups.regionCte},
         |${Lookups.statisticCte},
         |gdims AS (
         |  SELECT n_nationkey, 8 + n_nationkey % 5 AS nc,
         |         6 + n_nationkey % 4 AS nr
         |  FROM nation
         |),
         |gcells AS (
         |  SELECT n_nationkey,
         |         CASE WHEN (13 * i + 7 * n_nationkey) % 11 = 0 THEN -9999.0
         |              ELSE CAST((37 * i + 17 * n_nationkey) % 1000 AS DOUBLE) END AS value
         |  FROM (SELECT *, unnest(generate_series(0, nc * nr - 1)) AS i FROM gdims)
         |),
         |gstats AS (
         |  SELECT n_nationkey,
         |         count(*) FILTER (WHERE value <> -9999.0) AS n_valid,
         |         count(*) FILTER (WHERE value = -9999.0) AS n_nodata,
         |         round(sum(value) FILTER (WHERE value <> -9999.0), 2) AS sum_valid
         |  FROM gcells GROUP BY 1
         |),
         |named AS (
         |  SELECT d.n_nationkey, d.nc, d.nr,
         |         'grid_' || pd.code || '_NZ_norm_' || sd.stat || '_1991-2020_' || td.code AS base_name,
         |         pd.name || '_' || sd.stat || '_1991-2020_' || td.name AS new_file_name
         |  FROM gdims d
         |  JOIN parameter_dim pd ON pd.idx = d.n_nationkey % 16
         |  JOIN period_dim td ON td.idx = d.n_nationkey % 17
         |  JOIN stat_dim sd ON sd.idx = d.n_nationkey % 3
         |)
         |SELECT nm.base_name, rd.code AS region_code,
         |       replace(rd.name, '-', ' ') AS region_title,
         |       nm.new_file_name,
         |       nm.new_file_name || '_' || rd.name || '.tif' AS clipped_name,
         |       CAST(nm.nc AS BIGINT) AS ncols_out,
         |       CAST(nm.nr AS BIGINT) AS nrows_out,
         |       CAST(st.n_valid AS BIGINT) AS n_valid,
         |       CAST(st.n_nodata AS BIGINT) AS n_nodata,
         |       st.sum_valid
         |FROM named nm
         |JOIN gstats st USING (n_nationkey)
         |CROSS JOIN (SELECT code, name FROM region_dim WHERE code <> '99') rd
         |ORDER BY base_name, region_code""".stripMargin,

    // content is "cell <file_id>\n" → 6 + decimal-digit count. Two
    // partkeys CAN share a (region, base_name) path at very large SF;
    // the writer walks ascending file_id and overwrites, so one path =
    // one on-disk file holding the LARGEST file_id's content — the
    // oracle groups per path and takes max(file_id)'s byte count
    // (ADVICE r10: a bare DISTINCT double-counted colliding paths
    // whose file_ids differ in digit count)
    "q_stream_file_ingest" ->
      s"""$W
         |SELECT m.region_code, m.base_name,
         |       pd.name || '_' || split_part(m.base_name, '_', 5) || '_1991-2020_' || td.name AS new_file_name,
         |       CAST(6 + length(CAST(max(m.file_id) AS VARCHAR)) AS BIGINT) AS n_bytes
         |FROM manifest m
         |JOIN parameter_dim pd ON pd.code = split_part(m.base_name, '_', 2)
         |JOIN period_dim td ON td.code = split_part(m.base_name, '_', 7)
         |WHERE m.file_id % 97 = 0 AND m.ext = '.asc'
         |GROUP BY m.region_code, m.base_name, pd.name, td.name
         |ORDER BY region_code, base_name""".stripMargin,

    // names and grid dims from the k-arithmetic; byte lengths from the
    // COG writer's closed-form layout via the SHARED pyramid fragment
    // (RasterQueries.pyramidCtes/pyramidBytesSql — one source of truth
    // with q_geotiff_catalog's oracle)
    "q_stream_cog_convert" ->
      s"""WITH RECURSIVE ${Lookups.parameterCte},
         |${Lookups.periodCte},
         |${Lookups.regionCte},
         |${Lookups.statisticCte},
         |gdims AS (
         |  SELECT n_nationkey, 8 + n_nationkey % 5 AS nc,
         |         6 + n_nationkey % 4 AS nr
         |  FROM nation
         |),
         |${RasterQueries.pyramidCtes("gdims")}
         |SELECT rd.code AS region_code,
         |       'grid_' || pd.code || '_NZ_norm_' || sd.stat || '_1991-2020_' || td.code AS base_name,
         |       CAST(${RasterQueries.pyramidBytesSql} AS BIGINT) AS tif_bytes,
         |       CAST(l.nt_all AS BIGINT) AS n_tiles_all,
         |       CAST(d.nc AS BIGINT) AS width,
         |       CAST(d.nr AS BIGINT) AS height
         |FROM gdims d
         |JOIN layout l USING (n_nationkey)
         |JOIN parameter_dim pd ON pd.idx = d.n_nationkey % 16
         |JOIN period_dim td ON td.idx = d.n_nationkey % 17
         |JOIN stat_dim sd ON sd.idx = d.n_nationkey % 3
         |JOIN region_dim rd ON rd.idx = d.n_nationkey % 17
         |ORDER BY region_code, base_name""".stripMargin,

    "q_broadcast_lookup_join" ->
      s"""$W
         |SELECT m.file_id, pd.name AS parameter_name, td.name AS period_name,
         |       split_part(m.path, '/', 4) AS region_code, rd.name AS region_name
         |FROM manifest m
         |JOIN parameter_dim pd ON pd.code = split_part(m.base_name, '_', 2)
         |JOIN period_dim td ON td.code = split_part(m.base_name, '_', 7)
         |JOIN region_dim rd ON rd.code = split_part(m.path, '/', 4)
         |ORDER BY m.file_id""".stripMargin,

    "q_filter_region" ->
      s"""$W
         |SELECT m.file_id, m.region_code, rd.name AS region_name
         |FROM manifest m JOIN region_dim rd ON rd.code = m.region_code
         |WHERE m.region_code <> '99' ORDER BY m.file_id""".stripMargin,

    "q_title_normalize" ->
      s"""$W
         |SELECT region_code, raw_title,
         |       CASE WHEN split_part(raw_title, ' Region', 1) LIKE 'Area%'
         |            THEN 'Chatham Islands'
         |            ELSE split_part(raw_title, ' Region', 1) END AS title
         |FROM (
         |  SELECT code AS region_code,
         |         CASE WHEN code = '99' THEN 'Area Outside Region'
         |              ELSE replace(name, '-', ' ') || ' Region' END AS raw_title
         |  FROM region_dim
         |) ORDER BY region_code""".stripMargin,

    "q_dash_to_space" ->
      s"""$W
         |SELECT code AS param_code, name AS parameter_name,
         |       replace(name, '-', ' ') AS display_name
         |FROM parameter_dim ORDER BY param_code""".stripMargin,

    "q_cross_join_regions" ->
      s"""$W, $renamedSql
         |SELECT r.new_file_name, rd.code AS region_code, rd.name AS region_name,
         |       r.new_file_name || '_' || rd.name || '.tif' AS clipped_name
         |FROM (SELECT DISTINCT new_file_name FROM renamed) r
         |CROSS JOIN (SELECT code, name FROM region_dim WHERE code <> '99') rd
         |ORDER BY r.new_file_name, region_code""".stripMargin,

    "q_s3_key" ->
      s"""$W
         |SELECT file_id, prefix,
         |       CASE WHEN prefix <> '' THEN trim(prefix, '/') || '/' || zip_name
         |            ELSE zip_name END AS object_key
         |FROM (
         |  SELECT file_id,
         |         CASE CAST(file_id % 4 AS INT)
         |           WHEN 0 THEN '/climate/grids/'
         |           WHEN 1 THEN 'climate/grids'
         |           WHEN 2 THEN '/'
         |           ELSE '' END AS prefix,
         |         base_name || '.zip' AS zip_name
         |  FROM manifest
         |) ORDER BY file_id""".stripMargin,

    "q_zip_group" ->
      s"""$W
         |SELECT b.base_name || '.zip' AS zip_name, COUNT(*) AS n_entries,
         |       string_agg(b.base_name || e.sidecar_ext, ',' ORDER BY b.base_name || e.sidecar_ext) AS entries
         |FROM (SELECT DISTINCT base_name FROM manifest WHERE file_name LIKE '%.asc') b
         |CROSS JOIN (SELECT unnest(${sidecarExts.mkString("['", "','", "']")}) AS sidecar_ext) e
         |WHERE b.base_name || e.sidecar_ext NOT LIKE '%.lock'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_product_catalog" -> productCatalogSql,

    // batch ≡ stream: the drained streaming pipeline must hash-match
    // the batch catalog's oracle, row for row
    "q_stream_pipeline" -> productCatalogSql,

    "q_map_decode" ->
      s"""$W
         |SELECT m.file_id, td.name AS period_name, pd.name AS parameter_name
         |FROM manifest m
         |JOIN period_dim td ON td.code = split_part(m.base_name, '_', 7)
         |JOIN parameter_dim pd ON pd.code = split_part(m.base_name, '_', 2)
         |ORDER BY m.file_id""".stripMargin,

    "q_csv_source" ->
      s"""$W
         |SELECT region_code, count(*) AS n_files,
         |       min(base_name) AS first_base, max(file_id) AS max_file_id
         |FROM manifest GROUP BY region_code ORDER BY region_code""".stripMargin,

    "q_json_source" ->
      s"""$W
         |SELECT region_code, count(*) AS n_asc, min(file_name) AS first_file
         |FROM manifest WHERE file_name LIKE '%.asc'
         |GROUP BY region_code ORDER BY region_code""".stripMargin,

    "q_orc_source" ->
      s"""$W
         |SELECT region_code, count(*) AS n_files, max(base_name) AS last_base
         |FROM manifest GROUP BY region_code ORDER BY region_code""".stripMargin,

    "q_partitioned_source" ->
      s"""$W
         |SELECT region_code, count(*) AS n_files, min(file_id) AS min_file_id
         |FROM manifest WHERE region_code IN ('01', '05', '13')
         |GROUP BY region_code ORDER BY region_code""".stripMargin,

    // generation membership is pure arithmetic on doc_id, so the
    // oracle recomputes the blended read from `documents` directly
    "q_schema_evolution" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_legacy,
        |       CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 0
        |         ELSE n_chars % 97 END) AS BIGINT) AS quality_sum,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // snapshot membership and the changed-quality arm are pure
    // arithmetic on doc_id, so the oracle classifies directly;
    // a doc_id ≡ 0 (mod 97·7) would make the changed arm a no-op on
    // both sides identically (both compute the same CASE)
    "q_snapshot_diff" ->
      """WITH cls AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 5 = 0 THEN 'removed'
        |         WHEN doc_id % 5 = 4 THEN 'added'
        |         WHEN doc_id % 7 = 0
        |              AND (n_chars + doc_id) % 97 <> n_chars % 97
        |           THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents
        |)
        |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
        |FROM cls GROUP BY source, status ORDER BY source, status""".stripMargin,

    // the side tree is pure arithmetic in (region index, grid index) —
    // the oracle recomputes it without touching the files
    "q_spj_source" ->
      """WITH r AS (SELECT unnest(generate_series(0, 15)) AS rr),
        |g AS (SELECT rr, unnest(generate_series(0, rr % 3)) AS k FROM r)
        |SELECT printf('r%02d', rr) AS region,
        |       CAST(sum(rr + k + 1) AS BIGINT) AS total_cols,
        |       CAST(count(*) AS BIGINT) AS n_grids
        |FROM g GROUP BY rr ORDER BY region""".stripMargin,

    // same arithmetic tree, restricted to the nation-dim regions the
    // runtime filter keeps
    "q_runtime_prune_source" ->
      """WITH dim AS (
        |  SELECT n_nationkey AS rr FROM nation
        |  WHERE n_nationkey % 4 = 0 AND n_nationkey < 16
        |),
        |g AS (SELECT rr, unnest(generate_series(0, rr % 3)) AS k FROM dim)
        |SELECT printf('r%02d', rr) AS region,
        |       CAST(count(*) AS BIGINT) AS n_grids,
        |       CAST(sum(rr + k + 1) AS BIGINT) AS total_cols
        |FROM g GROUP BY rr ORDER BY region""".stripMargin,

    // DuckDB reads the SAME FeatureCollection document (extracted to a
    // stable temp path by GeoJsonSource.fixturePath) and re-derives every
    // column: unnest(features), struct field access, list HOFs for the
    // ring→WKT text. Coordinates are half-integer doubles so both
    // engines print identical shortest-repr literals.
    "q_feature_source" -> {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_nz_regional_councils.geojson"
      s"""WITH ${Lookups.regionCte},
         |fc AS (SELECT unnest(features) AS f FROM read_json('$path')),
         |feat AS (
         |  SELECT f.properties.REGC_code AS code,
         |         f.properties.REGC_name_ascii AS raw_title,
         |         f.geometry.type AS gtype,
         |         CAST(len(f.geometry.coordinates) AS BIGINT) AS n_rings,
         |         CAST(list_aggr(list_transform(f.geometry.coordinates, r -> len(r)),
         |              'sum') AS BIGINT) AS n_vertices,
         |         'POLYGON (' ||
         |           list_aggr(list_transform(f.geometry.coordinates, ring -> '(' ||
         |             list_aggr(list_transform(ring, pt -> CAST(pt[1] AS VARCHAR) ||
         |               ' ' || CAST(pt[2] AS VARCHAR)), 'string_agg', ', ') || ')'),
         |             'string_agg', ', ') || ')' AS wkt
         |  FROM fc)
         |SELECT feat.code, r.name,
         |       CASE WHEN raw_title LIKE 'Area%' THEN 'Chatham Islands'
         |            ELSE str_split(raw_title, ' Region')[1] END AS region_title,
         |       gtype, n_rings, n_vertices, wkt
         |FROM feat LEFT JOIN region_dim r ON r.code = feat.code
         |ORDER BY feat.code""".stripMargin
    },

    // the cursor's exact 3 columns off the same document — attribute
    // pair + geometry as WKT, nothing else
    "q_cursor_project" -> {
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_nz_regional_councils.geojson"
      s"""WITH fc AS (SELECT unnest(features) AS f FROM read_json('$path'))
         |SELECT f.properties.REGC_code AS code,
         |       f.properties.REGC_name_ascii AS raw_title,
         |       'POLYGON (' ||
         |         list_aggr(list_transform(f.geometry.coordinates, ring -> '(' ||
         |           list_aggr(list_transform(ring, pt -> CAST(pt[1] AS VARCHAR) ||
         |             ' ' || CAST(pt[2] AS VARCHAR)), 'string_agg', ', ') || ')'),
         |           'string_agg', ', ') || ')' AS wkt
         |FROM fc ORDER BY code""".stripMargin
    },

    // byte-identical reconstruction of to_json(struct(...)): compact
    // separators, struct field order, "1600000.0"-style doubles
    // (DECIMAL(12,1) cast), $date wrappers
    "q_metadata_json" -> {
      val n = (c: String) => s"CAST(CAST($c AS DECIMAL(12,1)) AS VARCHAR)"
      val pt = (xc: String, yc: String) => s"'[' || ${n(xc)} || ',' || ${n(yc)} || ']'"
      s"""WITH ${Lookups.parameterCte}, ${Lookups.regionCte},
         |base AS (
         |  SELECT p.code AS param_code, r.code AS region_code,
         |         replace(p.name, '-', ' ') AS type_param,
         |         replace(r.name, '-', ' ') AS region_title,
         |         p.name || '_Mean_1991-2020_Annual_' || r.name AS file_stem,
         |         1600000.0 + 9000.0 * r.idx AS x0,
         |         5000000.0 + 7000.0 * r.idx AS y0,
         |         1600000.0 + 9000.0 * r.idx + 3000.0 + 500.0 * r.idx AS x1,
         |         5000000.0 + 7000.0 * r.idx + 2000.0 + 400.0 * r.idx AS y1
         |  FROM parameter_dim p CROSS JOIN region_dim r
         |  WHERE r.code <> '99'
         |)
         |SELECT param_code, region_code,
         |       '{"src":"/climate/grids/' || file_stem || '.zip",' ||
         |       '"productRef":"climate/grids",' ||
         |       '"metadata":{' ||
         |       '"title":"Climatology Grid ' || type_param || ' (1991-2020), Annual, Region: ' || region_title || '",' ||
         |       '"description":"This dataset comprises a 500m resolution grid of climatologic normals (averages) for: Parameter: ' ||
         |         type_param || '; Statistic: Mean; Period: 1991-2020; Annual; Region: ' || region_title || '",' ||
         |       '"geojson":{"type":"Polygon","coordinates":[[' ||
         |         ${pt("x0", "y0")} || ',' || ${pt("x0", "y1")} || ',' ||
         |         ${pt("x1", "y1")} || ',' || ${pt("x1", "y0")} || ',' ||
         |         ${pt("x0", "y0")} ||
         |       ']]},' ||
         |       '"dateMin":{"$$date":"1991-01-01T00:00:00Z"},' ||
         |       '"dateMax":{"$$date":"2020-12-31T00:00:00Z"},' ||
         |       '"version":"1.0",' ||
         |       '"updatedAt":{"$$date":"2026-01-01T00:00:00Z"},' ||
         |       '"parameter":"' || type_param || '",' ||
         |       '"period":"Annual",' ||
         |       '"statistic":"Mean",' ||
         |       '"region":"' || region_title || '"}}' AS metadata_json
         |FROM base ORDER BY param_code, region_code""".stripMargin
    },
  )
}
