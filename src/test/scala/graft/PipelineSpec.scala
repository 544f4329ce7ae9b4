package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.ZipFile

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}
import graft.etl.{Lookups, Pipeline}
import graft.raster.{AsciiGrid, GeoTiff, GridGen}

/** End-to-end pipeline golden test (FIXTURES.md §B): synthesizes an
  * .asc input tree following the reference's filename grammar and
  * region-code directory convention, runs the full composed pipeline,
  * and checks catalog, zips, and metadata JSON field-by-field.
  */
class PipelineSpec extends SparkSpecBase {

  private lazy val work = Files.createTempDirectory("graft-pipeline").toString

  // grids 0..2 under region-coded dirs, filenames per the grammar
  private lazy val inputDir: String = {
    val in = Paths.get(work, "in")
    val files = Seq(
      (0, "05", "grid_02_NZ_norm_Mean_1991-2020_monthly7"),
      (1, "13", "grid_00_NZ_norm_Mean_1991-2020_annual"),
      (2, "01", "grid_09_NZ_norm_StdDev_1991-2020_seasonal2"),
    )
    files.foreach { case (k, region, base) =>
      val dir = in.resolve(region)
      Files.createDirectories(dir)
      Files.write(dir.resolve(s"$base.asc"),
        GridGen.genText(k).getBytes(StandardCharsets.UTF_8))
      // a decoy that the glob filter must skip
      Files.write(dir.resolve(s"$base.txt"), "not a grid".getBytes)
    }
    in.toString
  }

  // regions: every code from the reference dim; one big box that covers
  // all test grids, except Marlborough ("18") which is far away (empty
  // clips) — plus "99" which the pipeline must drop.
  private lazy val regionsDf = {
    import spark.implicits._
    Lookups.regions.map { case (code, name) =>
      val rawTitle =
        if (code == "99") "Area Outside Region"
        else name.replace("-", " ") + " Region"
      val wkt =
        if (code == "18")
          "POLYGON ((100000 100000, 110000 100000, 110000 110000, 100000 110000, 100000 100000))"
        else
          "POLYGON ((1590000 4990000, 1700000 4990000, 1700000 5100000, 1590000 5100000, 1590000 4990000))"
      (code, name, rawTitle, wkt)
    }.toDF("code", "name", "raw_title", "wkt")
  }

  private lazy val result = Pipeline.run(
    spark, inputDir, regionsDf, s"$work/out", updatedAt = "2026-01-01T00:00:00Z")

  test("catalog is files × regions (minus code 99)") {
    assert(result.catalog.count() == 3 * 16)
  }

  test("glob filter excluded non-asc files") {
    assert(result.catalog.select("base_name").distinct().count() == 3)
  }

  test("rename follows the reference convention") {
    val names = result.catalog.select("new_file_name").distinct()
      .collect().map(_.getString(0)).toSet
    assert(names == Set(
      "Mean-Air-Temperature_Mean_1991-2020_July",
      "Total-Rainfall_Mean_1991-2020_Annual",
      "Total-Sunshine_StdDev_1991-2020_Autumn"))
  }

  test("covering regions produce full clips, far region empty clips") {
    val far = result.catalog.filter(col("region_code") === "18")
    assert(far.count() == 3)
    assert(far.filter(col("n_valid") =!= 0).count() == 0)
    val near = result.catalog.filter(col("region_code") === "05")
    near.collect().foreach { r =>
      assert(r.getAs[Long]("n_valid") > 0, s"expected valid cells for ${r}")
    }
  }

  test("clip output matches a locally computed clip") {
    val row = result.catalog
      .filter(col("region_code") === "05" &&
        col("base_name") === "grid_02_NZ_norm_Mean_1991-2020_monthly7")
      .head()
    val clippedText = row.getAs[String]("clipped_text")
    val g = AsciiGrid.parse(clippedText)
    // covering box crops nothing: full grid 0 dims
    assert(g.ncols == GridGen.ncols(0) && g.nrows == GridGen.nrows(0))
    val expected = GridGen.gen(0)
    assert(g.values.sameElements(expected.values))
  }

  test("catalog is also written as parquet") {
    result.catalog.count()
    val cat = spark.read.parquet(s"$work/out/catalog.parquet")
    assert(cat.count() == 48)
    assert(cat.columns.contains("clipped_text") && cat.columns.contains("metadata_json"))
  }

  test("zips exist with the sidecar entries plus the GeoTIFF payload") {
    // force sinks to have run
    result.catalog.count()
    val zipDir = Paths.get(s"$work/out/zipped")
    val zips = Files.list(zipDir).iterator()
    var zipCount = 0
    var parsedTifs = 0
    var emptyClips = 0
    zips.forEachRemaining { p =>
      if (p.toString.endsWith(".zip")) {
        zipCount += 1
        val stem = p.getFileName.toString.stripSuffix(".zip")
        val zf = new ZipFile(p.toFile)
        val entries = try {
          zf.entries().asScala.map(e => e.getName -> zf.getInputStream(e).readAllBytes()).toMap
        } finally zf.close()
        val exts = entries.keySet.map(_.replaceAll("^.*?(\\.[a-z.]+)$", "$1"))
        assert(exts == Set(".asc", ".wld", ".stats.txt", ".tif"), s"entries in $p: $exts")
        // the .wld and .tif are exactly what the zipped .asc derives to
        val asc = AsciiGrid.parse(new String(entries(s"$stem.asc"), StandardCharsets.UTF_8))
        val wld = new String(entries(s"$stem.wld"), StandardCharsets.UTF_8)
        val tifBytes = entries(s"$stem.tif")
        if (asc.ncols == 0 || asc.nrows == 0) {
          assert(wld.isEmpty && tifBytes.isEmpty, s"empty clip with a payload in $p")
          emptyClips += 1
        } else {
          assert(wld == s"${asc.cellsize}\n0.0\n0.0\n-${asc.cellsize}\n" +
            s"${asc.centerX(0)}\n${asc.centerY(0)}\n", s"world file drift in $p")
          assert(tifBytes.sameElements(GeoTiff.write(asc, srid = 2193)), s"GeoTIFF drift in $p")
          // non-empty clip → the payload is a decodable GeoTIFF whose
          // pixels match the zipped .asc sidecar
          val tif = GeoTiff.read(tifBytes)
          assert(tif.srid == 2193)
          assert(tif.grid.ncols == asc.ncols && tif.grid.nrows == asc.nrows)
          assert(tif.grid.values.sameElements(asc.values),
            s"pixel drift between zipped .tif and .asc in $p")
          parsedTifs += 1
        }
      }
    }
    assert(zipCount == 48, s"expected 48 zips, got $zipCount")
    assert(parsedTifs == 45 && emptyClips == 3, s"$parsedTifs non-empty, $emptyClips empty clips")
  }

  test("one foreachPartition job writes every product's zip and json") {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val group = s"graft-sink-pass-${java.util.UUID.randomUUID()}"
    // AQE builds the persisted frame in a job of its own under the first
    // action's call site; that job's final RDD is the cached one and it
    // writes nothing, so it is not counted as a sink job
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group) {
          val result = e.stageInfos.maxBy(_.stageId)
          if (!result.rddInfos.maxBy(_.id).storageLevel.isValid)
            sites.add(e.properties.getProperty("callSite.short", result.name))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = s"$work/out-sink-pass"
    val stems = try {
      spark.sparkContext.setJobGroup(group, "sink pass")
      val stems = Pipeline.run(spark, inputDir, regionsDf, out, updatedAt = "2026-01-01T00:00:00Z")
        .catalog.select("file_stem").collect().map(_.getString(0)).toSet
      eventually(timeout(Span(30, Seconds))) {
        assert(sites.asScala.exists(_.startsWith("parquet at")), s"jobs seen: $sites")
      }
      stems
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    val writers = sites.asScala.filter(_.startsWith("foreachPartition"))
    assert(writers.size == 1, s"sink jobs in one run: $writers (all jobs: $sites)")
    val written = Files.list(Paths.get(out, "zipped")).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(stems.size == 48)
    assert(written == stems.flatMap(s => Set(s"$s.zip", s"$s.json")))
  }

  test("zip and json files get the local filesystem's permission bits") {
    result.catalog.count()
    val probe = Files.createTempDirectory("graft-perm-probe").resolve("probe")
    val o = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .create(new Path(s"file:$probe"), true)
    o.close()
    val expected = Files.getPosixFilePermissions(probe)
    val files = Files.list(Paths.get(s"$work/out/zipped")).iterator().asScala.toSeq
    assert(files.size == 96)
    files.foreach { p =>
      assert(Files.getPosixFilePermissions(p) == expected, s"permissions of $p")
    }
  }

  test("source stage: asciigrid DSv2 scan, columns pruned, region scope pushed to listing") {
    val src = Pipeline.sourceFiles(spark, inputDir, srcRegion = Some("05"))
    val plan = src.queryExecution.executedPlan
    // the region-directory contains-predicate reaches the DSv2 listing
    // (pushed filter — directories outside the code never open); the
    // exact parent-dir equality stays as a residual row filter. The
    // /05/ literal must sit INSIDE the PushedFilters bracket — finding
    // it anywhere in the plan would also match the residual Filter and
    // silently un-pin the listing-time claim.
    val p = plan.toString
    val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p)
    assert(pushed.exists(_.contains("/05/")),
      s"path scope should be pushed to the listing, got $pushed in:\n$p")
    assert(src.count() == 1, "only region 05's grid should be listed")

    // the pipeline's own read: header columns plus the parsed cells,
    // never the raw text the per-pair product would have to re-parse
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(spark, inputDir, regionsDf, s"$work/out-read-schema",
        updatedAt = "2026-01-01T00:00:00Z", srcRegion = Some("05"))
      val readSchema = "asciigrid scan, ReadSchema: (struct<[^>]*>+)".r
      eventually(timeout(Span(30, Seconds))) {
        val schemas = plans.asScala.flatMap(readSchema.findAllMatchIn(_).map(_.group(1))).toSet
        assert(schemas == Set("struct<path:string,ncols:int,nrows:int,xllcorner:double," +
          "yllcorner:double,cellsize:double,nodata:double,values:array<double>>"),
          s"pipeline scans read: $schemas")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("decode joins broadcast-hash, the region side broadcast-nested-loop") {
    // every physical node of an executed plan, through AQE stages and
    // into a cached relation's own plan
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(spark, inputDir, regionsDf, s"$work/out-plan",
        updatedAt = "2026-01-01T00:00:00Z")
      eventually(timeout(Span(30, Seconds))) {
        // the zip/json pass and the catalog write both read the persisted
        // product frame, whose plan holds every join of the run
        val joined = plans.asScala.toSeq.map(nodes)
          .filter(_.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
        assert(joined.size == 2, s"plans with the region join: ${plans.asScala.mkString("\n\n")}")
        joined.foreach { ns =>
          val joins = ns.collect { case j: BaseJoinExec => j.nodeName }
          assert(joins.sorted == Seq("BroadcastHashJoin", "BroadcastHashJoin",
            "BroadcastNestedLoopJoin"), s"joins of a run: $joins in\n${ns.head}")
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("region-scoped run processes only that source directory") {
    val out = s"$work/out-scoped"
    val res = Pipeline.run(spark, inputDir, regionsDf, out,
      updatedAt = "2026-01-01T00:00:00Z", srcRegion = Some("13"))
    // 1 source file × 16 regions
    assert(res.catalog.count() == 16)
    assert(res.catalog.select("base_name").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("grid_00_NZ_norm_Mean_1991-2020_annual"))
  }

  test("observe() metrics ride the run's own materialization") {
    result.catalog.count() // ensure the run executed
    val m = result.metrics
    assert(m("n_products") == 48L, s"metrics: $m")
    assert(m("n_source_files") == 3L && m("n_regions") == 16L, s"metrics: $m")
    // region 18 is far away: its 3 products clip empty
    assert(m("n_nonempty_clips") == 45L, s"metrics: $m")
  }

  test("metadata json has the reference's nested shape") {
    val docPaths = Files.list(Paths.get(s"$work/out/zipped")).iterator()
    var checked = false
    docPaths.forEachRemaining { p =>
      if (p.toString.endsWith("_Gisborne.json") && p.toString.contains("Mean-Air-Temperature")) {
        val doc = spark.read.option("multiLine", true).json(p.toString)
        val r = doc.head()
        val md = r.getAs[org.apache.spark.sql.Row]("metadata")
        assert(md.getAs[String]("title") ==
          "Climatology Grid Mean Air Temperature (1991-2020), July, Region: Gisborne")
        assert(md.getAs[String]("parameter") == "Mean Air Temperature")
        assert(md.getAs[String]("period") == "July")
        assert(md.getAs[String]("statistic") == "Mean")
        assert(md.getAs[String]("region") == "Gisborne")
        val dateMin = md.getAs[org.apache.spark.sql.Row]("dateMin")
        assert(dateMin.getAs[String]("$date") == "1991-01-01T00:00:00Z")
        val up = md.getAs[org.apache.spark.sql.Row]("updatedAt")
        assert(up.getAs[String]("$date") == "2026-01-01T00:00:00Z")
        val src = r.getAs[String]("src")
        assert(src.startsWith("/climate/grids/") && src.endsWith(".zip"))
        checked = true
      }
    }
    assert(checked, "expected a Gisborne Mean-Air-Temperature doc")
  }
}
