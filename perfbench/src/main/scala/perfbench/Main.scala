package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Filenames, Lookups, MetadataJson, Pipeline}
import graft.geo.{GeoUdfs, Jts}
import graft.raster.{AsciiGrid, GeoTiff, RasterOps}
import graft.sources.GeoJsonSource

/** One benchmark run of a pipeline workload: set up, then run
  * `Pipeline.run` back to back (a closed loop, one run at a time) for the
  * given number of seconds, checking every run's outputs. With tracing,
  * untraced and traced runs alternate (at least three of each), then the
  * layer probes and the query mix run.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --result FILE --spans FILE
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    Inputs.shape(workload)

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sinks.S3Sink.disableLocalWriteChecksums(spark)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    try {
      val r = new Run(spark, workload, seed, seconds, traced, work, cpus)
      val out = r.execute(sessionS)
      val spansPath = Paths.get(o("spans"))
      if (traced) r.trace.write(spansPath)
      Files.write(Paths.get(o("result")), out.getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}

final class Run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    traced: Boolean, work: Path, cpus: Int) {
  val trace = new Trace
  private val layer = new SparkLayer
  private val nanoMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val notes = mutable.LinkedHashMap.empty[String, String]
  private val UpdatedAt = "2026-01-01T00:00:00Z"
  private val MinTracePairs = 3

  private def now = System.nanoTime()
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def execute(sessionS: Double): String = {
    // set-up: input generation three times (median), then two warm-up runs
    val gens = (0 until 3).map { k =>
      val dir = work.resolve(s"inputs$k")
      Tree.rm(dir)
      val t0 = now
      val in = Inputs.generate(workload, seed, dir)
      ((now - t0) / 1e9, in)
    }
    val inputs = gens.last._2
    gens.init.foreach { case (_, in) => Tree.rm(in.gridDir.getParent) }
    val deterministic = gens.map(_._2.digest).distinct.size == 1
    val regionsDf = GeoJsonSource.regions(spark, inputs.regionsPath.toString)
    val warmS = warmUp(inputs, regionsDf)
    val setupS = sessionS + median(gens.map(_._1)) + warmS
    notes("setup_parts_s") = s"session $sessionS, generate ${gens.map(_._1).mkString("/")}, warm-up $warmS"

    val (expected, boundaryCells) = expectations(inputs)
    val allNames = (for (g <- inputs.grids; r <- inputs.regions) yield g.clippedName(r)).toSet
    val stems = allNames.map(_.stripSuffix(".tif"))
    notes("inputs_deterministic") = deterministic.toString
    notes("checked_products") = expected.size.toString
    notes("boundary_cell_centres") = boundaryCells.toString
    val regionProblems = validateRegions(inputs)
    notes("region_problems") = regionProblems.mkString("; ")

    val heap = new HeapPeak
    val iters = mutable.ArrayBuffer.empty[Iter]
    // the window counts run time only; checks between runs are untimed
    while (iters.isEmpty || (traced && iters.size < 2 * MinTracePairs) || iters.map(_.wallS).sum < seconds) {
      // untraced and traced runs in the order U T T U: a trend across the
      // window (the JIT still warming) then falls on both sides alike
      val withTrace = traced && Seq(false, true, true, false)(iters.size % 4)
      iters += iteration(iters.size, inputs, regionsDf, allNames, stems, expected, heap, withTrace)
    }
    notes("iterations") = iters.size.toString
    notes("walls_s") = iters.map(i => Json.num(i.wallS)).mkString(",")

    val layerMetrics =
      if (!traced) Nil
      else {
        val (plain, withTrace) = iters.partition(_.layers.isEmpty)
        notes("trace_pairs") = s"${plain.size} untraced, ${withTrace.size} traced"
        withTrace.head.layers.keys.toSeq.map { k =>
          (k, median(withTrace.map(_.layers(k))), LayerUnits(k))
        } ++ probes(inputs) :+
          ("trace.overhead_s", median(withTrace.map(_.wallS)) - median(plain.map(_.wallS)), "s")
      }
    val conf = spark.sparkContext.getConf.getAll.sorted
      .filterNot(_._1.matches("spark\\.(app\\.(id|startTime)|driver\\.(host|port)|executor\\.id)"))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    // last: the oracle dump stops the session
    val mix = if (traced) Some(new QueryMix(spark, trace, work, seed).run()) else None
    mix.foreach(m => notes ++= m.notes)

    val attempted = iters.size * inputs.products + mix.fold(0)(_.attempted)
    val failed = iters.map(_.failed).sum + mix.fold(0)(_.failed)
    val correct = failed == 0 && deterministic && regionProblems.isEmpty && boundaryCells > 0

    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val wall = median(iters.map(_.wallS))
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wall, "s"),
          ("products_per_s", inputs.products / wall, "1/s"),
          ("cells_per_s", inputs.sourceCells * inputs.regions.size / wall, "1/s"),
          ("cpu_s", median(iters.map(_.cpuS)), "s"),
          ("out_bytes", median(iters.map(_.outBytes.toDouble)), "B"),
          ("out_files", median(iters.map(_.outFiles.toDouble)), "count"),
          ("peak_heap_mb", median(iters.map(_.heapMb)), "MB"))
      } else layerMetrics ++ mix.get.metrics
    val m = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    val n = notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    val jvm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.mkString(" ")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${m.mkString(",")}},""" +
      s""""stamp":{"workload":${Json.str(workload)},"seed":$seed,""" +
      s""""input_digest":${Json.str(inputs.digest)},"nproc":$cpus,""" +
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"jvm_args":${Json.str(jvm)},""" +
      s""""spark_conf":{${conf.mkString(",")}}},"notes":{${n.mkString(",")}}}"""
  }

  /** Two untimed runs over the workload's own inputs, so classes load,
    * code is generated and the JIT compiles before anything is timed (after
    * one run the next is still 10–30% slower). A traced run, whose numbers
    * carry no bound and which must leave time for the query mix, makes one.
    */
  private def warmUp(inputs: Inputs, regionsDf: DataFrame): Double = {
    val dir = work.resolve("warm")
    val t0 = now
    (0 until (if (traced) 1 else 2)).foreach { _ =>
      Tree.rm(dir)
      run(inputs, regionsDf, dir).catalog.count()
    }
    val s = (now - t0) / 1e9
    Tree.rm(dir)
    s
  }

  /** Reference rows for the checked products: every product of
    * `small_products`, and for `paper_catalog` the products whose grid
    * and region indices sum to a multiple of 16 (every grid and every
    * region appear).
    */
  private def expectations(inputs: Inputs): (Map[String, Oracle.Expect], Long) = {
    val small = Inputs.shape(workload).smallGrids
    var onBoundary = 0L
    val rows = for {
      (g, gi) <- inputs.grids.zipWithIndex
      values = inputs.field.values(g)
      (r, ri) <- inputs.regions.zipWithIndex
      if small || (gi + ri) % 16 == 0
    } yield {
      val (e, b) = Oracle.clip(g, values, inputs.field.Nodata, r)
      onBoundary += b
      e.name -> e
    }
    (rows.toMap, onBoundary)
  }

  /** JTS must see every generated region as a valid polygon, and the
    * regions must tile the extent (areas sum to it).
    */
  private def validateRegions(inputs: Inputs): Seq[String] = {
    val geoms = inputs.regions.map(r => r -> Jts.parseWkt(wkt(r)))
    val invalid = geoms.collect { case (r, g) if !g.isValid => s"region ${r.code} is not a valid polygon" }
    val area = geoms.map(_._2.getArea).sum
    val full = Inputs.W.toDouble * Inputs.H
    invalid ++ (if (math.abs(area - full) > 1e-6 * full) Seq(s"regions cover $area of $full m2") else Nil)
  }

  private def wkt(r: Region): String =
    r.xs.indices.map(k => s"${r.xs(k)} ${r.ys(k)}").mkString("POLYGON ((", ", ", "))")

  private def iteration(k: Int, inputs: Inputs, regionsDf: DataFrame, allNames: Set[String],
      stems: Set[String], expected: Map[String, Oracle.Expect], heap: HeapPeak,
      withTrace: Boolean): Iter = {
    val out = work.resolve(s"out$k")
    Tree.rm(out)
    if (withTrace) { layer.reset(); spark.sparkContext.addSparkListener(layer) }
    System.gc() // each run starts from the same heap: no garbage carried over
    heap.reset()
    val cpu0 = processCpuNs
    val t0 = now
    val result = util.Try(
      if (withTrace) trace.span("etl.Pipeline.run")(run(inputs, regionsDf, out))
      else run(inputs, regionsDf, out))
    val wall = (now - t0) / 1e9
    val cpu = (processCpuNs - cpu0) / 1e9
    val heapMb = heap.peakMb

    val layers = if (!withTrace) Map.empty[String, Double] else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(layer)
      layerMetrics(wall, out, result.toOption.map(_.metrics).getOrElse(Map.empty))
    }
    val (bytes, files) = Tree.sizeAndCount(out)
    val failed = result match {
      case util.Failure(e) =>
        notes(s"run${k}_error") = e.toString
        inputs.products
      case util.Success(res) =>
        // an output the checks cannot even read fails every product
        util.Try {
          val rows = res.catalog
            .select("clipped_name", "ncols_out", "nrows_out", "n_valid", "n_nodata", "sum_valid")
            .collect().toSeq.map(r => Oracle.Expect(r.getString(0), r.getInt(1), r.getInt(2),
              r.getLong(3), r.getLong(4), r.getDouble(5)))
          Oracle.catalogFailures(rows, allNames, expected).map(_.stripSuffix(".tif")) ++
            Oracle.sinkFailures(out.resolve("zipped"), stems)
        } match {
          case util.Success(bad) =>
            if (bad.nonEmpty) notes(s"run${k}_failed_sample") = bad.toSeq.sorted.take(5).mkString(",")
            math.min(bad.size.toLong, inputs.products)
          case util.Failure(e) =>
            notes(s"run${k}_check_error") = e.toString
            inputs.products
        }
    }
    Tree.rm(out)
    Iter(wall, cpu, heapMb, bytes, files, failed, layers)
  }

  private def run(inputs: Inputs, regionsDf: DataFrame, out: Path): Pipeline.Result =
    Pipeline.run(spark, inputs.gridDir.toString, regionsDf, out.toString, UpdatedAt)

  /** Per-layer numbers of one traced run, from the listener and the
    * output tree. The listener's jobs become child spans of the run.
    */
  private def layerMetrics(wall: Double, out: Path, obs: Map[String, Any]): Map[String, Double] = {
    val l = layer
    val parent = trace.lastId("etl.Pipeline.run")
    l.jobs.values.foreach { j =>
      trace.add(s"spark.job ${j.callSite}", parent,
        j.startMs * 1000000L + nanoMinusMs, j.endMs * 1000000L + nanoMinusMs)
    }
    val zipped = out.resolve("zipped")
    val names = Tree.list(zipped)
    def sizeOf(suffix: String) = names.filter(_.getFileName.toString.endsWith(suffix))
    val zips = sizeOf(".zip")
    def num(k: String) = obs.get(k).map(_.toString.toDouble).getOrElse(0.0)
    Map(
      "spark.jobs" -> l.jobs.size.toDouble,
      "spark.stages" -> l.stages.toDouble,
      "spark.tasks" -> l.tasks.toDouble,
      "spark.driver_s" -> (wall - l.jobUnionSeconds),
      "spark.executor_run_s" -> l.runMs / 1e3,
      "spark.executor_cpu_s" -> l.cpuNs / 1e9,
      "spark.gc_s" -> l.gcMs / 1e3,
      "spark.core_util" -> l.runMs / 1e3 / (wall * cpus),
      "spark.task_skew" -> l.taskSkew,
      "spark.shuffle_read_bytes" -> l.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> l.shuffleWrite.toDouble,
      "spark.spill_bytes" -> l.spill.toDouble,
      "spark.peak_exec_mem_mb" -> l.peakExecMem / 1048576.0,
      "spark.cache_bytes" -> l.peakCache.toDouble,
      "etl.nonempty_share" -> num("n_nonempty_clips") / math.max(1.0, num("n_products")),
      "sinks.zip_s" -> l.jobSeconds("ZipSink"),
      "sinks.json_s" -> l.jobSeconds("foreachPartition at Pipeline"),
      "sinks.catalog_s" -> l.jobSeconds("parquet at Pipeline"),
      "sinks.zip_files" -> zips.size.toDouble,
      "sinks.zip_bytes" -> zips.map(p => Files.size(p)).sum.toDouble,
      "sinks.json_files" -> sizeOf(".json").size.toDouble,
      "sinks.catalog_files" -> Tree.sizeAndCount(out.resolve("catalog.parquet"))._2.toDouble)
  }

  /** Module probes over the workload's own grids and regions, each phase
    * under its own span. Kernel times are summed over calls made from
    * `cpus` threads.
    */
  private def probes(inputs: Inputs): Seq[(String, Double, String)] = {
    val gridDir = inputs.gridDir.toString
    val (files, chars, scanS) = timed(trace.span("sources.Pipeline.sourceFiles") {
      val r = Pipeline.sourceFiles(spark, gridDir)
        .agg(count(lit(1)), sum(length(col("text")))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }) match { case ((f, c), s) => (f, c, s) }
    val (regionRows, regionsS) = timed(trace.span("sources.GeoJsonSource.regions") {
      GeoJsonSource.regions(spark, inputs.regionsPath.toString).collect()
    })
    val dims = broadcast(GeoJsonSource.regions(spark, inputs.regionsPath.toString)
      .filter(col("code") =!= "99")
      .select(col("code").as("region_code"), col("name").as("region_name"),
        Filenames.normalizeTitle(col("raw_title")).as("region_title"),
        col("wkt").as("region_wkt")))
    val (_, decodeS) = timed(trace.span("etl.decode") {
      decodedPairs(gridDir, dims).agg(count(lit(1)), sum(length(col("text")))).collect()
    })
    val (_, metadataS) = timed(trace.span("etl.metadata") {
      metadata(decodedPairs(gridDir, dims).drop("text"))
        .agg(sum(length(col("metadata_json"))), sum(length(col("geojson_str")))).collect()
    })

    val pool = Executors.newFixedThreadPool(cpus)
    def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) })).map(_.get())
    try {
      val texts = inputs.grids.map(g => new String(Files.readAllBytes(
        inputs.gridDir.resolve(s"${g.dir}/${g.fileName}")), StandardCharsets.US_ASCII))
      val parsed = trace.span("raster.AsciiGrid.parse") {
        parallel(texts)(t => timed(AsciiGrid.parse(t)))
      }
      val wkts = regionRows.filter(_.getAs[String]("code") != "99").map(_.getAs[String]("wkt")).toSeq
      val pairs = for (g <- parsed.map(_._1); w <- wkts) yield (g, w)
      val geo = trace.span("geo.Jts") {
        parallel(pairs) { case (_, w) =>
          val (geom, parseS) = timed(Jts.parseWkt(w))
          val (_, reprojS) = timed {
            Jts.reprojectToWgs84(geom)
            Jts.reprojectToWgs84(Jts.envelopePolygon(geom))
          }
          (parseS, reprojS)
        }
      }
      val kernels = trace.span("raster.RasterOps") {
        parallel(pairs) { case (g, w) =>
          val geom = Jts.parseWkt(w)
          val (clipped, clipS) = timed(RasterOps.clip(g, geom))
          val (st, statsS) = timed(RasterOps.stats(clipped))
          val (_, asciiS) = timed(AsciiGrid.write(clipped))
          val (tif, tifS) =
            if (clipped.ncols == 0) (Array.emptyByteArray, 0.0)
            else timed(GeoTiff.write(clipped, srid = 2193))
          (clipS, st.nValid, statsS, asciiS, tifS, tif.length.toLong)
        }
      }
      val cells = inputs.sourceCells.toDouble
      Seq(
        ("sources.scan_s", scanS, "s"),
        ("sources.files", files.toDouble, "count"),
        ("sources.bytes_read", chars.toDouble, "B"),
        ("sources.regions_s", regionsS, "s"),
        ("etl.decode_s", decodeS, "s"),
        ("etl.metadata_s", metadataS, "s"),
        ("raster.parse_s", parsed.map(_._2).sum, "s"),
        ("raster.parse_ns_per_cell", parsed.map(_._2).sum * 1e9 / cells, "ns"),
        ("raster.clip_s", kernels.map(_._1).sum, "s"),
        ("raster.clip_ns_per_cell", kernels.map(_._1).sum * 1e9 / (cells * wkts.size), "ns"),
        ("raster.clip_cells_kept", kernels.map(_._2).sum.toDouble, "count"),
        ("raster.stats_s", kernels.map(_._3).sum, "s"),
        ("raster.ascii_write_s", kernels.map(_._4).sum, "s"),
        ("raster.geotiff_write_s", kernels.map(_._5).sum, "s"),
        ("raster.geotiff_bytes", kernels.map(_._6).sum.toDouble, "B"),
        ("geo.wkt_parse_s", geo.map(_._1).sum, "s"),
        ("geo.reproject_s", geo.map(_._2).sum, "s"))
    } finally pool.shutdown()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A copy of the pipeline's decode, rename and cross-join frame, rebuilt
    * from the public `Filenames` and `Lookups` functions `Pipeline.run`
    * composes. It must be kept in step with Pipeline.scala by hand.
    */
  private def decodedPairs(gridDir: String, dims: DataFrame): DataFrame = {
    val pDim = broadcast(Lookups.parameterDim(spark)
      .select(col("code").as("parameter_code"), col("name").as("parameter_name")))
    val tDim = broadcast(Lookups.periodDim(spark)
      .select(col("code").as("period_token"), col("name").as("period_name")))
    Pipeline.sourceFiles(spark, gridDir)
      .withColumn("file_name", element_at(split(col("path"), "/"), -1))
      .withColumn("base_name", element_at(split(col("file_name"), "\\.asc$"), 1))
      .withColumn("parameter_code", Filenames.parameterCode(col("base_name")))
      .withColumn("statistic", Filenames.statistic(col("base_name")))
      .withColumn("period_token", Filenames.periodToken(col("base_name")))
      .join(pDim, "parameter_code")
      .join(tDim, "period_token")
      .withColumn("new_file_name",
        Filenames.newFileName(col("parameter_name"), col("statistic"), col("period_name")))
      .crossJoin(dims)
      .withColumn("clipped_name", Filenames.clippedName(col("new_file_name"), col("region_name")))
  }

  private val ringCoords = udf { (w: String) =>
    val ring = Jts.exteriorRing(Jts.reprojectToWgs84(Jts.envelopePolygon(Jts.parseWkt(w))))
    Array(ring.map { case (x, y) => Array(math.rint(x * 1e6) / 1e6, math.rint(y * 1e6) / 1e6) })
  }

  /** A copy of the pipeline's metadata document and reprojected footprint
    * of every pair, including its private `ringCoords`; kept in step with
    * Pipeline.scala by hand.
    */
  private def metadata(pairs: DataFrame): DataFrame = {
    val typeParam = Filenames.dashToSpace(col("parameter_name"))
    pairs
      .withColumn("geojson_str", GeoUdfs.st_reproject_geojson(col("region_wkt")))
      .withColumn("metadata_json", MetadataJson.doc(
        prefix = lit("climate/grids"),
        fileStem = element_at(split(col("clipped_name"), "\\.tif$"), 1),
        title = MetadataJson.title(typeParam, col("period_name"), col("region_title")),
        description = MetadataJson.description(typeParam, col("statistic"),
          lit("1991-2020"), col("period_name"), col("region_title")),
        coords = ringCoords(col("region_wkt")),
        parameter = typeParam,
        period = col("period_name"),
        statistic = col("statistic"),
        region = col("region_title"),
        updatedAt = lit(UpdatedAt)))
  }
}

/** One timed pipeline run: its measurements, failed products, and the
  * per-layer numbers when it was traced.
  */
final case class Iter(wallS: Double, cpuS: Double, heapMb: Double, outBytes: Long,
    outFiles: Long, failed: Long, layers: Map[String, Double])

/** Peak heap in use after each garbage collection, from GC notifications. */
final class HeapPeak {
  private val peak = new AtomicLong(0)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = peak.set(0)

  /** Falls back to the heap in use now when no collection ran. */
  def peakMb: Double = {
    val p = peak.get
    (if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

/** Units of the per-layer metrics that come from traced runs. */
object LayerUnits {
  def apply(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes")) "B"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_share") || name.endsWith("_util") || name.endsWith("_skew")) "ratio"
    else "count"
}

/** Small file-tree helpers. */
object Tree {
  def rm(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }

  /** Total bytes and count of the regular files under `p`. */
  def sizeAndCount(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
}
