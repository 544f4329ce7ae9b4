package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.queries._

/** The query layers of a traced run: a fixed list of `SparkEntry.queries`
  * over a seeded query fixture, one query at a time, each consumed the way
  * `graft.Bench` consumes it. Its own Spark and streaming listeners give
  * the driver and streaming numbers. Afterwards `graft.Verify` dumps the
  * same queries' results and oracle SQL for the DuckDB check, which the
  * caller runs; the dump stops the Spark session, so this runs last.
  */
final class QueryMix(spark: SparkSession, trace: Trace, work: Path, seed: Long) {
  import QueryMix._

  private val fixtureDir: Path = work.resolve("fixture")
  private val verifyDir: Path = work.resolve("verify")

  def run(): QueryMix.Result = {
    val notes = mutable.LinkedHashMap.empty[String, String]
    val t0 = System.nanoTime()
    notes("query_fixture_digest") = Fixture.generate(spark, seed, fixtureDir)
    notes("query_fixture_s") = ((System.nanoTime() - t0) / 1e9).toString

    val layer = new SparkLayer
    val stream = new StreamLayer
    spark.sparkContext.addSparkListener(layer)
    spark.streams.addListener(stream)
    val loop0 = System.nanoTime()
    val times = Listed.map { name =>
      val q0 = System.nanoTime()
      val err = util.Try(trace.span(s"queries.$name") {
        SparkEntry.queries(name)(spark, fixtureDir.toString).queryExecution.toRdd.count()
      }).failed.toOption
      val s = (System.nanoTime() - q0) / 1e9
      QueryCaches.releaseAll(spark) // untimed, as in graft.Bench
      err.foreach(e => notes(s"query_error_$name") = e.toString.take(300))
      (name, s, err.isEmpty)
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(stream)
    spark.sparkContext.removeSparkListener(layer)

    graft.Verify.main(Array(fixtureDir.toString, verifyDir.toString, Listed.mkString(",")))
    val verifyErrors = util.Try(new String(Files.readAllBytes(verifyDir.resolve("errors.json")),
      StandardCharsets.UTF_8)).getOrElse("missing")
    if (verifyErrors != "{}") notes("query_verify_errors") = verifyErrors.take(500)
    // a fixture the program refuses, or no dump at all, fails every query
    val failedNames =
      if (verifyErrors == "missing" || verifyErrors.contains("_fixture_contract")) Listed.toSet
      else times.collect { case (n, _, false) => n }.toSet ++
        Listed.filter(n => verifyErrors.contains(Json.str(n)))
    notes("queries") = Listed.mkString(",")
    notes("queries_failed") = Listed.filter(failedNames).mkString(",")

    val secs = times.map(_._2).sorted
    def quantile(p: Double): Double = secs(math.min(secs.size - 1, (p * secs.size).toInt))
    val perPack = Packs.map { case (pack, qs) =>
      (s"queries.${pack}_s", times.collect { case (n, s, _) if qs.contains(n) => s }.sum, "s")
    }
    val metrics = perPack ++ Seq(
      ("queries.p50_s", quantile(0.5), "s"),
      ("queries.p80_s", quantile(0.8), "s"),
      ("queries.jobs", layer.jobs.size.toDouble, "count"),
      ("queries.driver_s", loopS - layer.jobUnionSeconds, "s"),
      ("streaming.batches", stream.batches.toDouble, "count"),
      ("streaming.add_batch_s", stream.ms("addBatch") / 1e3, "s"),
      ("streaming.planning_s", stream.ms("queryPlanning") / 1e3, "s"),
      ("streaming.wal_commit_s", stream.ms("walCommit") / 1e3, "s"))
    Result(metrics, Listed.size, failedNames.size, notes.toMap)
  }
}

object QueryMix {
  final case class Result(metrics: Seq[(String, Double, String)], attempted: Int, failed: Int,
      notes: Map[String, String])

  /** Every pack `SparkEntry` registers, by name. */
  val Packs: Seq[(String, Set[String])] = Seq(
    "etl" -> EtlQueries.queries.keySet,
    "relational" -> RelationalQueries.queries.keySet,
    "geo" -> GeoQueries.queries.keySet,
    "raster" -> RasterQueries.queries.keySet,
    "dedup" -> DedupQueries.queries.keySet,
    "similarity" -> SimilarityQueries.queries.keySet,
    "text" -> TextQueries.queries.keySet,
    "multimodal" -> MultimodalQueries.queries.keySet,
    "event" -> EventQueries.queries.keySet)

  /** At least one query of every pack, every streaming query, and the
    * band-cap and size-gate queries the roadmap names. The list is kept
    * short enough that a traced run, which also dumps every result for the
    * oracle, ends well within its time limit.
    */
  val Listed: Seq[String] = Seq(
    "q_product_catalog", "q_stream_file_ingest", "q_stream_cog_convert",
    "q_agg_pricing", "q_window_rank",
    "q_spatial_join",
    "q_raster_stats", "q_zonal_stats",
    "q_dedup_minhash", "q_textband_recall",
    "q_ann_ivf",
    "q_tfidf", "q_pack_sequences",
    "q_fpband_recall",
    "q_stream_tumbling", "q_stream_stream_join", "q_stream_session")
}

/** The benchmark's own streaming listener: batches run and the summed
  * trigger phase durations Spark reports for them.
  */
final class StreamLayer extends StreamingQueryListener {
  private val durations = mutable.Map.empty[String, Long]
  var batches = 0

  def ms(phase: String): Long = synchronized(durations.getOrElse(phase, 0L))

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val d = e.progress.durationMs
    if (d.containsKey("addBatch")) batches += 1
    d.forEach((k, v) => durations(k) = durations.getOrElse(k, 0L) + v)
  }
}
