package graft

import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** Pins for Bench's prev-base parsing and the banded-normalized
  * regression rule's inputs (no SparkSession needed).
  *
  * The r12 hole this guards: the driver committed a detail file whose
  * own gate had flagged it `"unadjudicated": true` (load_ratio 3.06,
  * medians ~18% inflated). Bench then adopted it as the regression
  * base — checking only the `sf` field — which would have made real
  * regressions up to the inflation factor invisible on the next run.
  * parsePrevBase must refuse such a file, loudly, in code rather than
  * by docs convention.
  *
  * The r17 extension (VERDICT #1/#4): the base now also carries each
  * query's max-over-passes (its variance band), the CPU-canary median
  * (normalization denominator), and the fs write-canary (sink-heavy
  * environment key) — parsed from the same committed detail file.
  *
  * The replay cases run the pure adjudication over the committed
  * BENCH_DETAIL.json (read from the build's base directory) and the
  * base it was adjudicated against (test resource
  * bench/prev_base.json, the BENCH_DETAIL.json of commit
  * 98521e7^): the verdict must be the one the detail records. A
  * promoted base replaces both files together.
  */
class BenchBaseSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"

  private def detail(unadj: Boolean, sfDir: String = sf): String =
    s"""{"metric":"total","value":127.2,"unit":"sec","unadjudicated":$unadj,""" +
      s""""disp_frac2":0.0000,"queries":{"q_agg_pricing":0.345,"q_tfidf":0.5},""" +
      s""""warm":{"q_agg_pricing":0.999,"q_tfidf":0.999},""" +
      s""""minmax":{"q_agg_pricing":[0.300000,0.412000],"q_tfidf":[0.480000,0.770000]},""" +
      s""""canary_med":0.0148,"fs_canary":0.00210,"sf":"$sfDir"}"""

  test("an adjudicated same-sf detail parses to medians, bands, and canaries") {
    val r = Bench.parsePrevBase(detail(unadj = false), sf)
    assert(r.isRight)
    val b = r.toOption.get
    assert(b.med == Map("q_agg_pricing" -> 0.345, "q_tfidf" -> 0.5))
    assert(b.max == Map("q_agg_pricing" -> 0.412, "q_tfidf" -> 0.77),
      "the band ceiling is the MAX side of each minmax pair")
    assert(b.canaryMed.contains(0.0148))
    assert(b.fsCanary.contains(0.0021))
  }

  test("a pre-r18 detail without minmax/canary fields still yields medians") {
    val legacy =
      s"""{"metric":"total","value":1.0,"unit":"sec","unadjudicated":false,""" +
        s""""queries":{"q_tfidf":0.5},"sf":"$sf"}"""
    val r = Bench.parsePrevBase(legacy, sf)
    assert(r.isRight)
    val b = r.toOption.get
    assert(b.med == Map("q_tfidf" -> 0.5))
    assert(b.max.isEmpty && b.canaryMed.isEmpty && b.fsCanary.isEmpty)
  }

  test("an unadjudicated detail is REFUSED as a regression base") {
    val r = Bench.parsePrevBase(detail(unadj = true), sf)
    assert(r.isLeft)
    assert(r.left.exists(_.contains("unadjudicated")),
      s"the refusal must name the flag so the operator knows why: $r")
  }

  test("the unadjudicated check tolerates whitespace around the colon") {
    val txt = detail(unadj = false)
      .replace("\"unadjudicated\":false", "\"unadjudicated\" : true")
    assert(Bench.parsePrevBase(txt, sf).isLeft)
  }

  test("a detail measured at another sf dir is refused (not like-for-like)") {
    val r = Bench.parsePrevBase(detail(unadj = false, sfDir = "/tmp/sf0.001"), sf)
    assert(r.isLeft)
  }

  test("medians come from the queries object, not the warm map") {
    // both maps share key names; the parse must scope to "queries"
    val r = Bench.parsePrevBase(detail(unadj = false), sf)
    assert(r.exists(_.med("q_agg_pricing") == 0.345))
  }

  test("stage_canary_med parses into the base when present, None when absent") {
    val withStage = detail(unadj = false)
      .replace(""""canary_med":0.0148""", """"canary_med":0.0148,"stage_canary_med":0.4321""")
    assert(Bench.parsePrevBase(withStage, sf).toOption.get
      .stageCanaryMed.contains(0.4321))
    assert(Bench.parsePrevBase(detail(unadj = false), sf).toOption.get
      .stageCanaryMed.isEmpty)
  }

  test("detail writes route to the _LAST sibling; the base is written only " +
      "on explicit adjudicated promotion (VERDICT r18 #2)") {
    // default run: base untouched
    assert(Bench.detailRoutes("BENCH_DETAIL.json", promote = false,
      unadjudicated = false) == ("BENCH_DETAIL_LAST.json", None))
    // explicit promotion of an adjudicated run: base written too
    assert(Bench.detailRoutes("BENCH_DETAIL.json", promote = true,
      unadjudicated = false) ==
      ("BENCH_DETAIL_LAST.json", Some("BENCH_DETAIL.json")))
    // promotion of a load-poisoned run is refused even when asked
    assert(Bench.detailRoutes("BENCH_DETAIL.json", promote = true,
      unadjudicated = true) == ("BENCH_DETAIL_LAST.json", None))
    // per-sf scale details get the same protection
    assert(Bench.detailRoutes("BENCH_DETAIL_graft_sf1x_28234660.json",
      promote = false, unadjudicated = false) ==
      ("BENCH_DETAIL_graft_sf1x_28234660_LAST.json", None))
  }

  test("an unreadable base compares nothing and is logged with its file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_benchbase")
    // a directory where the detail file should be, and a detail whose
    // canary number does not parse
    val asDir = java.nio.file.Files.createDirectory(dir.resolve("BENCH_DETAIL.json"))
    val garbled = dir.resolve("BENCH_DETAIL_SUBSET.json")
    java.nio.file.Files.writeString(garbled,
      detail(unadj = false).replace("0.0148", "0.01.48"))
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val bases =
      try Seq(asDir, garbled).map(f => Bench.readPrevBase(f.toFile, sf))
      finally System.setErr(stderr)
    bases.foreach(b => assert(b.med.isEmpty && b.canaryMed.isEmpty))
    val log = err.toString("UTF-8")
    Seq(asDir, garbled).foreach { f =>
      assert(log.contains(s"PREV BASE UNREADABLE (${f})"), log)
    }
    java.nio.file.Files.delete(garbled)
    java.nio.file.Files.delete(asDir)
    java.nio.file.Files.delete(dir)
  }

  test("the sink-heavy set names only filesystem-writing queries that exist") {
    // every member must be a real query (a typo would silently disable
    // the cross-env routing for the query it meant to protect)
    Bench.SinkHeavy.foreach(k =>
      assert(SparkEntry.queries.contains(k), s"SinkHeavy names unknown query $k"))
  }

  private def recorded: String = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get("BENCH_DETAIL.json")), "UTF-8")

  private def prevBase: String = {
    val src = scala.io.Source.fromResource("bench/prev_base.json", getClass.getClassLoader)
    try src.mkString finally src.close()
  }

  private def committed: Bench.Record = Bench.fromJson(parse(recorded))
  private def base: Bench.Record = Bench.fromJson(parse(prevBase))
  private def replay(cur: Bench.Record): Bench.Verdict = Bench.adjudicate(cur, base)

  private val VerdictKeys = Seq("canary_factor", "stage_factor", "cross_env",
    "regressions", "regressions_cross_env", "regressions_stage_env",
    "regressions_median", "improvements", "n_compared", "disp_frac2", "unadjudicated")

  test("the committed detail replays to its recorded verdict") {
    val cur = committed
    val v = replay(cur)
    assert(v.canaryFactor == 1.0)
    assert(math.abs(v.stageFactor - 1.202) < 5e-4, v.stageFactor)
    assert(v.crossEnv)
    assert(v.nCompared == 295)
    assert(v.regressions.isEmpty && v.regressionsCrossEnv.isEmpty &&
      v.regressionsStageEnv.isEmpty && v.regressionsMedian.isEmpty, v)
    assert(v.improvements.map(_._1).toSet == Set("q_ann_ivf_probe2", "q_ann_rerank",
      "q_approx_distinct", "q_decile_lift", "q_embedding_outliers", "q_fpband_recall_prod",
      "q_graph_bfs", "q_graph_hits", "q_kmv_intersect", "q_pipeline_e2e",
      "q_sample_per_group", "q_stream_anomaly", "q_stream_dedup_cluster",
      "q_stream_file_ingest"))
    assert(v.dispFrac2 == 0.0 && !v.unadjudicated)
    // every verdict field as the writer prints it is the recorded one
    val written = parse(compact(Bench.detailJson(cur, v)))
    VerdictKeys.foreach(k => assert(written \ k == parse(recorded) \ k, k))
    // the summaries recomputed from the detail's own series
    def r(x: Double, scale: Int) =
      BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(Bench.loadIdx(cur.canary)._2, 2) == 1.32)
    assert(r(Bench.loadIdx(cur.ioCanary)._2, 2) == 1.36)
    assert(r(Bench.seriesMed(cur.stageCanary), 4) == 0.4157)
  }

  /** The committed detail with each `mins` query's fastest pass set to
    * read the given seconds after the verdict's normalization, and the
    * fs canary at `fsRatio` × the base's.
    */
  private def withMins(mins: Map[String, Double], fsRatio: Double = 1.0): Bench.Record = {
    val cur = committed
    val norm = replay(cur).stageFactor
    cur.copy(min = cur.min ++ mins.map { case (q, m) => q -> m * norm },
      fsCanary = base.fsCanary.map(_ * fsRatio))
  }

  /** Normalized seconds well above `q`'s band in the base. */
  private def aboveBand(q: String): Double = {
    val b = base
    2 * math.max(b.med(q), b.max(q)) + 0.5
  }

  test("a query whose min is raised above its band is flagged, and only it") {
    // q_sparse_knn (base median 1.40 s, band 2.01 s) moves ≥30% but stays
    // inside its band once the stage factor normalizes it; the CPU factor
    // alone would flag it, so it rides the advisory stage-env list
    val v = replay(withMins(Map("q_agg_pricing" -> aboveBand("q_agg_pricing"),
      "q_sparse_knn" -> 1.95)))
    assert(v.regressions.map(_._1) == Seq("q_agg_pricing"), v)
    assert(v.regressionsStageEnv.map(_._1) == Seq("q_sparse_knn"), v)
    assert(v.regressionsCrossEnv.isEmpty && !v.unadjudicated)
  }

  test("an fs-canary move above 1.5x routes a sink-heavy flag to cross_env") {
    val raised = Map("q_pipeline_e2e" -> aboveBand("q_pipeline_e2e"))
    val same = replay(withMins(raised))
    assert(!same.crossEnv && same.regressions.map(_._1) == Seq("q_pipeline_e2e"), same)
    val moved = replay(withMins(raised, fsRatio = 1.6))
    assert(moved.crossEnv && moved.regressions.isEmpty, moved)
    assert(moved.regressionsCrossEnv.map(_._1) == Seq("q_pipeline_e2e"), moved)
  }

  test("a written detail reads back as its record") {
    val cur = committed
    val back = Bench.fromJson(parse(compact(Bench.detailJson(cur, replay(cur)))))
    assert(back == cur)
  }
}
