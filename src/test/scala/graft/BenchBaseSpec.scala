package graft

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
}
