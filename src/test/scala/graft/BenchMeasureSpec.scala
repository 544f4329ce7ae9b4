package graft

import org.json4s.jackson.JsonMethods.compact

/** Bench's measurement on the shared spec session: each query's timed
  * pass is split into build/plan/exec with its job counts, and the
  * record-only "phases" map leaves the regression base untouched.
  */
class BenchMeasureSpec extends SparkSpecBase {

  private val names = Seq("q_agg_pricing", "q_pipeline_e2e")

  private lazy val measured =
    Bench.measure(spark, sf, names.map(n => n -> SparkEntry.queries(n)), passes = 1)

  test("every query gets a phase split that adds up to its time, and jobs") {
    assert(measured.queries.map(_._1) == names)
    measured.queries.foreach { case (name, q) =>
      assert(q.err.isEmpty, s"$name failed: ${q.err}")
      assert(q.times.size == 1)
      val p = q.split.getOrElse(fail(s"$name has no phase split"))
      assert(p.build >= 0 && p.plan >= 0 && p.exec >= 0, s"$name: $p")
      assert(math.abs(p.total - q.times.head) < 1e-9, s"$name: $p vs ${q.times}")
      assert(p.jobs >= 1, s"$name ran no job: $p")
    }
    // one pass: the CPU/IO canaries at its start and end, the stage and
    // job canaries once at its boundary
    assert(measured.canary.size == 2 && measured.ioCanary.size == 2)
    assert(measured.stageCanary.size == 1 && measured.jobCanary.size == 1)
  }

  test("the phases field does not change the parsed regression base") {
    val base = "/root/testdata/sf0.1"
    val plain =
      s"""{"metric":"total","value":1.0,"unit":"sec","unadjudicated":false,""" +
        s""""queries":{"q_agg_pricing":0.345,"q_pipeline_e2e":1.5},""" +
        s""""minmax":{"q_agg_pricing":[0.300000,0.412000],"q_pipeline_e2e":[1.4,1.9]},""" +
        s""""canary_med":0.0148,"fs_canary":0.00210,"stage_canary_med":0.4321,"sf":"$base"}"""
    val rec = Bench.record(base, 1, measured, fsCanary = 0.0021, metaCanary = 0.01)
    val phases = compact(Bench.detailJson(rec, Bench.adjudicate(rec, rec)) \ "phases")
    assert(phases.contains("\"q_pipeline_e2e\":{\"build\":"), phases)
    val withPhases = plain.replace(""""canary_med"""", s""""phases":$phases,"canary_med"""")
    assert(withPhases != plain)
    val parsed = Bench.parsePrevBase(withPhases, base)
    assert(parsed.map(_.phases.keySet) == Right(names.toSet))
    assert(parsed.map(_.copy(phases = Map.empty)) == Bench.parsePrevBase(plain, base))
  }

  test("the median split is the middle pass, or the mean of the two middle") {
    def s(b: Double, j: Double) = Bench.Split(b, 0.5, 1.0, j, j, j)
    assert(Bench.medianSplit(Seq(s(3, 1), s(1, 2), s(2, 3))) == s(2, 3))
    val even = Bench.medianSplit(Seq(s(1, 1), s(4, 4), s(2, 2), s(3, 3)))
    assert(even == s(2.5, 2.5))
    assert(even.total == Harness.median(Seq(2.5, 5.5, 3.5, 4.5)))
  }
}
