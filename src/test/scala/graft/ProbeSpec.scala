package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Harness.{Failure, Phases}
import graft.tools.Probe

/** The pure parts of `Probe ab`: the conf-bundle parse and the ratio
  * rule that keeps a failing arm from reading as a speedup.
  */
class ProbeSpec extends AnyFunSuite {

  test("a=1;b=2@a=3 parses to two bundles") {
    assert(Probe.bundles("a=1;b=2@a=3") == (Seq("a" -> "1", "b" -> "2"), Seq("a" -> "3")))
    // an empty arm is the session's defaults
    assert(Probe.bundles("@k=v") == (Seq.empty, Seq("k" -> "v")))
    assertThrows[IllegalArgumentException](Probe.bundles("a=1"))
  }

  test("an arm with a failed sample yields no ratio") {
    def ok(s: Double): Either[Failure, Phases] = Right(Phases(0.0, 0.0, s))
    // a fast throw whose message is null
    val failed: Either[Failure, Phases] = Left(Failure(new RuntimeException(null: String), 0.001))
    val a = Seq(ok(2.0), ok(1.0), ok(3.0))
    assert(Probe.ratio(a, Seq(ok(1.0), ok(0.5), ok(1.5))) == Some((0.5, 0.5)))
    assert(Probe.ratio(a, Seq(ok(1.0), failed, ok(1.5))).isEmpty)
    assert(Probe.ratio(Seq(failed, ok(1.0), ok(1.0)), a).isEmpty)
    assert(Probe.summary(Seq(ok(1.0), failed)).left.exists(_.seconds == 0.001))
  }
}
